package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.Sbs1

/** Structured Streaming ingest: the reference's entire Python hot loop
  * (dump1090-postgres.py:160-244) re-expressed as a declarative stream.
  *
  *   sbs1 source → SBS-1 parse kernel → watermarked dedup →
  *   date-partitioned Parquet sink
  *
  * Mapping to the reference, piece by piece (SURVEY.md §2.1/§2.7):
  *  - S1/S2: the custom `sbs1` source ([[graft.sources.Sbs1SourceProvider]])
  *    delivers newline-delimited UTF-8 lines — including correct handling
  *    of records torn across recv() buffers, which the reference drops
  *    (§2.9.2).
  *  - S4/T1: `current_timestamp()` beside the parse kernel stamps each
  *    micro-batch once — same granularity semantics as the reference's
  *    one `datetime.now()` per recv batch.
  *  - T5: the PK `(transmission_type, parsed_time, hex_ident)` becomes
  *    `dropDuplicates` on those columns; the watermark bounds the dedup
  *    state store (the reference instead crashes on PK violation, §2.9.3).
  *  - S7: the sink is append-only columnar Parquet partitioned by ingest
  *    date — the BRIN-index time-pruning intent (create_schema.sql:141)
  *    becomes partition pruning + row-group min/max skipping. A JDBC
  *    parity sink is [[startJdbc]]; a bucketed catalog sink is
  *    [[startBucketed]].
  *  - T6: the reference's dial-retry policy (10 attempts × 5 s,
  *    Dockerfile:17-18) lives inside the `sbs1` source: it re-dials
  *    across peer disconnects while the query keeps running, and fails
  *    the query once the budget is exhausted.
  *
  * Parallelism: the source splits each micro-batch into one contiguous
  * input partition per core, so parse and the dedup map side run on
  * every core; the dedup is then one shuffle on the PK columns (state
  * partitioned the same way), and the sink writes one file per shuffle
  * partition per batch and date.
  */
object Ingest {

  /** Env-var defaults mirror the reference's Dockerfile:7-18 contract. */
  case class Config(
      host: String = sys.env.getOrElse("DUMP1090_HOST", "localhost"),
      port: Int = sys.env.getOrElse("DUMP1090_PORT", "30003").toInt,
      sinkDir: String,
      checkpointDir: String,
      connectAttemptLimit: Int =
        sys.env.getOrElse("CONNECT_ATTEMPT_LIMIT", "10").toInt,
      connectAttemptDelayMs: Long =
        (sys.env.getOrElse("CONNECT_ATTEMPT_DELAY", "5.0").toDouble * 1000).toLong)

  /** The unbounded parsed stream (23-column ADS-B frame), read through
    * the custom DSv2 source ([[graft.sources.Sbs1SourceProvider]]) so the
    * reference's dial-retry policy lives *inside* the source — a peer
    * disconnect does not fail the query.
    */
  def stream(spark: SparkSession, cfg: Config): DataFrame =
    Sbs1.parse(
      spark.readStream.format("sbs1")
        .option("host", cfg.host).option("port", cfg.port)
        .option("connectAttemptLimit", cfg.connectAttemptLimit)
        .option("connectAttemptDelayMs", cfg.connectAttemptDelayMs)
        .load())

  /** PK-intent dedup with bounded state. `parsed_time` is processing
    * time (monotone per micro-batch), so the ten-minute watermark only
    * ever evicts state that can no longer collide.
    */
  def deduped(parsed: DataFrame): DataFrame =
    parsed.withWatermark("parsed_time", "10 minutes")
      .dropDuplicates("transmission_type", "parsed_time", "hex_ident")

  /** Start the ingest query (non-blocking). */
  def start(spark: SparkSession, cfg: Config): StreamingQuery =
    sink(deduped(stream(spark, cfg)), cfg,
      Trigger.ProcessingTime("1 second"))

  /** Archive backfill: stream SBS-1 line files (plain or compressed)
    * through the same parse/dedup/sink pipeline with an AvailableNow
    * trigger — process everything present, then stop. Restarting with
    * the same checkpoint after new files land resumes exactly-once
    * (file-source offsets + idempotent parquet commits), which is the
    * catch-up/backfill pattern a 100 TB log store needs.
    */
  def backfill(spark: SparkSession, archiveDir: String,
               cfg: Config): StreamingQuery =
    sink(deduped(Sbs1.parse(spark.readStream.text(archiveDir))), cfg,
      Trigger.AvailableNow())

  /** The date-partitioned parquet sink of [[start]] and [[backfill]]. */
  private def sink(rows: DataFrame, cfg: Config,
                   trigger: Trigger): StreamingQuery =
    rows.withColumn("ingest_date", to_date(col("parsed_time")))
      .writeStream.format("parquet")
      .option("path", cfg.sinkDir)
      .option("checkpointLocation", cfg.checkpointDir)
      .partitionBy("ingest_date")
      .trigger(trigger)
      .start()

  /** Bucketed analytical sink — the third S7 sink shape beside the
    * date-partitioned parquet sink and the JDBC parity sink: each
    * micro-batch appends into [[graft.sources.AdsbStore]]'s
    * `bucketBy(hex_ident)` catalog layout, so the serving views (the
    * flights plan above all) stay EXCHANGE-FREE over a store that
    * grows one batch at a time. Dedup happens upstream of the sink
    * (same as the parquet path), and periodic per-bucket compaction is
    * [[graft.sources.Bucketed.compact]].
    *
    * NOT replay-safe: the sink is a plain append, so a crash-replayed
    * batch appends its rows a second time to the raw table, and so to
    * every `locations` read of it (only the `flights` DISTINCT hides
    * them). ROADMAP direction 2 makes this sink exactly-once.
    */
  def startBucketed(spark: SparkSession, cfg: Config,
                    table: String): StreamingQuery =
    MicroBatches.start(deduped(stream(spark, cfg)), cfg.checkpointDir) {
      (df, _) => graft.sources.AdsbStore.append(df, table)
    }

  /** JDBC parity sink (S7): the reference's row-at-a-time PostgreSQL
    * INSERT loop becomes one batched, partition-parallel JDBC append
    * per micro-batch — `foreachBatch` + `DataFrameWriter.jdbc`, the
    * documented pattern for exactly-the-reference's-sink semantics
    * (dump1090-postgres.py:110-116, minus the 1-row-per-commit quirk
    * §2.9.1). Works against any JDBC database; integration-tested on
    * embedded Derby (no PostgreSQL in this environment).
    */
  def startJdbc(spark: SparkSession, cfg: Config, url: String,
                table: String,
                props: java.util.Properties = new java.util.Properties())
  : StreamingQuery =
    MicroBatches.start(deduped(stream(spark, cfg)), cfg.checkpointDir) {
      (df, _) => writeJdbcBatch(df, url, table, props)
    }

  /** One micro-batch → JDBC append. JDBC has no TIMESTAMP_NTZ / the
    * reference column is timestamptz, so parsed_time goes back to LTZ.
    */
  def writeJdbcBatch(df: DataFrame, url: String, table: String,
                     props: java.util.Properties): Unit =
    df.withColumn("parsed_time", col("parsed_time").cast("timestamp"))
      .write.mode("append").jdbc(url, table, props)

  /** The exact `Properties` a PostgreSQL deployment passes to
    * [[startJdbc]], mirroring the reference's connection options
    * (dump1090-postgres.py:144-150): its `options='-c search_path=…'`
    * becomes the pgJDBC `currentSchema` parameter and its
    * `application_name` maps 1:1. This environment has no PostgreSQL
    * (the sink is integration-tested on embedded Derby, which ignores
    * unknown properties), so this helper IS the documented deployment
    * contract: `startJdbc(spark, cfg, "jdbc:postgresql://host/db",
    * "dump1090.dump1090", pgProperties(user, pass))`.
    */
  def pgProperties(user: String, password: String,
                   searchPath: String = "dump1090",
                   applicationName: String = "dump1090-db-stream")
  : java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("user", user)
    p.setProperty("password", password)
    p.setProperty("currentSchema", searchPath)
    p.setProperty("ApplicationName", applicationName)
    // append-only firehose: batched inserts, no generated-key fetch
    p.setProperty("reWriteBatchedInserts", "true")
    p
  }
}
