package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

import graft.operators.TextOps

/** Persisted winnowing-fingerprint store — the 100 TB deployment shape
  * for the dedup/contamination family.
  *
  * A contamination audit over a training corpus is not a one-off query:
  * the same fingerprint relation serves every (eval set × corpus
  * snapshot) audit, dedup incremental loads, and attribution lookups.
  * Recomputing the winnow scan per audit (what the self-contained
  * [[TextOps.contamination]] does) is the right shape for a demo and the
  * wrong one for a cluster — so this store writes the relation ONCE as a
  * catalog table bucketed by `fingerprint`, and every fingerprint-keyed
  * consumer (the df cap, the cap semi-join, the test⋈train overlap
  * join) then runs without a single Exchange: bucketed scans arrive
  * already hash-partitioned on the join key (same technique
  * StorageLayoutSpec proves for the flights band join).
  *
  * Layout notes for scale: the bucket count is chosen so one bucket's
  * rows fit an executor's shuffle-free sort (buckets are also the
  * parallelism floor — 1024 at 100 TB, declared by creating the table
  * with DDL; see [[Bucketed]]); `sortBy(fingerprint)` makes the overlap
  * join's sort a no-op on the scan side and enables row-group min/max
  * skipping on point fingerprint probes.
  */
object FingerprintStore {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("fingerprint", LongType, nullable = false),
    StructField("split", StringType, nullable = true)))

  private[graft] val layout = Bucketed.Layout("fingerprint", "fingerprint")

  /** Build the (doc_id, fingerprint, split) relation and save it
    * bucketed by fingerprint as catalog table `table`.
    */
  def save(docs: DataFrame, k: Int, w: Int, trainPct: Int, valPct: Int,
           table: String): Unit =
    Bucketed.write(TextOps.winnowedSplit(docs, k, w, trainPct, valPct),
      table, layout, "overwrite")

  /** The stored relation, bucket metadata intact. */
  def load(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Create the table empty if it does not exist — the cold-start path
    * for streaming loops that append from the first batch
    * ([[graft.streaming.IncrementalClusters]]).
    */
  def ensure(spark: SparkSession, table: String): Unit =
    Bucketed.ensure(spark, table, schema, layout)

  /** Contamination audit against the persisted store: identical output
    * to [[TextOps.contamination]] on the same corpus/params (the spec
    * asserts it), but the winnow scan is amortized across audits and
    * the fingerprint-keyed joins are Exchange-free.
    */
  def contamination(spark: SparkSession, table: String, maxDf: Long,
                    ratioMicroMin: Long): DataFrame =
    TextOps.contaminationFrom(load(spark, table), maxDf, ratioMicroMin)

  /** Incremental-load dedup audit: which INCOMING documents (a new
    * crawl shard, typically ≪ the corpus) near-duplicate which STORED
    * documents — the admission check every incremental corpus load runs.
    * `ratio_micro` = shared fingerprints / the incoming doc's
    * fingerprint count.
    *
    * Scale asymmetry is the point: the store side never shuffles (df
    * cap and overlap join ride the fingerprint bucketing); only the
    * small incoming shard's fingerprints are hashed into the store's
    * bucketing — ONE Exchange of the new data, zero of the corpus
    * (pinned in StorageLayoutSpec). The df cap uses the STORE's
    * document frequencies: boilerplate shared across the corpus must
    * not become a hot join key, exactly the D2 discipline.
    *
    * Replay tolerance (the at-least-once admission stream,
    * [[graft.streaming.CorpusAdmission]]): the store is deduplicated on
    * (doc_id, fingerprint) — a no-op on a clean store, where winnowed
    * fingerprints are already distinct per doc, but it keeps a replayed
    * append from inflating df and shared counts — and self-pairs
    * (stored_doc = new_doc) are excluded, so a doc whose own
    * fingerprints were already appended re-audits exactly as it did the
    * first time. The dedup's grouping keys are a superset of the bucket
    * key, so it too runs without an Exchange.
    */
  /** Decontamination admission gate (T30): which INCOMING train
    * candidates contaminate which documents of a PROTECTED eval suite
    * persisted as a fingerprint table — the live twin of the X30 batch
    * decontaminator, run where it actually prevents contamination (at
    * ingest, before the doc ever trains). `ratio_micro` is relative to
    * the EVAL doc's capped fingerprint count and the df cap is over
    * the eval index alone — see [[TextOps.evalGatePairs]] for why both
    * choices make the gate's verdicts time-invariant (stream ≡ batch
    * bit-for-bit over any batch order/replay, unconditionally).
    *
    * The store is deduplicated on (doc_id, fingerprint) — replay
    * tolerance, dedup keys ⊇ bucket key so no Exchange — and the df
    * cap / overlap join ride the fingerprint bucketing; only the
    * incoming shard's fingerprints are hashed in.
    */
  def auditAgainstEval(spark: SparkSession, table: String,
                       newDocs: DataFrame, k: Int, w: Int, maxDf: Long,
                       ratioMicroMin: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val ev = load(spark, table)
      .dropDuplicates("doc_id", "fingerprint")
      .select(col("doc_id").as("eval_doc"), col("fingerprint"))
    val inc = TextOps.winnowFingerprints(newDocs, k, w)
      .select(col("doc_id").as("new_doc"), col("fingerprint"))
    TextOps.evalGatePairs(inc, ev, maxDf, ratioMicroMin)
  }

  def auditIncoming(spark: SparkSession, table: String,
                    newDocs: DataFrame, k: Int, w: Int, maxDf: Long,
                    ratioMicroMin: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.functions.Hashing.micro
    val store = load(spark, table)
      .dropDuplicates("doc_id", "fingerprint")
      .select("doc_id", "fingerprint")
    val keep = store.groupBy("fingerprint").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fingerprint")
    val inc = TextOps.winnowFingerprints(newDocs, k, w)
      .select(col("doc_id").as("new_doc"), col("fingerprint"))
    val nf = inc.groupBy("new_doc").agg(count(lit(1)).as("n_fp"))
    val ov = inc
      .join(keep, "fingerprint")
      .join(store.select(col("fingerprint"),
        col("doc_id").as("stored_doc")), "fingerprint")
      .filter(col("stored_doc") =!= col("new_doc"))
      .groupBy("new_doc", "stored_doc")
      .agg(count(lit(1)).as("shared_fps"))
    ov.join(nf, "new_doc")
      .withColumn("ratio_micro", micro(col("shared_fps") / col("n_fp")))
      .filter(col("ratio_micro") >= ratioMicroMin)
      .select("new_doc", "stored_doc", "shared_fps", "ratio_micro")
  }
}
