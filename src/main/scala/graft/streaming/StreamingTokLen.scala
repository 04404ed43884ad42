package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextOps

/** T24: streaming token-length census — the stateful twin of X75's
  * batch census (`q_tok_len`), watching token GEOMETRY drift live: a
  * crawl whose mean/p95 token length creeps up is ingesting URLs,
  * base64 blobs, or no-space extraction failures RIGHT NOW, and the
  * admission loop wants that alarm per batch, not at the next batch
  * census.
  *
  * Each micro-batch reduces to its (source, len, cnt) census partial
  * via the SAME [[TextOps.tokenLenPartial]] kernel as the batch census
  * (shared code — q_tok_len re-verified post-refactor) and merges into
  * the persisted state by plain integer sum — an exact semilattice, so
  * [[census]] (which feeds the store through the SAME
  * [[TextOps.tokenLenFromCensus]] stage the batch query uses) is
  * BIT-IDENTICAL to the batch census over the concatenated stream
  * (spec-pinned).
  *
  * Replay convergence (at-least-once foreachBatch): sums are not
  * idempotent, so state rides the T15/T17/T23 read-predecessor /
  * overwrite-own discipline (fixed point spec-pinned).
  *
  * State bound: one row per (source, distinct token length) —
  * ≤ sources × max-token-length rows regardless of stream length.
  */
object StreamingTokLen {

  /** One micro-batch of documents-shaped rows. */
  def processBatch(spark: SparkSession, batch: DataFrame,
                   storeDir: String, batchId: Long): Unit = {
    val merged = loadState(spark, storeDir, batchId)
      .unionByName(TextOps.tokenLenPartial(batch))
      .groupBy("source", "len").agg(sum("cnt").as("cnt"))
    merged.write.mode("overwrite")
      .parquet(s"$storeDir/batch_id=$batchId")
  }

  private def emptyState(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long, Long)].toDF("source", "len", "cnt")
  }

  private def loadState(spark: SparkSession, storeDir: String,
                        batchId: Long): DataFrame =
    BatchStore.latest(spark, storeDir, Seq("source", "len", "cnt"),
      Some(batchId)).getOrElse(emptyState(spark))

  /** Current census state (latest batch partition). */
  def state(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.latest(spark, storeDir, Seq("source", "len", "cnt"))
      .getOrElse(emptyState(spark))

  /** The serving census off the store — the EXACT batch shape via the
    * shared statistics stage, so store ≡ [[TextOps.tokenLenCensus]]
    * over the concatenated stream bit-for-bit.
    */
  def census(spark: SparkSession, storeDir: String): DataFrame =
    TextOps.tokenLenFromCensus(state(spark, storeDir))

  def start(spark: SparkSession, docs: DataFrame, storeDir: String,
            checkpointDir: String): StreamingQuery =
    MicroBatches.start(docs, checkpointDir) { (batch, batchId) =>
      processBatch(spark, batch, storeDir, batchId)
    }
}
