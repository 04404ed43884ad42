package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  * Sums are not idempotent: replays converge only through
  * [[BatchStore.fold]].
  *
  * State bound: one row per (source, distinct token length) —
  * ≤ sources × max-token-length rows regardless of stream length.
  */
object StreamingTokLen {

  private val State =
    StructType.fromDDL("source STRING, len BIGINT, cnt BIGINT")

  /** One micro-batch of documents-shaped rows. */
  def processBatch(batch: DataFrame, storeDir: String,
                   batchId: Long): Unit =
    BatchStore.fold(batch.sparkSession, storeDir, batchId, State) { prev =>
      prev.unionByName(TextOps.tokenLenPartial(batch))
        .groupBy("source", "len").agg(sum("cnt").as("cnt"))
    }

  /** Current census state (latest batch partition). */
  def state(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.current(spark, storeDir, State)

  /** The serving census off the store — the EXACT batch shape via the
    * shared statistics stage, so store ≡ [[TextOps.tokenLenCensus]]
    * over the concatenated stream bit-for-bit.
    */
  def census(spark: SparkSession, storeDir: String): DataFrame =
    TextOps.tokenLenFromCensus(state(spark, storeDir))
}
