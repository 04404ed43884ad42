package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.SketchQueries

/** T18: streaming Bloom filter — the stateful twin of X41's batch
  * filter (q_bloom), maintained over every document key the stream
  * has admitted: each micro-batch collapses to its own ≤ 32-word bit
  * partial BEFORE anything crosses the batch boundary (the
  * [[SketchQueries.bloomWordsOf]] kernel, shared with the batch
  * build), then merges into the persisted filter by word-wise
  * `bit_or` — bitwise OR is an IDEMPOTENT semilattice, the only
  * member of the sketch family where even re-adding rows cannot
  * change state, so the merged filter is BIT-IDENTICAL to the batch
  * filter over the concatenated stream (spec-pinned, the T13/T17
  * protocol).
  *
  * State bound: ≤ BloomBits/32 = 32 counter words per batch partition
  * REGARDLESS of stream length — the mergeable-summary property. The
  * serving probe ([[claims]]) is the deployment admission gate: "have
  * I seen this exact text before" with the filter's one-sided error
  * (no false negatives — spec-pinned — and a measured FP rate the
  * batch q_bloom audits).
  */
object StreamingBloom {

  /** sha256 content keys of a (doc_id, text) frame — the same keying
    * as X41 ([[SketchQueries.qBloom]]).
    */
  def keyed(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      sha2(col("text").cast("binary"), 256).as("key"))

  private val State = StructType.fromDDL("w BIGINT, word BIGINT")

  /** One micro-batch of (doc_id, text) rows. */
  def processBatch(batch: DataFrame, storeDir: String,
                   batchId: Long): Unit =
    BatchStore.fold(batch.sparkSession, storeDir, batchId, State) { prev =>
      prev.unionByName(SketchQueries.bloomWordsOf(keyed(batch).select("key")))
        .groupBy("w").agg(bit_or(col("word")).as("word"))
    }

  /** The serving read: the current filter (latest batch partition) as
    * (w, word) rows; empty when the store has no batches yet.
    */
  def words(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.current(spark, storeDir, State).orderBy("w")

  /** Membership claims for a (doc_id, text) frame against the current
    * filter — the [[SketchQueries.bloomProbe]] kernel over a ≤ 32-row
    * broadcast, i.e. the deployment admission gate.
    */
  def claims(spark: SparkSession, storeDir: String,
             docs: DataFrame): DataFrame =
    SketchQueries.bloomProbe(words(spark, storeDir), keyed(docs))
      .select("doc_id", "claimed").orderBy("doc_id")
}
