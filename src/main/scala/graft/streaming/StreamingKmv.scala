package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.SketchQueries

/** T19: streaming KMV (bottom-k) distinct-count sketch — the stateful
  * twin of X49's batch census (q_kmv): each micro-batch reduces to its
  * per-source distinct 5-gram hashes (the [[SketchQueries.kmvHashes]]
  * universe, shared with the batch census), unions with the persisted
  * bottom-k state, and re-takes the k smallest per source — union +
  * re-take is an EXACT semilattice (the X64/T13 bottom-k property), so
  * the stored state is BIT-IDENTICAL to the batch bottom-k over the
  * concatenated stream (spec-pinned), and the serving estimates match
  * [[SketchQueries.kmvCensus]]'s (source, est) columns exactly.
  *
  * Like T18's OR, bottom-k union is idempotent.
  *
  * State bound: ≤ k = 64 hash rows per source per batch partition
  * REGARDLESS of stream length (Beyer et al., SIGMOD 2007) — the
  * number a 100 TB pipeline keeps per corpus slice to answer "how
  * many distinct shingles has this source contributed so far"
  * without ever holding the distinct set.
  */
object StreamingKmv {

  private val State = StructType.fromDDL("source STRING, h BIGINT")

  /** One micro-batch of (doc_id, text, source) rows. */
  def processBatch(batch: DataFrame, storeDir: String,
                   batchId: Long): Unit =
    BatchStore.fold(batch.sparkSession, storeDir, batchId, State) { prev =>
      SketchQueries.kmvBottomK(
        prev.unionByName(SketchQueries.kmvHashes(batch)))
    }

  /** The serving read: the current bottom-k state as (source, h). */
  def state(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.current(spark, storeDir, State).orderBy("source", "h")

  /** Per-source distinct-count estimates off the current state —
    * exact below k, the (k−1)·2⁶⁰/kth estimator at k, matching the
    * batch census branch for branch.
    */
  def estimates(spark: SparkSession, storeDir: String): DataFrame =
    SketchQueries.kmvEstimates(state(spark, storeDir))
}
