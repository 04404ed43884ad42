package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.TextOps

/** T21: streaming weighted reservoir — the stateful twin of X57's
  * batch weighted sample (q_weighted_sample): each micro-batch reduces
  * to its A-ES keys (the [[TextOps.aesKeys]] kernel, shared with the
  * batch sample), unions with the persisted reservoir, and re-takes
  * the top-n keys — top-n under (key DESC, doc_id) is an EXACT
  * semilattice (the bottom-k property of T13/T19, mirrored), so the
  * stored reservoir is BIT-IDENTICAL to the batch
  * [[TextOps.weightedSample]] over the concatenated stream
  * (spec-pinned), rank column included. This is Efraimidis–Spirakis'
  * own streaming formulation (Inf. Proc. Letters 2006): A-ES IS a
  * weighted reservoir algorithm — the batch query and the store are
  * the same estimator at two cadences.
  *
  * Top-n union is idempotent (re-adding a row already in the reservoir
  * changes nothing), as in T18/T19.
  *
  * State bound: ≤ n sample rows per batch partition REGARDLESS of
  * stream length — the fixed-size by-mass sample a 100 TB pipeline
  * keeps per corpus slice (eval panels, spot-check queues, seed sets)
  * without ever re-scanning history.
  */
object StreamingSample {

  private val State = StructType.fromDDL(
    "rank BIGINT, doc_id BIGINT, source STRING, toks BIGINT, key_micro BIGINT")

  /** One micro-batch of (doc_id, text, source) rows. The union is
    * deduplicated on doc_id before the top-n re-take: A-ES keys are
    * deterministic per doc, so a doc redelivered across DIFFERENT
    * batch ids (source-level at-least-once) collapses to one row and
    * cannot occupy two reservoir slots — the idempotence claim above
    * holds for cross-batch redelivery, not just same-batch-id replay.
    * After a successful write, partitions older than the immediate
    * predecessor are pruned (two kept — the replay fixed point reads
    * the predecessor), so store size and per-trigger listing stay
    * O(n), not O(total batches).
    */
  def processBatch(batch: DataFrame, storeDir: String,
                   batchId: Long, n: Int): Unit = {
    val spark = batch.sparkSession
    BatchStore.fold(spark, storeDir, batchId, State) { prev =>
      TextOps.aesTopN(prev.drop("rank")
        .unionByName(TextOps.aesKeys(batch))
        .dropDuplicates("doc_id"), n)
    }
    // the replay fixed point needs only the immediate predecessor
    BatchStore.pruneBefore(spark, storeDir, batchId - 1)
  }

  /** The serving read: the current reservoir, rank order — the same
    * (rank, doc_id, source, toks, key_micro) shape as the batch
    * sample.
    */
  def sample(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.current(spark, storeDir, State).orderBy("rank")
}
