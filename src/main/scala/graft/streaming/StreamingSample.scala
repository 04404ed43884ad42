package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

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
  * Replay convergence (at-least-once foreachBatch): the T15/T17
  * discipline — each batch reads the state of the latest batch_id
  * STRICTLY BELOW its own and overwrites its own partition; a replayed
  * batch re-reads the same predecessor and rewrites an identical
  * partition (spec-pinned fixed point). Top-n union is idempotent
  * (re-adding a row already in the reservoir changes nothing), so the
  * discipline is belt-and-braces here, as in T18/T19.
  *
  * State bound: ≤ n sample rows per batch partition REGARDLESS of
  * stream length — the fixed-size by-mass sample a 100 TB pipeline
  * keeps per corpus slice (eval panels, spot-check queues, seed sets)
  * without ever re-scanning history.
  */
object StreamingSample {

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
  def processBatch(spark: SparkSession, batch: DataFrame,
                   storeDir: String, batchId: Long, n: Int): Unit = {
    val merged = TextOps.aesTopN(
      loadState(spark, storeDir, batchId)
        .unionByName(TextOps.aesKeys(batch))
        .dropDuplicates("doc_id"), n)
    merged.write.mode("overwrite")
      .parquet(s"$storeDir/batch_id=$batchId")
    // the replay fixed point needs only the immediate predecessor
    BatchStore.pruneBefore(spark, storeDir, batchId - 1)
  }

  private def emptyState(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, String, Long, Long)]
      .toDF("doc_id", "source", "toks", "key_micro")
  }

  private def loadState(spark: SparkSession, storeDir: String,
                        batchId: Long): DataFrame =
    BatchStore.latest(spark, storeDir,
      Seq("doc_id", "source", "toks", "key_micro"), Some(batchId))
      .getOrElse(emptyState(spark))

  /** The serving read: the current reservoir, rank order — the same
    * (rank, doc_id, source, toks, key_micro) shape as the batch
    * sample.
    */
  def sample(spark: SparkSession, storeDir: String): DataFrame = {
    import spark.implicits._
    BatchStore.latest(spark, storeDir,
      Seq("rank", "doc_id", "source", "toks", "key_micro"))
      .getOrElse(Seq.empty[(Long, Long, String, Long, Long)]
        .toDF("rank", "doc_id", "source", "toks", "key_micro"))
      .orderBy("rank")
  }

  def start(spark: SparkSession, docs: DataFrame, storeDir: String,
            checkpointDir: String, n: Int): StreamingQuery =
    MicroBatches.start(docs, checkpointDir) { (batch, batchId) =>
      processBatch(spark, batch, storeDir, batchId, n)
    }
}
