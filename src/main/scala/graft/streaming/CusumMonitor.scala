package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** T14: streaming volume-level CUSUM monitor — the stateful twin of
  * R38's offline changepoint census and the LEVEL complement to T9's
  * distribution drift (T9 asks "do the values look different?", this
  * asks "did the RATE shift?"): the classic two-sided tabular CUSUM
  * over per-batch event counts, S⁺_t = max(0, S⁺_{t−1} + (n_t − μ₀ −
  * κ)) and S⁻_t = max(0, S⁻_{t−1} + (μ₀ − n_t − κ)), alarming when
  * either side exceeds h — the sequential detector with the provably
  * shortest worst-case detection delay at fixed false-alarm rate
  * (Lorden 1971), which is why rate monitors use CUSUM and not
  * per-batch thresholds (a small sustained shift never trips a
  * threshold but accumulates linearly in S).
  *
  * All state is two integers derived purely from integer counts and
  * integer parameters — no doubles, so every monitor row is exactly
  * reproducible from the batch sizes.
  *
  * The CUSUM recursion is not idempotent: replays converge only
  * through [[BatchStore.fold]].
  *
  * Scale: the monitor relation is one row per micro-batch (each
  * partition holds that batch's row, so the monitor directory read as
  * a whole is the alarm history); the batch side contributes a single
  * partial-agg'd count.
  */
object CusumMonitor {

  private val State = StructType.fromDDL(
    "batch_id BIGINT, n BIGINT, s_pos BIGINT, s_neg BIGINT, alarm BOOLEAN")

  /** One batch: fold this batch's count into the predecessor's sums
    * (zeros before the first row) and write this batch's monitor row.
    * Empty batches are folded as n = 0, not skipped: a rate collapse to
    * zero is the strongest possible down-shift evidence and must
    * advance s_neg. Replay convergence comes from [[BatchStore.fold]],
    * not from an emptiness guard.
    */
  def processBatch(batch: DataFrame, monitorDir: String, batchId: Long,
                   mu0: Long, slack: Long, threshold: Long): Unit =
    BatchStore.fold(batch.sparkSession, monitorDir, batchId, State) { prev =>
      def sum0(c: String) = coalesce(col(c), lit(0L))
      batch.agg(count(lit(1)).as("n"))
        .join(broadcast(prev.select("s_pos", "s_neg")), lit(true), "left")
        .select(lit(batchId).as("batch_id"), col("n"),
          greatest(lit(0L),
            sum0("s_pos") + (col("n") - lit(mu0) - lit(slack)))
            .as("s_pos"),
          greatest(lit(0L),
            sum0("s_neg") + (lit(mu0) - col("n") - lit(slack)))
            .as("s_neg"))
        .withColumn("alarm",
          col("s_pos") > threshold || col("s_neg") > threshold)
    }
}
