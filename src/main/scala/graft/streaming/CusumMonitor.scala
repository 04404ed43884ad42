package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

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
  * Replay convergence (at-least-once foreachBatch): each batch's row
  * lands OVERWRITE in its own batch_id partition (the DriftMonitor
  * discipline), and the state it reads is the latest row with a
  * SMALLER batch_id — a replayed batch re-reads the same predecessor
  * state and rewrites an identical row.
  *
  * Scale: the monitor relation is one row per micro-batch; the batch
  * side contributes a single partial-agg'd count — nothing scans
  * history except the bounded monitor directory.
  */
object CusumMonitor {

  /** One batch: read predecessor state, fold in this batch's count,
    * write this batch's monitor row.
    */
  def processBatch(spark: SparkSession, batch: DataFrame,
                   monitorDir: String, batchId: Long, mu0: Long,
                   slack: Long, threshold: Long): Unit = {
    val prev = loadState(spark, monitorDir, batchId)
    val n = batch.agg(count(lit(1)).as("n"))
    val row = n.crossJoin(broadcast(prev))
      .select(lit(batchId).as("batch_id"), col("n"),
        greatest(lit(0L),
          col("s_pos") + (col("n") - lit(mu0) - lit(slack)))
          .as("s_pos"),
        greatest(lit(0L),
          col("s_neg") + (lit(mu0) - col("n") - lit(slack)))
          .as("s_neg"))
      .withColumn("alarm",
        col("s_pos") > threshold || col("s_neg") > threshold)
    row.write.mode("overwrite")
      .parquet(s"$monitorDir/batch_id=$batchId")
  }

  /** Latest monitor state strictly BEFORE `batchId` (zeros when none
    * exists) — the read that makes replays converge.
    */
  private def loadState(spark: SparkSession, monitorDir: String,
                        batchId: Long): DataFrame = {
    import spark.implicits._
    val zero = Seq((0L, 0L)).toDF("s_pos", "s_neg")
    // Resolve through the Hadoop FileSystem API, not java.io.File: the
    // monitor directory may live on HDFS/S3/DBFS where a local-File
    // probe always reads false and every batch would silently fold
    // from zero state.
    val path = new org.apache.hadoop.fs.Path(monitorDir)
    val fs = org.apache.hadoop.fs.FileSystem
      .get(path.toUri, spark.sparkContext.hadoopConfiguration)
    val hasRows = fs.exists(path) &&
      fs.listStatus(path).exists(_.getPath.getName.startsWith("batch_id="))
    if (!hasRows) zero
    else {
      val prev = spark.read
        .option("basePath", monitorDir).parquet(monitorDir)
        .filter(col("batch_id") < batchId)
        .orderBy(col("batch_id").desc).limit(1)
        .select("s_pos", "s_neg")
      if (prev.isEmpty) zero else prev
    }
  }

  def start(spark: SparkSession, events: DataFrame, monitorDir: String,
            checkpointDir: String, mu0: Long, slack: Long,
            threshold: Long): StreamingQuery =
    MicroBatches.start(events, checkpointDir) { (batch, batchId) =>
      // Empty batches are folded as n=0, NOT skipped: a rate collapse
      // to zero is the strongest possible down-shift evidence and
      // must advance s_neg. Replay convergence is guaranteed by the
      // per-batch_id overwrite, not by an emptiness guard.
      processBatch(spark, batch, monitorDir, batchId, mu0, slack,
        threshold)
    }
}
