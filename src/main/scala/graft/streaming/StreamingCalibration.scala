package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextOps

/** T27: streaming quality-gate calibration — the incremental twin of
  * X76's batch calibration table (q_score_calibration), watching the
  * question an admission loop actually depends on: the scan-time
  * quality gate was CALIBRATED against the rule battery on last
  * month's corpus — is it still calibrated on TODAY'S crawl? A source
  * shift that decouples the cheap score from the battery silently
  * turns the gate into noise, and the batch table only notices at the
  * next full re-run.
  *
  * Architecture (the T25 discipline over score censuses):
  *  - each micro-batch reduces to its (score, cnt, n_pass) census
  *    ([[TextOps.scoreCensus]] — the SAME kernel as the batch query,
  *    X1 score + X28 battery verbatim) BEFORE anything crosses the
  *    batch boundary, then merges into the persisted census by plain
  *    integer sum — an exact semilattice.
  *  - [[calibration]] rolls the stored census through X76's own
  *    statistics stage ([[TextOps.calibrationFromCensus]] — shared
  *    code): decile edges, buckets, the 10-row rollup. The edges are
  *    a pure function of the accumulated census, so store ≡ batch
  *    calibration BIT-FOR-BIT over the concatenated stream
  *    UNCONDITIONALLY (spec-pinned).
  *
  * Replay convergence: the T15/T17/T25 read-predecessor/overwrite-own
  * discipline (spec-pinned fixed point).
  *
  * State bound: ≤ distinct score values (micro-quantized, heavily
  * collided) — far smaller than the corpus; serving is census
  * arithmetic into 10 rows.
  */
object StreamingCalibration {

  /** One micro-batch of (doc_id, text, ...) rows. */
  def processBatch(spark: SparkSession, batch: DataFrame,
                   storeDir: String, batchId: Long, minTok: Long,
                   maxTok: Long, ttrMinMicro: Long, topMaxMicro: Long,
                   minStops: Long): Unit = {
    val merged = loadState(spark, storeDir, batchId)
      .unionByName(TextOps.scoreCensus(batch, minTok, maxTok,
        ttrMinMicro, topMaxMicro, minStops))
      .groupBy("v")
      .agg(sum("cnt").as("cnt"), sum("n_pass").as("n_pass"))
    merged.write.mode("overwrite")
      .parquet(s"$storeDir/batch_id=$batchId")
  }

  private def emptyState(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Long)].toDF("v", "cnt", "n_pass")
  }

  /** The census of the latest batch strictly BEFORE `batchId` (empty
    * when none) — the read that makes replays converge.
    */
  private def loadState(spark: SparkSession, storeDir: String,
                        batchId: Long): DataFrame =
    BatchStore.latest(spark, storeDir, Seq("v", "cnt", "n_pass"),
      Some(batchId)).getOrElse(emptyState(spark))

  /** The stored (v, cnt, n_pass) census (latest batch). */
  def census(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.latest(spark, storeDir, Seq("v", "cnt", "n_pass"))
      .getOrElse(emptyState(spark))

  /** The serving read: the calibration table over the accumulated
    * census — X76's own rollup (same columns as q_score_calibration).
    */
  def calibration(spark: SparkSession, storeDir: String): DataFrame =
    TextOps.calibrationFromCensus(census(spark, storeDir))

  def start(spark: SparkSession, docs: DataFrame, storeDir: String,
            checkpointDir: String, minTok: Long, maxTok: Long,
            ttrMinMicro: Long, topMaxMicro: Long,
            minStops: Long): StreamingQuery =
    MicroBatches.start(docs, checkpointDir) { (batch, batchId) =>
      processBatch(spark, batch, storeDir, batchId, minTok, maxTok,
        ttrMinMicro, topMaxMicro, minStops)
    }
}
