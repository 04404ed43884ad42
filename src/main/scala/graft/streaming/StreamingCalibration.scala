package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  * State bound: ≤ distinct score values (micro-quantized, heavily
  * collided) — far smaller than the corpus; serving is census
  * arithmetic into 10 rows.
  */
object StreamingCalibration {

  private val State = StructType.fromDDL("v BIGINT, cnt BIGINT, n_pass BIGINT")

  /** One micro-batch of (doc_id, text, ...) rows. */
  def processBatch(batch: DataFrame, storeDir: String, batchId: Long,
                   minTok: Long, maxTok: Long, ttrMinMicro: Long,
                   topMaxMicro: Long, minStops: Long): Unit =
    BatchStore.fold(batch.sparkSession, storeDir, batchId, State) { prev =>
      prev.unionByName(TextOps.scoreCensus(batch, minTok, maxTok,
          ttrMinMicro, topMaxMicro, minStops))
        .groupBy("v")
        .agg(sum("cnt").as("cnt"), sum("n_pass").as("n_pass"))
    }

  /** The stored (v, cnt, n_pass) census (latest batch). */
  def census(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.current(spark, storeDir, State)

  /** The serving read: the calibration table over the accumulated
    * census — X76's own rollup (same columns as q_score_calibration).
    */
  def calibration(spark: SparkSession, storeDir: String): DataFrame =
    TextOps.calibrationFromCensus(census(spark, storeDir))
}
