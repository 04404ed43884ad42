package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.RelationalQueries

/** T26: streaming mSPRT monitor — the stateful twin of R69's batch
  * always-valid sequential test (q_msprt), and the one experiment
  * statistic whose DEPLOYMENT SHAPE IS a streaming loop: the whole
  * point of an always-valid p-value is that the platform reads it at
  * every peek, so the natural serving form is a store that ingests
  * the event stream and answers "has any arm difference crossed the
  * bar YET" at any moment — not a batch query re-run over the full
  * history each morning.
  *
  * Architecture (the T22/T25 discipline over daily arm censuses):
  *  - each micro-batch reduces to its (event_type, day, six-integer
  *    arm census) relation ([[RelationalQueries.msprtDailyCensus]] —
  *    the SAME kernel the batch query builds) BEFORE anything crosses
  *    the batch boundary, then merges into the persisted census by
  *    plain integer sum — an exact semilattice, so the accumulated
  *    daily census is BIT-IDENTICAL to the batch census over the
  *    concatenated stream regardless of how events split across
  *    batches or how a day's events straddle batch boundaries.
  *  - [[msprt]] rolls the stored census through R69's own statistics
  *    stage ([[RelationalQueries.msprtFromDaily]] — shared code):
  *    cumulative integer windows, the guarded llr tree, the
  *    always-valid running max. Store ≡ batch q_msprt bit-for-bit
  *    UNCONDITIONALLY (spec-pinned).
  *
  * Integer sums are not idempotent: replays converge only through
  * [[BatchStore.fold]].
  *
  * State bound: ≤ event_types × days × 8 columns regardless of
  * stream length — calendar-sized, the smallest state in the family.
  */
object StreamingMsprt {

  private val State = StructType.fromDDL(
    "event_type STRING, day DATE, dn_a BIGINT, dn_b BIGINT, " +
      "dsum_a BIGINT, dsum_b BIGINT, dss_a BIGINT, dss_b BIGINT")

  /** One micro-batch of events rows (event_id, user_id, event_type,
    * ts, value).
    */
  def processBatch(batch: DataFrame, storeDir: String,
                   batchId: Long): Unit =
    BatchStore.fold(batch.sparkSession, storeDir, batchId, State) { prev =>
      prev.unionByName(RelationalQueries.msprtDailyCensus(batch))
        .groupBy("event_type", "day")
        .agg(sum("dn_a").as("dn_a"), sum("dn_b").as("dn_b"),
          sum("dsum_a").as("dsum_a"), sum("dsum_b").as("dsum_b"),
          sum("dss_a").as("dss_a"), sum("dss_b").as("dss_b"))
    }

  /** The stored (event_type, day, six-integer) daily census (latest
    * batch).
    */
  def dailyCensus(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.current(spark, storeDir, State)

  /** The serving read: the always-valid sequential readout over the
    * accumulated census — R69's own rollup (same columns as q_msprt:
    * event_type, day, cn_a, cn_b, csum_a, csum_b, llr_micro,
    * lp_day_micro, lp_micro, crossed).
    */
  def msprt(spark: SparkSession, storeDir: String): DataFrame =
    RelationalQueries.msprtFromDaily(dailyCensus(spark, storeDir))
}
