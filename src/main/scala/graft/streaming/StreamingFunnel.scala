package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.RelationalQueries

/** T29: streaming funnel store — the incremental twin of R4's
  * conversion funnel (q_funnel), R57's step intervals and R73's
  * latency quantiles (q_funnel_latency): the numbers a growth
  * dashboard polls all day, answered without replaying full event
  * history per refresh.
  *
  * Architecture (the T28 set-union discipline): funnel statistics are
  * pure functions of the per-user MIN event times under the
  * step-after-step/within-window constraints, and those mins are NOT
  * a per-(user, step) semilattice once sequencing enters — a later
  * batch can reveal an EARLIER step-1 time that re-opens or re-times
  * every later step (min t2 among events AFTER t1 changes when t1
  * moves back), so keeping only running (user, step, min_ts) state
  * would serve wrong answers under reordering. The honest state is
  * the DISTINCT (user_id, event_type, ts) relation restricted to the
  * three funnel steps — the conversion log every funnel product
  * actually stores — merged by set union (idempotent: replays and
  * cross-batch duplicate events both collapse, exactly like the batch
  * kernels' min/count-distinct semantics, which duplicate rows cannot
  * move). Serving rolls the stored relation through R4's/R73's OWN
  * statistics stages ([[RelationalQueries.funnelCensus]] /
  * [[RelationalQueries.funnelLatency]] — shared code), so store ≡
  * batch BIT-FOR-BIT unconditionally, including the reordering case
  * (spec-pinned: a step-2 event arriving before its step-1 event).
  *
  * State bound: distinct funnel-step events — the conversion log's
  * own cardinality (three event types, not the full stream); a
  * deployment retires users whose windows closed beyond dispute via
  * the partition-retention machinery ([[Maintenance]]), the same
  * compaction contract as the other stores.
  */
object StreamingFunnel {

  private val State =
    StructType.fromDDL("user_id BIGINT, event_type STRING, ts TIMESTAMP")

  /** One micro-batch of events-shaped rows (user_id, event_type, ts). */
  def processBatch(batch: DataFrame, storeDir: String,
                   batchId: Long): Unit =
    BatchStore.fold(batch.sparkSession, storeDir, batchId, State) { prev =>
      prev.unionByName(batch
          .filter(col("event_type")
            .isin(RelationalQueries.FunnelSteps: _*))
          .select(col("user_id"), col("event_type"), col("ts"))
          .distinct())
        .distinct()
    }

  /** The stored distinct funnel-step event relation (latest batch). */
  def stepEvents(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.current(spark, storeDir, State)

  /** The serving read: R4's funnel rollup (same columns as q_funnel). */
  def funnel(spark: SparkSession, storeDir: String): DataFrame =
    RelationalQueries.funnelCensus(stepEvents(spark, storeDir))

  /** The serving read: R73's step-latency quantiles (same columns as
    * q_funnel_latency).
    */
  def funnelLatency(spark: SparkSession, storeDir: String): DataFrame =
    RelationalQueries.funnelLatency(stepEvents(spark, storeDir))
}
