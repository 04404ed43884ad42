package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.RelationalQueries

/** T28: streaming sample-ratio-mismatch monitor — the incremental twin
  * of R66's batch SRM check (q_srm), the FIRST guardrail every live
  * experiment platform runs continuously: a traffic split that drifts
  * off its intended ratio (broken bucketing, a crashing variant, bot
  * filtering hitting one arm) invalidates every downstream metric, and
  * it must fire DURING the experiment, not at read-out: the store
  * answers after every micro-batch.
  *
  * Architecture (the T22/T25/T26 store discipline): the state is the
  * DISTINCT (event_type, user_id) exposure relation — SRM counts
  * users, not events, so the semilattice here is set union (each
  * micro-batch's distinct pairs union-distinct into the store), which
  * makes the store trivially idempotent under replay AND exact across
  * batch boundaries: a user seen in batches 0 and 7 counts once, the
  * same as batch q_srm's distinct() over the concatenated stream.
  * The serving read rolls the stored relation through R66's own
  * statistics stage ([[RelationalQueries.srmFromUsers]] — shared
  * code), so store ≡ batch BIT-FOR-BIT unconditionally (spec-pinned).
  *
  * State bound: the exposure relation is distinct-users ×
  * their event types — the same cardinality every experiment
  * platform's assignment table carries (exposure logging IS this
  * relation); it grows with the experiment's reach, never with event
  * volume. At 100 TB/day event volume the per-batch reduction to
  * distinct pairs happens BEFORE the store merge (batch-local
  * distinct), so the merge job is assignment-table-sized; a
  * deployment wanting bounded state swaps the exact relation for the
  * T20/T21 sketch stores (HLL/KMV per (event_type, arm)) at the
  * documented estimate-error cost — the exact form is kept here
  * because SRM's chi² reads COUNTS, and the alarm must not flap on
  * sketch noise at the decision boundary.
  */
object StreamingSrm {

  private val State = StructType.fromDDL("event_type STRING, user_id BIGINT")

  /** One micro-batch of events-shaped rows (event_type, user_id). */
  def processBatch(batch: DataFrame, storeDir: String,
                   batchId: Long): Unit =
    BatchStore.fold(batch.sparkSession, storeDir, batchId, State) { prev =>
      prev.unionByName(batch.select(col("event_type"), col("user_id"))
          .distinct())
        .distinct()
    }

  /** The stored distinct (event_type, user_id) exposure relation
    * (latest batch).
    */
  def users(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.current(spark, storeDir, State)

  /** The serving read: the SRM check over the accumulated exposure
    * relation — R66's own rollup (same columns as q_srm: event_type,
    * n_a, n_b, chi2_micro, srm_alarm).
    */
  def srm(spark: SparkSession, storeDir: String): DataFrame =
    RelationalQueries.srmFromUsers(users(spark, storeDir))
}
