package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Materialize, SketchQueries}

/** Persisted mergeable quantile sketch — the X64 bottom-k sample as a
  * serving relation: per event_type, the k rows with the smallest
  * md5(event_id), bucketed by `event_type`. Because bottom-k by a fixed
  * hash is a semilattice (bottomK(A ∪ B) = bottomK(bottomK(A) ∪
  * bottomK(B))), merging a micro-batch's sample into the store is
  * EXACT: after any number of merges the store is bit-identical to the
  * direct sketch over the concatenated input — the property the
  * streaming twin's spec pins (KLL's randomized compactor cannot).
  *
  * Scale: the store is capacity-bounded (≤ k rows per group regardless
  * of stream length), so every merge rewrites a tiny bucketed table;
  * the batch side arrives pre-collapsed to its own ≤ k-row sample.
  */
object QuantileStore {

  private val layout = Bucketed.Layout("event_type", "h")

  /** Sample schema: (event_type, cents, h, event_id). */
  def save(sample: DataFrame, table: String): Unit =
    Bucketed.write(sample, table, layout, "overwrite")

  def load(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Merge a micro-batch's sample: union, dedup (at-least-once replay
    * re-delivers identical rows — distinct makes the merge a fixed
    * point), re-take bottom-k, overwrite. `localCheckpoint` severs the
    * merged relation's lineage from the table it is about to
    * overwrite (the PhashStore ordering contract).
    */
  def merge(spark: SparkSession, batchSample: DataFrame,
            table: String): Unit = {
    val merged = SketchQueries
      .qsBottomK(load(spark, table).unionByName(batchSample).distinct())
      .transform(Materialize.shared)
    save(merged, table)
  }

  /** The serving read: type-1 quantile estimates off the stored
    * sample (the X64 estimator, shared code).
    */
  def estimates(spark: SparkSession, table: String): DataFrame =
    SketchQueries.qsEstimates(load(spark, table))
}
