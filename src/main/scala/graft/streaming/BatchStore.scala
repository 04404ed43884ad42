package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Batch-versioned parquet stores: the one module that knows their
  * layout and their replay protocol. Every incremental store of this
  * package ([[StreamingMsprt]], [[StreamingHeavyHitters]],
  * [[CusumMonitor]], ...) folds its state through [[fold]] and serves
  * it through [[current]].
  *
  * Layout: `storeDir/batch_id=<id>/` parquet partitions, each a complete
  * snapshot of the store's state after micro-batch `<id>`. The current
  * state is the rows of the largest batch id that holds rows; older
  * partitions are replay history ([[pruneBefore]] trims them). The
  * partition column infers as INT, so it is cast to long before any
  * comparison.
  *
  * Replay contract. `foreachBatch` is at-least-once, and most merges
  * (sums, Misra-Gries, CUSUM) are not idempotent, so a store must never
  * fold a batch into state that already holds it. [[fold]] therefore
  * reads the latest non-empty batch STRICTLY BELOW its own id and
  * overwrites its own partition: a replayed batch re-reads the same
  * predecessor and rewrites an identical partition, a fixed point. A
  * partition with zero rows is invisible to both reads (an empty merge
  * result leaves the predecessor's state standing), and a store with no
  * partitions reads as the empty frame of its declared state schema.
  */
object BatchStore {

  /** One step of the store's state: `step` gets the predecessor state
    * (the latest non-empty batch below `batchId`, or an empty frame of
    * `state`) and returns the new state, whose `state` columns overwrite
    * `storeDir/batch_id=<batchId>`.
    */
  def fold(spark: SparkSession, storeDir: String, batchId: Long,
           state: StructType)(step: DataFrame => DataFrame): Unit = {
    val prev = latest(spark, storeDir, state.fieldNames.toSeq,
      Some(batchId)).getOrElse(empty(spark, state))
    overwrite(step(prev).select(state.fieldNames.map(col).toSeq: _*),
      storeDir, batchId)
  }

  /** The serving read: the store's current state, projected to `state`;
    * the empty frame of `state` when the store has no rows yet.
    */
  def current(spark: SparkSession, storeDir: String,
              state: StructType): DataFrame =
    latest(spark, storeDir, state.fieldNames.toSeq)
      .getOrElse(empty(spark, state))

  /** Write `rows` as batch `batchId`'s partition, replacing any earlier
    * write of the same batch.
    */
  def overwrite(rows: DataFrame, storeDir: String, batchId: Long): Unit =
    rows.write.mode("overwrite").parquet(s"$storeDir/batch_id=$batchId")

  /** True iff the store directory holds ≥1 `batch_id=` partition. */
  def hasBatches(spark: SparkSession, storeDir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(storeDir)
    val fs = org.apache.hadoop.fs.FileSystem
      .get(path.toUri, spark.sparkContext.hadoopConfiguration)
    fs.exists(path) &&
      fs.listStatus(path).exists(_.getPath.getName.startsWith("batch_id="))
  }

  /** Delete batch_id partitions strictly below `keepFrom`. Each batch
    * writes a full snapshot, so an untrimmed store grows O(batches ×
    * state); a replay reads only the immediate predecessor, so
    * `batchId − 1` is the tightest safe bound. Returns the number of
    * partitions deleted.
    */
  def pruneBefore(spark: SparkSession, storeDir: String,
                  keepFrom: Long): Int = {
    val path = new org.apache.hadoop.fs.Path(storeDir)
    val fs = org.apache.hadoop.fs.FileSystem
      .get(path.toUri, spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) 0
    else fs.listStatus(path).count { st =>
      val nm = st.getPath.getName
      nm.startsWith("batch_id=") &&
        scala.util.Try(nm.stripPrefix("batch_id=").toLong)
          .toOption.exists(_ < keepFrom) &&
        fs.delete(st.getPath, true)
    }
  }

  /** Rows of the latest non-empty batch (strictly below `maxExclusive`
    * when given), projected to `cols`; None when the store has no
    * partitions or every qualifying partition is empty.
    */
  def latest(spark: SparkSession, storeDir: String, cols: Seq[String],
             maxExclusive: Option[Long] = None): Option[DataFrame] = {
    if (!hasBatches(spark, storeDir)) None
    else {
      val read = spark.read.option("basePath", storeDir).parquet(storeDir)
        .withColumn("batch_id", col("batch_id").cast("long"))
      val all = maxExclusive.fold(read)(b => read.filter(col("batch_id") < b))
      val latest = all.agg(max("batch_id")).head()
      if (latest.isNullAt(0)) None
      else Some(all.filter(col("batch_id") === latest.getLong(0))
        .select(cols.map(col): _*))
    }
  }

  private def empty(spark: SparkSession, state: StructType): DataFrame =
    spark.createDataFrame(java.util.List.of[Row](), state)
}
