package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{SketchQueries, TextOps}

/** T15: streaming heavy hitters — the stateful twin of the X66
  * Misra-Gries sketch (q_heavy), completing the streaming side of the
  * sketch family (T13 did quantiles): each micro-batch's token census
  * collapses to its own ≤ k-counter MG summary BEFORE anything crosses
  * the batch boundary, then merges into the persisted summary with the
  * same [[SketchQueries.mgStep]] used offline (sum counters, subtract
  * the rank-(k+1) value, keep positive). The mergeable-summaries
  * theorem (Agarwal et al., PODS 2012) holds for ANY merge tree, so
  * the streamed summary keeps the full MG guarantee against the whole
  * stream: err ≤ N_total/(k+1), and every token with total frequency
  * above that bound survives — the accumulation a per-batch top-k
  * cannot provide (a token that is light in every batch but heavy
  * across them never tops any single batch).
  *
  * MG merge is NOT idempotent (re-merging the same summary
  * double-counts): replays converge only through [[BatchStore.fold]].
  *
  * State bound: ≤ k counter rows per batch partition REGARDLESS of
  * stream length or vocabulary — the mergeable-summary property.
  */
object StreamingHeavyHitters {

  private val State = StructType.fromDDL("token STRING, c BIGINT")

  /** One micro-batch of documents-shaped rows (doc_id, text). */
  def processBatch(batch: DataFrame, storeDir: String,
                   batchId: Long): Unit = {
    val bcen = batch
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .withColumn("bucket", lit(0L))
    val bsum = SketchQueries.mgStep(bcen, col("bucket"))
    BatchStore.fold(batch.sparkSession, storeDir, batchId, State) { prev =>
      SketchQueries.mgStep(
        prev.withColumn("bucket", lit(0L))
          .unionByName(bsum.select("bucket", "token", "c"))
          .groupBy("bucket", "token").agg(sum("c").as("c")),
        col("bucket"))
    }
  }

  /** The serving read: the current summary (latest batch partition),
    * heaviest counters first; an empty (token, c) frame when the store
    * has no batch partitions yet.
    */
  def summary(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.current(spark, storeDir, State)
      .orderBy(col("c").desc, col("token"))
}
