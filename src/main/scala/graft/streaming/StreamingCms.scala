package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Hashing
import graft.functions.Hashing.md5Long
import graft.operators.SketchQueries.{Depth, Width}

/** T17: streaming count-min sketch — the stateful twin of X5's batch
  * CMS (q_cms), completing the streaming side of the sketch family
  * (T13 quantiles, T15 heavy hitters, T16 k-center): each micro-batch
  * collapses to its own d×w counter partial BEFORE anything crosses
  * the batch boundary, then merges into the persisted sketch by
  * elementwise sum — the simplest semilattice in the family (counter
  * matrices under +), so the merged sketch is BIT-IDENTICAL to the
  * batch sketch over the concatenated stream (spec-pinned, the T13
  * protocol), not merely within the CMS error bound.
  *
  * Cell-wise sum is NOT idempotent: replays converge only through
  * [[BatchStore.fold]].
  *
  * State bound: ≤ d·w counter rows per batch partition REGARDLESS of
  * stream length or key cardinality — the mergeable-summary property
  * (Cormode & Muthukrishnan 2005; Agarwal et al., PODS 2012).
  */
object StreamingCms {

  private val p = Hashing.MinhashP

  /** The d×w counter partial of one (user_id-bearing) frame as
    * (j, bucket, c) rows — the same hash rows as X5's batch sketch
    * ([[graft.operators.SketchQueries.qCms]]), so streamed-vs-batch
    * parity is exact. Also the batch-side comparator in the spec.
    */
  def counters(ev: DataFrame): DataFrame = {
    val hashed = ev.select(
      (md5Long(col("user_id").cast("string")) % p).as("h"))
    (0 until Depth).map { j =>
      val (a, b) = Hashing.MinhashSeeds(j)
      hashed.groupBy(((lit(a) * col("h") + lit(b)) % p % Width)
          .as("bucket"))
        .agg(count(lit(1)).as("c"))
        .select(lit(j).as("j"), col("bucket"), col("c"))
    }.reduce(_ unionByName _)
  }

  private val State = StructType.fromDDL("j INT, bucket BIGINT, c BIGINT")

  /** One micro-batch of events-shaped rows (anything with user_id). */
  def processBatch(batch: DataFrame, storeDir: String,
                   batchId: Long): Unit =
    BatchStore.fold(batch.sparkSession, storeDir, batchId, State) { prev =>
      prev.unionByName(counters(batch))
        .groupBy("j", "bucket").agg(sum("c").as("c"))
    }

  /** The serving read: the current sketch (latest batch partition) as
    * (j, bucket, c) rows; empty when the store has no batches yet.
    */
  def sketch(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.current(spark, storeDir, State).orderBy("j", "bucket")

  /** Point estimate for a set of keys against the current sketch —
    * min over the d rows of each key's bucket counters (missing
    * buckets read 0). `keys` is a (user_id) frame; the sketch is a
    * ≤ d·w-row broadcast, so this is one join-free-shaped probe pass.
    */
  def estimate(spark: SparkSession, storeDir: String,
               keys: DataFrame): DataFrame = {
    val sk = sketch(spark, storeDir)
    val hashed = keys.select(col("user_id"),
      (md5Long(col("user_id").cast("string")) % p).as("h"))
    val probed = (0 until Depth).foldLeft(hashed) { (acc, j) =>
      val (a, b) = Hashing.MinhashSeeds(j)
      acc.withColumn(s"bucket$j", (lit(a) * col("h") + lit(b)) % p % Width)
        .join(broadcast(sk.filter(col("j") === j)
          .select(col("bucket").as(s"bucket$j"), col("c").as(s"c$j"))),
          Seq(s"bucket$j"), "left")
        .withColumn(s"c$j", coalesce(col(s"c$j"), lit(0L)))
    }
    probed.select(col("user_id"),
        least((0 until Depth).map(j => col(s"c$j")): _*).as("cms_est"))
      .orderBy("user_id")
  }
}
