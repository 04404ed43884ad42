package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.SketchQueries
import graft.operators.SketchQueries.HllM

/** T20: streaming HyperLogLog — the stateful twin of X18's
  * approx-distinct rollup (q_hll), built on the EXPLICIT register
  * relation [[SketchQueries.hllRegistersOf]] (md5 bucket + leading-
  * zero rank) rather than the engine-internal sketch, precisely so
  * the store has a testable bit-exact identity: each micro-batch
  * collapses to its own ≤ m = 256 (bucket, rho) partial, then merges
  * into the persisted registers by element-wise MAX — max is an
  * idempotent semilattice (Flajolet et al. 2007), so the merged
  * register file is BIT-IDENTICAL to the batch registers over the
  * concatenated stream (spec-pinned, the T13/T17 protocol). This
  * closes the sketch family's streaming side: quantiles (T13), heavy
  * hitters (T15), CMS (T17), Bloom (T18), KMV (T19), HLL (T20) —
  * every mergeable summary in SURVEY §2.10 now has an incremental
  * store.
  *
  * State bound: ≤ m register rows per batch partition REGARDLESS of
  * stream length or key cardinality. [[estimate]] applies the
  * standard raw-HLL + linear-counting small-range correction over
  * the ≤ m-row register file collected to the driver — bounded
  * driver state, the V-family centroid-table precedent.
  */
object StreamingHll {

  private val State = StructType.fromDDL("bucket BIGINT, rho BIGINT")

  /** One micro-batch of (user_id) rows. */
  def processBatch(batch: DataFrame, storeDir: String,
                   batchId: Long): Unit =
    BatchStore.fold(batch.sparkSession, storeDir, batchId, State) { prev =>
      prev.unionByName(SketchQueries.hllRegistersOf(batch))
        .groupBy("bucket").agg(max("rho").as("rho"))
    }

  /** The serving read: the current register file as (bucket, rho). */
  def registers(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.current(spark, storeDir, State).orderBy("bucket")

  /** The distinct-count estimate off the current registers: raw HLL
    * (alpha·m²/Σ2^(−rho), absent buckets reading rho = 0) with the
    * standard linear-counting switch below 2.5·m when empty registers
    * remain. Returns 0 on an empty store.
    */
  def estimate(spark: SparkSession, storeDir: String): Double = {
    val regs = registers(spark, storeDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    if (regs.isEmpty) return 0.0
    val m = HllM.toDouble
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val z = (0L until HllM).map(b =>
      math.pow(2.0, -regs.getOrElse(b, 0L).toDouble)).sum
    val raw = alpha * m * m / z
    val zeros = HllM - regs.count(_._2 > 0L)
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m / zeros.toDouble)
    else raw
  }
}
