package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Hashing.micro
import graft.functions.vector.cosineSim

/** T16: streaming k-center coreset — the stateful twin of V39's batch
  * greedy (q_kcenter), via the doubling algorithm (Charikar, Chekuri,
  * Feder, Motwani, STOC 1997): maintain ≤ k centers and a threshold τ
  * (micro-dissimilarity 10⁶ − cos); a new point farther than τ from
  * every center BECOMES a center; when the budget overflows, τ
  * doubles and the center set re-thins (scan in center order, drop
  * any center within the new τ of an earlier kept one — in a metric
  * space dropped centers' points stay within τ_old + τ_new ≤ 2τ_new
  * of a keeper, the algorithm's 8-approximation argument; cosine
  * dissimilarity only satisfies a relaxed triangle inequality, so the
  * constant degrades — the spec asserts the MEASURED coverage on its
  * fixtures instead of assuming the metric bound). The batch
  * greedy needs the whole corpus per round; this maintains a coreset
  * over an unbounded stream with O(k) state — diverse seed sets,
  * annotation pools, and eval panels that stay spread out as data
  * arrives.
  *
  * Determinism: points are considered in vec_id order within each
  * micro-batch; all distances are integer micro-cosines off the same
  * kernel as V39; thinning scans centers in their insertion order
  * (cid order). Given the predecessor state and the batch content the
  * output is a pure function, so a replay through [[BatchStore.fold]]
  * rewrites an identical partition.
  *
  * Scale shape: per batch, ONE distributed scan per admission round
  * computes each point's min-dissimilarity to the ≤ k broadcast
  * centers (a codegen projection) and collects AT MOST k+1 far
  * points; each round either admits centers or doubles τ, so rounds
  * per batch are O(k + doublings) — the collected state is never more
  * than (k+1) × dims. Writes are ≤ k+1 rows per batch partition.
  */
object StreamingKcenter {

  private val State =
    StructType.fromDDL("cid BIGINT, embedding ARRAY<FLOAT>, tau BIGINT")

  /** One batch of (vec_id, embedding) rows. `tau0` is the initial
    * micro-dissimilarity threshold; `k` the center budget.
    */
  def processBatch(batch: DataFrame, storeDir: String, batchId: Long,
                   k: Int, tau0: Long): Unit = {
    val spark = batch.sparkSession
    BatchStore.fold(spark, storeDir, batchId, State) { prev =>
      val rows = prev.orderBy("cid").collect()
      var centers = rows.map(r =>
        (r.getLong(0), r.getSeq[Float](1).toArray)).toVector
      var tau = if (rows.isEmpty) tau0 else rows.head.getLong(2)

      def minDis(cols: Seq[Array[Float]]): Column = {
        val ds = cols.map(e =>
          lit(1000000L) - micro(cosineSim(col("embedding"),
            typedlit(e.toSeq))))
        if (ds.isEmpty) lit(Long.MaxValue)
        else if (ds.size == 1) ds.head else least(ds: _*)
      }

      def thin(cs: Vector[(Long, Array[Float])], t: Long)
      : Vector[(Long, Array[Float])] =
        cs.foldLeft(Vector.empty[(Long, Array[Float])]) { (kept, c) =>
          val covered = kept.exists { kc =>
            val d = 1000000L - cosMicroLocal(c._2, kc._2)
            d <= t
          }
          if (covered) kept else kept :+ c
        }

      // admission rounds: collect at most k+1 points farther than tau
      // from every current center (vec_id order), fold them in locally,
      // double + thin on overflow, repeat until no far points remain
      var done = false
      while (!done) {
        val far = batch
          .filter(!col("vec_id").isInCollection(centers.map(_._1)))
          .withColumn("__d", minDis(centers.map(_._2)))
          .filter(col("__d") > tau)
          .orderBy("vec_id").limit(k + 1)
          .select("vec_id", "embedding").collect()
        if (far.isEmpty) done = true
        else {
          far.foreach { r =>
            val v = r.getSeq[Float](1).toArray
            val d = if (centers.isEmpty) Long.MaxValue
              else centers.map(c =>
                1000000L - cosMicroLocal(v, c._2)).min
            if (d > tau) centers = centers :+ ((r.getLong(0), v))
            while (centers.size > k) {
              tau = tau * 2
              centers = thin(centers, tau)
            }
          }
        }
      }

      import spark.implicits._
      centers.map { case (cid, e) => (cid, e.toSeq, tau) }
        .toDF("cid", "embedding", "tau")
    }
  }

  /** Driver-side micro cosine — the same expression tree as the
    * kernel (dot / (|a|·|b|), doubles from float inputs, floored).
    */
  private[graft] def cosMicroLocal(a: Array[Float],
                                       b: Array[Float]): Long = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    math.floor(1000000.0 * (dot / (math.sqrt(na) * math.sqrt(nb))))
      .toLong
  }

  /** The serving read: current centers + threshold; an empty
    * (cid, tau) frame when the store has no batch partitions yet.
    */
  def centers(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.current(spark, storeDir, State)
      .select("cid", "tau").orderBy("cid")
}
