package graft

import org.apache.spark.sql.SparkSession

import graft.sources.VectorStore

/** Shared fixtures of the admission specs. */
object AdmissionFixtures {

  /** The smallest generated fixture (FIXTURES.md). */
  val sf = "/root/testdata/sf0.001"

  /** Deterministic unit embeddings orthogonal to the span of the
    * store's trained codebook (cos ~0 against everything that matters),
    * so a fresh vector is never a near-duplicate: `orth(seed)` is the
    * `seed % dims` axis with every codebook direction projected out.
    * Distinct seeds below `dims` give distinct vectors.
    */
  def orthogonal(spark: SparkSession, vecPath: String): Int => Array[Float] = {
    val cents0 = VectorStore.readMeta(spark, vecPath).cents
      .map(_.map(_.toDouble))
    val dims = cents0.head.length
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val basis = cents0.foldLeft(Vector.empty[Array[Double]]) { (bs, c) =>
      val r = c.clone()
      bs.foreach { b => val d = dot(r, b)
        (0 until dims).foreach(i => r(i) -= d * b(i)) }
      val n = math.sqrt(dot(r, r))
      if (n > 1e-9) bs :+ r.map(_ / n) else bs
    }
    seed => {
      val x = new Array[Double](dims)
      x(seed % dims) = 1.0
      basis.foreach { b => val d = dot(x, b)
        (0 until dims).foreach(i => x(i) -= d * b(i)) }
      val n = math.sqrt(dot(x, x))
      x.map(v => (v / n).toFloat)
    }
  }
}
