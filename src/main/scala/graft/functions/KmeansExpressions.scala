package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData

/** Nearest-centroid kernels against an integer codebook, one compiled
  * per-row loop each ([[Kernels]]: `kmeans_assign`, `kmeans_score`,
  * `kmeans_second`, `kmeans_second_id`, `kmeans_assign_milli`).
  *
  * The column-expression formulation (dims × centroids `element_at`
  * terms folded with `greatest`) is semantically identical but builds a
  * ~2,000-node Catalyst tree per training round, and each round's new
  * literals force fresh analysis and janino compilation. Here the
  * codebook and its norms ride in as `ObjectType` literals, so the
  * generated source is identical across rounds (janino cache hit) and
  * the loop is a compact scalar kernel.
  *
  * Math contract (mirrored by the DuckDB oracle's trained CTEs and the
  * driver-side probe selection): components milli-quantized floor(v·1e3),
  * dot = exact long sum, score = floor(1e6 · dot / sqrt(ssq)) with
  * all-zero centroids scored [[KmeansAssign.ScoreEmpty]]; the order is
  * (score DESC, cid), so the argmax breaks ties toward the lower
  * centroid id.
  */
object KmeansAssign {

  /** Assignment score of an all-zero centroid — below any real
    * micro-cosine, so it never wins (the oracle's CASE mirror).
    */
  val ScoreEmpty = -2000000L

  // which rank of the (score DESC, cid) order `rank` answers
  private final val BestId = 0
  private final val BestScore = 1
  private final val SecondId = 2
  private final val SecondScore = 3

  /** One scoring loop for every codebook kernel: milli vector `vm`
    * against each centroid, tracking the top two of the (score DESC,
    * cid) order, and answering `field` of them. A later centroid that
    * ties the best goes to second place; on a tie for second the earlier
    * (lower) cid is kept, the oracle's row_number semantics.
    */
  private def rank(vm: Array[Long], cents: Array[Array[Long]],
                   sqrts: Array[Double], field: Int): Long = {
    var bestScore = Long.MinValue
    var bestJ = 0
    var secondScore = Long.MinValue
    var secondJ = -1
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val n = math.min(vm.length, c.length)
      var dot = 0L
      var i = 0
      while (i < n) { dot += vm(i) * c(i); i += 1 }
      val score =
        if (sqrts(j) == 0.0) ScoreEmpty
        else math.floor(1000000.0 * (dot.toDouble / sqrts(j))).toLong
      if (score > bestScore) {
        secondScore = bestScore; secondJ = bestJ
        bestScore = score; bestJ = j
      } else if (score > secondScore) { secondScore = score; secondJ = j }
      j += 1
    }
    field match {
      case BestId => bestJ.toLong
      case BestScore => bestScore
      case SecondId => secondJ.toLong
      case _ => secondScore
    }
  }

  /** The nearest centroid's id. */
  def kmeans_assign(arr: ArrayData, cents: Array[Array[Long]],
                    sqrts: Array[Double]): Long =
    rank(VectorKernels.milliLongs(arr), cents, sqrts, BestId)

  /** The nearest centroid's score: the drift signal of a persisted IVF
    * index ([[graft.sources.VectorStore.append]]), which re-trains when
    * new vectors score systematically below the training-time mean.
    */
  def kmeans_score(arr: ArrayData, cents: Array[Array[Long]],
                   sqrts: Array[Double]): Long =
    rank(VectorKernels.milliLongs(arr), cents, sqrts, BestScore)

  /** The runner-up centroid's id: the second-nearest cluster, which a
    * cluster-blocked operator also probes to see across the one boundary
    * that actually cuts a vector's neighbourhood. -1 for a codebook of
    * fewer than two centroids.
    */
  def kmeans_second_id(arr: ArrayData, cents: Array[Array[Long]],
                       sqrts: Array[Double]): Long =
    if (cents.length < 2) -1L
    else rank(VectorKernels.milliLongs(arr), cents, sqrts, SecondId)

  /** The runner-up centroid's score. `best − second` is the assignment
    * margin: a vector at margin ≈ 0 sits on a cluster boundary, exactly
    * where cluster-blocked operators (SemDeDup, kNN audits) mis-serve
    * it. [[ScoreEmpty]] for a codebook of fewer than two centroids.
    */
  def kmeans_second(arr: ArrayData, cents: Array[Array[Long]],
                    sqrts: Array[Double]): Long =
    if (cents.length < 2) ScoreEmpty
    else rank(VectorKernels.milliLongs(arr), cents, sqrts, SecondScore)

  /** The nearest centroid's id for an already-milli `array<bigint>`
    * vector ([[KmeansAssignMilli]]): no milli step, otherwise the same
    * contract. The vector is copied out once (`toLongArray`, a memory copy
    * for the unsafe layout, one unboxing per element for a generic one),
    * so the dims × centroids inner loop reads a plain array rather than
    * calling `getLong` per element per centroid.
    */
  def kmeans_assign_milli(arr: ArrayData, cents: Array[Array[Long]],
                          sqrts: Array[Double]): Long =
    rank(arr.toLongArray(), cents, sqrts, BestId)

  /** The codebook kernel `k` over `embedding`, with the codebook and
    * sqrt(ssq) per centroid (computed once per call) as its constants.
    */
  private[functions] def bind(k: Kernel, embedding: Column,
                              cents: Array[Array[Long]]): Column = {
    val sqrts = cents.map(c => math.sqrt(c.map(x => x * x).sum.toDouble))
    k.using(cents, sqrts)(embedding)
  }

  /** Column-API entry point. */
  def kmeansAssign(embedding: Column, cents: Array[Array[Long]]): Column =
    bind(Kernels.KmeansAssign, embedding, cents)
}

/** [[KmeansAssign]] over an already-milli integer vector
  * (`array<bigint>`): the k-means trainer's assignment step, which runs
  * over milli vectors (a `milli_vec` projection gives the same cluster as
  * the float kernel), and the residual-PQ path
  * ([[graft.operators.SimilarityOps.pqResidualTopK]]), which trains and
  * encodes in the residual domain r = milli(v) − centroid, integer by
  * construction; re-quantizing it through the float kernel would
  * double-scale (and a float round-trip r/1000.0·1000.0 is not
  * floor-stable at the boundaries).
  */
object KmeansAssignMilli {
  /** Column-API entry point: [[KmeansAssign.kmeans_assign_milli]]. */
  def kmeansAssignMilli(vm: Column, cents: Array[Array[Long]]): Column =
    KmeansAssign.bind(Kernels.KmeansAssignMilli, vm, cents)
}

object KmeansScore {
  /** Column-API entry point: [[KmeansAssign.kmeans_score]]. */
  def kmeansScore(embedding: Column, cents: Array[Array[Long]]): Column =
    KmeansAssign.bind(Kernels.KmeansScore, embedding, cents)
}

object KmeansSecond {
  /** Column-API entry point: [[KmeansAssign.kmeans_second]]. */
  def kmeansSecond(embedding: Column, cents: Array[Array[Long]]): Column =
    KmeansAssign.bind(Kernels.KmeansSecond, embedding, cents)
}

object KmeansSecondId {
  /** Column-API entry point: [[KmeansAssign.kmeans_second_id]]. */
  def kmeansSecondId(embedding: Column,
                     cents: Array[Array[Long]]): Column =
    KmeansAssign.bind(Kernels.KmeansSecondId, embedding, cents)
}
