package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Nearest-centroid assignment against an integer codebook, as one
  * compiled per-row loop.
  *
  * The column-expression formulation (dims × centroids `element_at`
  * terms folded with `greatest`) is semantically identical but builds a
  * ~2,000-node Catalyst tree PER TRAINING ROUND — each round's new
  * literals force fresh analysis + janino compilation, which dominated
  * q_ann_ivf's wall clock (~12 s of the bench). Here the codebook rides
  * into generated code as a reference object, so the generated source is
  * identical across rounds (janino cache hit) and the loop is a compact
  * scalar kernel.
  *
  * Math contract (mirrored by the DuckDB oracle's trained CTEs and the
  * driver-side probe selection): components milli-quantized floor(v·1e3),
  * dot = exact long sum, score = floor(1e6 · dot / sqrt(ssq)) with
  * all-zero centroids scored [[KmeansAssign.ScoreEmpty]]; argmax breaks
  * ties toward the lower centroid id.
  */
case class KmeansAssign(child: Expression, cents: Array[Array[Long]])
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"kmeans_assign requires an array<float> column, got $t")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "kmeans_assign"

  // sqrt(ssq) per centroid, computed once per expression instance
  @transient private lazy val sqrts: Array[Double] =
    cents.map(c => math.sqrt(c.map(x => x * x).sum.toDouble))

  override protected def withNewChildInternal(
      newChild: Expression): KmeansAssign = copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    KmeansAssign.compute(input.asInstanceOf[ArrayData], cents, sqrts)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("kmCents", cents, "long[][]")
    val sqrtsRef = ctx.addReferenceObj("kmSqrts", sqrts, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.KmeansAssign$$.MODULE$$" +
        s".compute($c, $centsRef, $sqrtsRef);")
  }
}

object KmeansAssign {

  /** Assignment score of an all-zero centroid — below any real
    * micro-cosine, so it never wins (the oracle's CASE mirror).
    */
  val ScoreEmpty = -2000000L

  def compute(arr: ArrayData, cents: Array[Array[Long]],
              sqrts: Array[Double]): Long =
    best(arr, cents, sqrts)._1.toLong

  def computeScore(arr: ArrayData, cents: Array[Array[Long]],
                   sqrts: Array[Double]): Long =
    best(arr, cents, sqrts)._2

  /** The rank-2 CENTROID ID of the (score DESC, cid) order — the
    * multi-probe sibling of [[computeSecond]]: same one-loop leader
    * tracking, returning WHICH cluster is the runner-up instead of its
    * score (a later centroid tying the best goes to second place; on a
    * second-place score tie the earlier — lower — cid is kept, exactly
    * the oracle's row_number semantics). Returns -1 for degenerate
    * single-centroid codebooks.
    */
  def computeSecondId(arr: ArrayData, cents: Array[Array[Long]],
                      sqrts: Array[Double]): Long = {
    if (cents.length < 2) return -1L
    val nDims = arr.numElements()
    val vm = new Array[Long](nDims)
    var i = 0
    while (i < nDims) {
      vm(i) = math.floor(arr.getFloat(i).toDouble * 1000.0).toLong
      i += 1
    }
    var bestScore = Long.MinValue
    var bestJ = -1
    var secondScore = Long.MinValue
    var secondJ = -1
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val n = math.min(nDims, c.length)
      var dot = 0L
      i = 0
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
    secondJ.toLong
  }

  /** The rank-2 score of the (score DESC, cid) order — one loop
    * tracking both leaders; a later centroid TYING the best goes to
    * second place, exactly the oracle's row_number semantics. Returns
    * [[ScoreEmpty]] for degenerate single-centroid codebooks.
    */
  def computeSecond(arr: ArrayData, cents: Array[Array[Long]],
                    sqrts: Array[Double]): Long = {
    if (cents.length < 2) return ScoreEmpty
    val nDims = arr.numElements()
    val vm = new Array[Long](nDims)
    var i = 0
    while (i < nDims) {
      vm(i) = math.floor(arr.getFloat(i).toDouble * 1000.0).toLong
      i += 1
    }
    var bestScore = Long.MinValue
    var second = Long.MinValue
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val n = math.min(nDims, c.length)
      var dot = 0L
      i = 0
      while (i < n) { dot += vm(i) * c(i); i += 1 }
      val score =
        if (sqrts(j) == 0.0) ScoreEmpty
        else math.floor(1000000.0 * (dot.toDouble / sqrts(j))).toLong
      if (score > bestScore) { second = bestScore; bestScore = score }
      else if (score > second) second = score
      j += 1
    }
    second
  }

  /** (argmax centroid id, max score) in one loop — ties toward the
    * lower id, same contract as the oracle's ORDER BY score DESC, cid.
    */
  private def best(arr: ArrayData, cents: Array[Array[Long]],
                   sqrts: Array[Double]): (Int, Long) = {
    val nDims = arr.numElements()
    val vm = new Array[Long](nDims)
    var i = 0
    while (i < nDims) {
      vm(i) = math.floor(arr.getFloat(i).toDouble * 1000.0).toLong
      i += 1
    }
    var bestScore = Long.MinValue
    var bestJ = 0
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val n = math.min(nDims, c.length)
      var dot = 0L
      i = 0
      while (i < n) { dot += vm(i) * c(i); i += 1 }
      val score =
        if (sqrts(j) == 0.0) ScoreEmpty
        else math.floor(1000000.0 * (dot.toDouble / sqrts(j))).toLong
      if (score > bestScore) { bestScore = score; bestJ = j }
      j += 1
    }
    (bestJ, bestScore)
  }

  /** Column-API entry point. */
  def kmeansAssign(embedding: Column, cents: Array[Array[Long]]): Column =
    GraftSqlBridge.column(KmeansAssign(
      GraftSqlBridge.expression(embedding), cents))
}

/** [[KmeansAssign]] over an ALREADY-MILLI integer vector
  * (`array<bigint>`) — the k-means trainer's assignment step, which
  * runs over milli vectors (a `milli_vec` projection gives the same
  * cluster as the float kernel), and the residual-PQ path
  * ([[graft.operators.SimilarityOps.pqResidualTopK]]), which trains and
  * encodes in the residual domain r = milli(v) − centroid, integer by
  * construction; re-quantizing it through the float kernel would
  * double-scale (and a float round-trip r/1000.0·1000.0 is not
  * floor-stable at the boundaries). Same math contract minus the milli
  * step: dot = exact long sum, score = floor(1e6 · dot / √ssq), ties
  * toward the lower centroid id, all-zero centroids score
  * [[KmeansAssign.ScoreEmpty]].
  */
case class KmeansAssignMilli(child: Expression,
                             cents: Array[Array[Long]])
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"kmeans_assign_milli requires an array<bigint> column, got $t")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "kmeans_assign_milli"

  @transient private lazy val sqrts: Array[Double] =
    cents.map(c => math.sqrt(c.map(x => x * x).sum.toDouble))

  override protected def withNewChildInternal(
      newChild: Expression): KmeansAssignMilli = copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    KmeansAssignMilli.compute(input.asInstanceOf[ArrayData], cents,
      sqrts)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("kmCents", cents, "long[][]")
    val sqrtsRef = ctx.addReferenceObj("kmSqrts", sqrts, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.KmeansAssignMilli$$.MODULE$$" +
        s".compute($c, $centsRef, $sqrtsRef);")
  }
}

object KmeansAssignMilli {

  def compute(arr: ArrayData, cents: Array[Array[Long]],
              sqrts: Array[Double]): Long = {
    val nDims = arr.numElements()
    var bestScore = Long.MinValue
    var bestJ = 0
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val n = math.min(nDims, c.length)
      var dot = 0L
      var i = 0
      while (i < n) { dot += arr.getLong(i) * c(i); i += 1 }
      val score =
        if (sqrts(j) == 0.0) KmeansAssign.ScoreEmpty
        else math.floor(1000000.0 * (dot.toDouble / sqrts(j))).toLong
      if (score > bestScore) { bestScore = score; bestJ = j }
      j += 1
    }
    bestJ.toLong
  }

  /** Column-API entry point. */
  def kmeansAssignMilli(vm: Column, cents: Array[Array[Long]]): Column =
    GraftSqlBridge.column(KmeansAssignMilli(
      GraftSqlBridge.expression(vm), cents))
}

/** The WINNING assignment score (micro-cosine against the nearest
  * centroid) under the same codebook — [[KmeansAssign]]'s sibling, used
  * as the drift signal for a persisted IVF index: when a batch of new
  * vectors scores systematically below the training-time mean, the
  * codebook no longer describes the data and the store should re-train
  * ([[graft.sources.VectorStore.append]]). Same compiled-kernel shape:
  * the codebook rides in as a reference object, one scalar loop.
  */
case class KmeansScore(child: Expression, cents: Array[Array[Long]])
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"kmeans_score requires an array<float> column, got $t")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "kmeans_score"

  @transient private lazy val sqrts: Array[Double] =
    cents.map(c => math.sqrt(c.map(x => x * x).sum.toDouble))

  override protected def withNewChildInternal(
      newChild: Expression): KmeansScore = copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    KmeansAssign.computeScore(input.asInstanceOf[ArrayData], cents, sqrts)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("kmCents", cents, "long[][]")
    val sqrtsRef = ctx.addReferenceObj("kmSqrts", sqrts, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.KmeansAssign$$.MODULE$$" +
        s".computeScore($c, $centsRef, $sqrtsRef);")
  }
}

object KmeansScore {
  /** Column-API entry point. */
  def kmeansScore(embedding: Column, cents: Array[Array[Long]]): Column =
    GraftSqlBridge.column(KmeansScore(
      GraftSqlBridge.expression(embedding), cents))
}

/** The RUNNER-UP assignment score — the micro-cosine against the
  * second-nearest centroid, rank 2 of the same (score DESC, cid) order
  * the assignment argmax uses. `best − second` is the assignment
  * MARGIN: how decisively a vector belongs to its cluster, the
  * boundary-vector signal behind the V17 margin audit (a vector at
  * margin ≈ 0 sits on a cluster boundary, exactly where cluster-blocked
  * operators — SemDeDup, kNN audits — mis-serve it). Same compiled-
  * kernel shape as its siblings; one loop tracks both leaders. Needs
  * ≥ 2 centroids to be meaningful (with one, the runner-up is the
  * empty-codebook sentinel).
  */
case class KmeansSecond(child: Expression, cents: Array[Array[Long]])
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"kmeans_second requires an array<float> column, got $t")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "kmeans_second"

  @transient private lazy val sqrts: Array[Double] =
    cents.map(c => math.sqrt(c.map(x => x * x).sum.toDouble))

  override protected def withNewChildInternal(
      newChild: Expression): KmeansSecond = copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    KmeansAssign.computeSecond(input.asInstanceOf[ArrayData], cents,
      sqrts)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("kmCents", cents, "long[][]")
    val sqrtsRef = ctx.addReferenceObj("kmSqrts", sqrts, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.KmeansAssign$$.MODULE$$" +
        s".computeSecond($c, $centsRef, $sqrtsRef);")
  }
}

object KmeansSecond {
  /** Column-API entry point. */
  def kmeansSecond(embedding: Column, cents: Array[Array[Long]]): Column =
    GraftSqlBridge.column(KmeansSecond(
      GraftSqlBridge.expression(embedding), cents))
}

/** The RUNNER-UP centroid ID — rank 2 of the same (score DESC, cid)
  * order the assignment argmax uses: the second-nearest cluster, the
  * multi-probe companion of [[KmeansAssign]] (a cluster-blocked
  * operator that also probes each vector's runner-up cluster sees
  * across the one boundary that actually cuts its neighborhood —
  * the V35 graph-edge discipline). Same compiled-kernel shape as its
  * siblings.
  */
case class KmeansSecondId(child: Expression, cents: Array[Array[Long]])
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"kmeans_second_id requires an array<float> column, got $t")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "kmeans_second_id"

  @transient private lazy val sqrts: Array[Double] =
    cents.map(c => math.sqrt(c.map(x => x * x).sum.toDouble))

  override protected def withNewChildInternal(
      newChild: Expression): KmeansSecondId = copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    KmeansAssign.computeSecondId(input.asInstanceOf[ArrayData], cents,
      sqrts)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("kmCents", cents, "long[][]")
    val sqrtsRef = ctx.addReferenceObj("kmSqrts", sqrts, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.KmeansAssign$$.MODULE$$" +
        s".computeSecondId($c, $centsRef, $sqrtsRef);")
  }
}

object KmeansSecondId {
  /** Column-API entry point. */
  def kmeansSecondId(embedding: Column,
                     cents: Array[Array[Long]]): Column =
    GraftSqlBridge.column(KmeansSecondId(
      GraftSqlBridge.expression(embedding), cents))
}
