package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
  FloatType, LongType}

/** Native cosine similarity over two `array<float>` embedding columns,
  * accumulated in double precision.
  *
  * Why a custom Catalyst `Expression` (SURVEY.md §7.3 preference order
  * (b)): the built-in way to express this — `aggregate(zip_with(...))` —
  * is a higher-order function, and higher-order functions are
  * `CodegenFallback`: every row pays interpreted lambda dispatch plus an
  * intermediate array allocation for the zipped products. This kernel is
  * the hot loop of pairwise similarity over O(candidate-pairs) rows, so
  * it earns `doGenCode`: one fused scalar loop, no allocation, inside
  * whole-stage codegen.
  *
  * Semantics (bit-for-bit vs the DuckDB oracle): sequential left-to-
  * right accumulation of dot and both squared norms, then
  * `dot / (sqrt(na) * sqrt(nb))` — the exact association order the
  * oracle SQL mirrors. Null array → null; null *elements* are not
  * expected (embedding vectors are dense) and read as 0. Zero-norm
  * input yields NaN, as in the fold-based formulation.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires (array<float>, array<float>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |double $na = 0.0;
         |double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi;
         |  $na += $xi * $xi;
         |  $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Exact milli-domain integer inner product of two `array<float>`
  * columns: Σ ⌊x·1000⌋·⌊y·1000⌋ as LONG — the MIPS scoring kernel
  * ([[graft.operators.SimilarityOps.mipsTopK]]).
  *
  * Same custom-Expression rationale as [[CosineSimilarity]]: the
  * built-in `aggregate(zip_with(...))` fold is CodegenFallback —
  * interpreted lambda dispatch plus an intermediate array per row,
  * paid on every scanned vector of a retrieval pass. Here it is one
  * fused long loop in whole-stage codegen, and it also skips
  * materializing milli-vector array columns entirely (the floor is
  * inside the loop).
  *
  * Exactness: each term |⌊x·1000⌋·⌊y·1000⌋| ≤ 10⁶ for the milli
  * component range, and the LONG accumulator is exact at any
  * dimensionality — no doubles anywhere past the floor.
  */
case class MilliDotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"milli_dot requires (array<float>, array<float>), got ($l, $r)")
    }

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def prettyName: String = "milli_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0L
    var i = 0
    while (i < n) {
      val xi = math.floor(x.getFloat(i).toDouble * 1000.0).toLong
      val yi = math.floor(y.getFloat(i).toDouble * 1000.0).toLong
      dot += xi * yi
      i += 1
    }
    dot
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $dot = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $xi = (long) java.lang.Math.floor(
         |    (double) $a.getFloat($i) * 1000.0);
         |  long $yi = (long) java.lang.Math.floor(
         |    (double) $b.getFloat($i) * 1000.0);
         |  $dot += $xi * $yi;
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MilliDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Shared per-row vector kernels, callable from generated code (the
  * [[graft.functions.SignLsh]] pattern: `doGenCode` emits one static
  * call, which still lives INSIDE whole-stage codegen — no
  * CodegenFallback node, no interpreted lambda dispatch, no
  * intermediate array per higher-order step).
  */
object VectorKernels {

  /** floor(v·1000) per component — the [[MilliVector]] law. */
  def milli(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = math.floor(arr.getFloat(i).toDouble * 1000.0).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Milli components re-normalized to an integer milli unit vector —
    * the [[MilliUnitVector]] law; null when the milli vector is all
    * zeros (the callers' ssq > 0 exclusion).
    */
  def milliUnit(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val m = new Array[Long](n)
    var ssq = 0L
    var i = 0
    while (i < n) {
      val v = math.floor(arr.getFloat(i).toDouble * 1000.0).toLong
      m(i) = v
      ssq += v * v
      i += 1
    }
    if (ssq == 0L) null
    else {
      val norm = math.sqrt(ssq.toDouble)
      val out = new Array[Long](n)
      i = 0
      while (i < n) {
        out(i) = math.floor((1000.0 * m(i).toDouble) / norm).toLong
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Per-vector absolute-max component — the [[AbsMaxComponent]] law. */
  def absMax(arr: ArrayData): Double = {
    val n = arr.numElements()
    var a = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(arr.getFloat(i).toDouble)
      if (v > a) a = v
      i += 1
    }
    a
  }

  /** [Σm·q, Σm², Σq²] with m = milli components floor(v·1000) and
    * q = int8 absmax codes — the three exact integers the V53 SQ8
    * fidelity cosine divides ([[Int8FidelityParts]] law). One pass,
    * no intermediate arrays.
    */
  def int8FidelityParts(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val amax = absMax(arr)
    var dot = 0L; var sm = 0L; var sq = 0L
    var i = 0
    while (i < n) {
      val v = arr.getFloat(i).toDouble
      val m = math.floor(v * 1000.0).toLong
      val q = if (amax == 0.0) 0L
        else math.floor(v * 127.0 / amax).toLong
      dot += m * q; sm += m * m; sq += q * q
      i += 1
    }
    new GenericArrayData(Array(dot, sm, sq))
  }

  /** Int8 absmax codes floor(v·127/amax) (0 on an all-zero vector) —
    * the [[Int8CodeVector]] law.
    */
  def int8Codes(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val amax = absMax(arr)
    val out = new Array[Long](n)
    if (amax != 0.0) {
      var i = 0
      while (i < n) {
        out(i) = math.floor(arr.getFloat(i).toDouble * 127.0 / amax)
          .toLong
        i += 1
      }
    }
    new GenericArrayData(out)
  }
}

/** floor(v·1000) milli quantization of an `array<float>` embedding as
  * one codegen projection — replaces the interpreted
  * `transform(e, v => floor(v * 1000))` higher-order function
  * (CodegenFallback) that fed every V-family integer census
  * (dim variance, PCA power iteration, k-means milli vectors).
  * Identical integer output, so every oracle is unaffected.
  */
case class MilliVector(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"milli_vec requires an array<float> column, got $t")
    }

  override def dataType: DataType = ArrayType(LongType, false)

  override def prettyName: String = "milli_vec"

  override def nullSafeEval(input: Any): Any =
    VectorKernels.milli(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorKernels.milli($c);")

  override protected def withNewChildInternal(
      newChild: Expression): MilliVector = copy(child = newChild)
}

/** The milli-normalize quantization kernel (VERDICT r14 item 2): milli
  * components re-normalized to an exact integer milli UNIT vector,
  * q_d = floor(1000·m_d/√(Σm²)), in one codegen projection — the
  * fused form of the `aggregate` (ssq fold) + `transform` (normalize)
  * higher-order tower that dominated q_anisotropy's wall time (both
  * HOFs are CodegenFallback, which breaks whole-stage codegen).
  * NULL on an all-zero milli vector — exactly the callers'
  * `filter(ssq > 0)` exclusion, folded into the expression's
  * nullability. Bit-identical math (the double tree
  * (1000.0·m)/sqrt(ssq) floored, matching the column formulation
  * token for token), so the oracles are unaffected.
  */
case class MilliUnitVector(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"milli_unit_vec requires an array<float> column, got $t")
    }

  override def dataType: DataType = ArrayType(LongType, false)

  override def nullable: Boolean = true

  override def prettyName: String = "milli_unit_vec"

  override def nullSafeEval(input: Any): Any =
    VectorKernels.milliUnit(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.VectorKernels.milliUnit($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(
      newChild: Expression): MilliUnitVector = copy(child = newChild)
}

/** Per-vector absolute-max component in one codegen pass — replaces
  * the interpreted `aggregate(e, 0.0, greatest(acc, abs(x)))` fold
  * (CodegenFallback) on the SQ8 quantization path.
  */
case class AbsMaxComponent(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"abs_max requires an array<float> column, got $t")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "abs_max"

  override def nullSafeEval(input: Any): Any =
    VectorKernels.absMax(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorKernels.absMax($c);")

  override protected def withNewChildInternal(
      newChild: Expression): AbsMaxComponent = copy(child = newChild)
}

/** Int8 absmax scalar-quantization codes floor(v·127/amax) (all zeros
  * when amax = 0) in one codegen pass — the fused form of the SQ8
  * path's absmax fold + quantize transform (both CodegenFallback).
  * Same element law as [[graft.operators.SimilarityOps.quantizeInt8]],
  * so the V20 oracles are unaffected.
  */
case class Int8CodeVector(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"int8_codes requires an array<float> column, got $t")
    }

  override def dataType: DataType = ArrayType(LongType, false)

  override def prettyName: String = "int8_codes"

  override def nullSafeEval(input: Any): Any =
    VectorKernels.int8Codes(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorKernels.int8Codes($c);")

  override protected def withNewChildInternal(
      newChild: Expression): Int8CodeVector = copy(child = newChild)
}

/** The V53 SQ8 fidelity parts [Σm·q, Σm², Σq²] in one codegen pass —
  * the exact integers whose mirrored cosine tree measures how much
  * angle int8 absmax quantization costs each vector.
  */
case class Int8FidelityParts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"int8_fid_parts requires an array<float> column, got $t")
    }

  override def dataType: DataType = ArrayType(LongType, false)

  override def prettyName: String = "int8_fid_parts"

  override def nullSafeEval(input: Any): Any =
    VectorKernels.int8FidelityParts(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorKernels.int8FidelityParts($c);")

  override protected def withNewChildInternal(
      newChild: Expression): Int8FidelityParts = copy(child = newChild)
}

/** Column-API entry points for the vector expressions. */
object vector {
  /** Cosine similarity of two `array<float>` columns, in double. */
  def cosineSim(a: Column, b: Column): Column =
    GraftSqlBridge.column(CosineSimilarity(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Exact milli-domain integer inner product, in long. */
  def milliDot(a: Column, b: Column): Column =
    GraftSqlBridge.column(MilliDotProduct(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** floor(v·1000) milli components as array<long>. */
  def milliVec(e: Column): Column =
    GraftSqlBridge.column(MilliVector(GraftSqlBridge.expression(e)))

  /** Integer milli unit vector (null when all-zero). */
  def milliUnitVec(e: Column): Column =
    GraftSqlBridge.column(MilliUnitVector(GraftSqlBridge.expression(e)))

  /** Per-vector absolute-max component, double. */
  def absMaxComp(e: Column): Column =
    GraftSqlBridge.column(AbsMaxComponent(GraftSqlBridge.expression(e)))

  /** Int8 absmax quantization codes as array<long>. */
  def int8Codes(e: Column): Column =
    GraftSqlBridge.column(Int8CodeVector(GraftSqlBridge.expression(e)))

  /** SQ8 fidelity parts [Σm·q, Σm², Σq²] as array<long>. */
  def int8FidParts(e: Column): Column =
    GraftSqlBridge.column(Int8FidelityParts(GraftSqlBridge.expression(e)))
}
