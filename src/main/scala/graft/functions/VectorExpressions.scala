package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.vectorized.ColumnarArray

/** Per-row vector kernels over `array<float>` embeddings, each bound as a
  * graft function through [[KernelCall]] ([[Kernels]] declares them).
  *
  * Why kernels and not built-ins: the built-in way to write each of these
  * is a higher-order function (`aggregate(zip_with(...))`,
  * `transform(e, v => floor(v * 1000))`, an `aggregate` ssq fold under a
  * normalizing `transform`), and higher-order functions are
  * `CodegenFallback`: every row pays interpreted lambda dispatch plus an
  * intermediate array per step. A kernel is one fused scalar loop, called
  * directly from whole-stage codegen. Every output is bit-identical to the
  * column formulation it replaces, so the DuckDB oracles mirror the column
  * formulation unchanged. Null *elements* are not expected (embeddings are
  * dense) and read as 0.
  */
object VectorKernels {

  /** Cosine similarity in double: sequential left-to-right accumulation
    * of dot and both squared norms, then `dot / (sqrt(na) * sqrt(nb))`,
    * the association order the oracle SQL mirrors. Arrays of different
    * length are read up to the shorter one; a zero-norm input gives NaN,
    * as in the fold-based formulation. This is the hot loop of pairwise
    * similarity over the candidate pairs.
    */
  def cosine_sim(x: ArrayData, y: ArrayData): Double = {
    val a = rowLayout(x)
    val b = rowLayout(y)
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = a.getFloat(i).toDouble
      val yi = b.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact milli-domain inner product Σ ⌊x·1000⌋·⌊y·1000⌋ as a long, the
    * MIPS scoring kernel ([[graft.operators.SimilarityOps.mipsTopK]]).
    * The floor is inside the loop, so no milli-vector column is
    * materialized; each term is at most 10⁶ in magnitude over the milli
    * component range, and the long accumulator is exact at any
    * dimensionality.
    */
  def milli_dot(x: ArrayData, y: ArrayData): Long = {
    val a = rowLayout(x)
    val b = rowLayout(y)
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L
    var i = 0
    while (i < n) {
      dot += math.floor(a.getFloat(i).toDouble * 1000.0).toLong *
        math.floor(b.getFloat(i).toDouble * 1000.0).toLong
      i += 1
    }
    dot
  }

  /** `arr` as one of the two layouts rows carry (unsafe, or a columnar
    * batch's array), any other copied once into the unsafe layout. The
    * pairwise loops are shared by every query's generated code, so their
    * `getFloat` call sees every class a query passes in: kept to two, the
    * JIT inlines both, with no per-row copy; a third class made the call
    * virtual per element, and copying every input out made it slower
    * still.
    */
  private def rowLayout(arr: ArrayData): ArrayData = arr match {
    case _: UnsafeArrayData | _: ColumnarArray => arr
    case _ => UnsafeArrayData.fromPrimitiveArray(arr.toFloatArray())
  }

  /** floor(v·1000) per component, as a JVM array. */
  private[functions] def milliLongs(arr: ArrayData): Array[Long] = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = math.floor(arr.getFloat(i).toDouble * 1000.0).toLong
      i += 1
    }
    out
  }

  /** floor(v·1000) milli quantization, the input of every V-family
    * integer census (dim variance, PCA power iteration, k-means milli
    * vectors).
    */
  def milli_vec(arr: ArrayData): ArrayData =
    new GenericArrayData(milliLongs(arr))

  /** Milli components re-normalized to an exact integer milli unit
    * vector, q_d = floor(1000·m_d/√(Σm²)) (the double tree
    * (1000.0·m)/sqrt(ssq) floored, as in the column formulation); null
    * when the milli vector is all zeros, which is the callers'
    * `ssq > 0` exclusion folded into the result's nullability.
    */
  def milli_unit_vec(arr: ArrayData): ArrayData = {
    val m = milliLongs(arr)
    var ssq = 0L
    var i = 0
    while (i < m.length) { ssq += m(i) * m(i); i += 1 }
    if (ssq == 0L) null
    else {
      val norm = math.sqrt(ssq.toDouble)
      val out = new Array[Long](m.length)
      i = 0
      while (i < m.length) {
        out(i) = math.floor((1000.0 * m(i).toDouble) / norm).toLong
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Per-vector absolute-max component, the SQ8 quantization scale. */
  def abs_max(arr: ArrayData): Double = {
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
    * q = int8 absmax codes: the three exact integers whose mirrored
    * cosine tree measures how much angle int8 quantization costs a
    * vector. One pass, no intermediate arrays.
    */
  def int8_fid_parts(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val amax = abs_max(arr)
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

  /** Int8 absmax codes floor(v·127/amax), all zero on an all-zero vector:
    * the element law of [[graft.operators.SimilarityOps.quantizeInt8]].
    */
  def int8_codes(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val amax = abs_max(arr)
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

/** Column-API entry points for the vector kernels. */
object vector {
  /** Cosine similarity of two `array<float>` columns, in double. */
  def cosineSim(a: Column, b: Column): Column = Kernels.CosineSim(a, b)

  /** Exact milli-domain integer inner product, in long. */
  def milliDot(a: Column, b: Column): Column = Kernels.MilliDot(a, b)

  /** floor(v·1000) milli components as array<long>. */
  def milliVec(e: Column): Column = Kernels.MilliVec(e)

  /** Integer milli unit vector (null when all-zero). */
  def milliUnitVec(e: Column): Column = Kernels.MilliUnitVec(e)

  /** Per-vector absolute-max component, double. */
  def absMaxComp(e: Column): Column = Kernels.AbsMax(e)

  /** Int8 absmax quantization codes as array<long>. */
  def int8Codes(e: Column): Column = Kernels.Int8Codes(e)

  /** SQ8 fidelity parts [Σm·q, Σm², Σq²] as array<long>. */
  def int8FidParts(e: Column): Column = Kernels.Int8FidParts(e)
}
