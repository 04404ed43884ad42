package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData

/** All `nPlanes` sign-LSH hyperplane bits of one embedding, packed into a
  * single long — one fused per-row loop instead of a relational plan.
  *
  * The relational formulation (posexplode the embedding, broadcast-join a
  * (plane, dim, weight) table, aggregate per (vector, plane), aggregate
  * per vector) inflates every row ×(dims × nPlanes) and pays two
  * Exchanges before a single LSH candidate exists. The signature is a
  * pure function of one row, so it belongs in a projection: the kernel
  * [[SignLsh.sign_lsh_sig]] ([[Kernels]]). A
  * `transform`/`aggregate` HOF tower over literal plane arrays would be
  * interpreted per element, the shape measured 74× slower on the
  * winnowing path.
  *
  * Bit math (mirrored literally by the DuckDB oracle, which keeps the
  * plane table as injected literals): component quantized to micro units
  * `floor(v * 1e6)`, times milli-unit integer weight [[SignLsh.planeWInt]],
  * summed as longs — association-free, so the sign of a near-zero dot
  * product cannot flip with partitioning or task retries (a double sum
  * could). |v_micro| ≤ ~2²¹ × |w| ≤ 2¹⁰ × 64 dims → |sum| ≤ ~2³⁷.
  * Bit j of the result = (dot with plane j) ≥ 0.
  */
object SignLsh {

  /** Deterministic "random" hyperplane weight in integer milli-units
    * (w ∈ [-1000, 1000]) for plane `j`, dimension `i` (1-based), derived
    * from md5 of a fixed tag — the same generator feeds the oracle's
    * literal plane table, so both engines see identical planes.
    */
  def planeWInt(j: Int, i: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"pl${j}_$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    (java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L
  }

  // weight matrix, dimension-major (w(i*nPlanes + j)) so the inner plane
  // loop reads contiguously; built once per (nPlanes, dims) per JVM
  private val matrices = new ConcurrentHashMap[(Int, Int), Array[Long]]()

  private def matrix(nPlanes: Int, dims: Int): Array[Long] =
    matrices.computeIfAbsent((nPlanes, dims), { case (p, d) =>
      val w = new Array[Long](d * p)
      var i = 0
      while (i < d) {
        var j = 0
        while (j < p) { w(i * p + j) = planeWInt(j, i + 1); j += 1 }
        i += 1
      }
      w
    })

  /** All `nPlanes` sign bits of `arr` packed into one long. Elements
    * beyond `dims` carry no plane weight and are ignored (the relational
    * formulation's join on the dimension index did the same).
    */
  def sign_lsh_sig(arr: ArrayData, nPlanes: Int, dims: Int): Long = {
    val w = matrix(nPlanes, dims)
    val dots = new Array[Long](nPlanes)
    val n = math.min(arr.numElements(), dims)
    var i = 0
    while (i < n) {
      val vm = math.floor(arr.getFloat(i).toDouble * 1000000.0).toLong
      val base = i * nPlanes
      var j = 0
      while (j < nPlanes) { dots(j) += vm * w(base + j); j += 1 }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < nPlanes) { if (dots(j) >= 0L) sig |= 1L << j; j += 1 }
    sig
  }

  /** Column-API entry point. */
  def signLshSig(embedding: Column, nPlanes: Int, dims: Int): Column =
    Kernels.SignLshSig.using(nPlanes, dims)(embedding)
}
