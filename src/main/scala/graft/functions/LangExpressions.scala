package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** All language-profile scores in one pass: scoreₗ = Σᵢ wₗᵢ ·
  * countNonOverlap(text, sₗᵢ), returned as array<long> in profile
  * declaration order.
  *
  * The column formulation runs one `regexp_replace` over the full text
  * PER (language, needle) — L·W regex passes per row (15 for the
  * shipped profiles), each paying regex-engine dispatch for what is a
  * plain substring count. This kernel makes the same counts with
  * `indexOf` advances in compiled code. Non-overlapping left-to-right
  * counting is exactly the replace-trick's semantics
  * ((len − len(replace(text, s, ''))) / len(s)), which the DuckDB
  * oracle keeps using verbatim — the kernel must and does match it
  * bit-for-bit (oracle-gated, plus the spec's cross-check against the
  * regex formulation).
  *
  * Declared as [[Kernels.LangScores]]; weights and needles
  * ride in as `ObjectType` literals, so the generated source is identical
  * for any profile set and janino caches one compiled class.
  */
object LangScores {

  def lang_scores(text: UTF8String, weights: Array[Array[Long]],
                  needles: Array[Array[String]]): ArrayData = {
    val s = text.toString
    val out = new Array[Long](weights.length)
    var l = 0
    while (l < weights.length) {
      val ws = weights(l)
      val ns = needles(l)
      var score = 0L
      var i = 0
      while (i < ns.length) {
        val n = ns(i)
        var cnt = 0L
        var idx = s.indexOf(n)
        while (idx >= 0) {
          cnt += 1
          idx = s.indexOf(n, idx + n.length)
        }
        score += ws(i) * cnt
        i += 1
      }
      out(l) = score
      l += 1
    }
    new GenericArrayData(out)
  }
}
