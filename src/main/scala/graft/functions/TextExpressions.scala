package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Tokenization-adjacent kernels: word n-gram shingling, char k-grams,
  * and the fused chunk-statistics pass (`word_shingles`, `char_grams`,
  * `chunk_stats` in [[Kernels]]). Each is the bit-exact compiled twin of
  * a `transform(sequence(...), ...)` tower, which would run as
  * interpreted lambda dispatch per element (the same shape measured 74×
  * slower than codegen on the winnow path); TextKernelSpec pins
  * kernel ≡ expression. The DuckDB oracles mirror the expression
  * semantics, which the kernels reproduce exactly.
  *
  * Corpus contract (shared with every text kernel in this package):
  * ASCII text, so UTF-16 units = codepoints = Spark's character
  * positions.
  */
object TextKernels {

  /** Word n-gram shingles of `text` under whitespace tokenization —
    * `transform(sequence(1, size-n+1), i => concat_ws(" ",
    * slice(split(text, " ", -1), i, n)))` compiled: token j's span in
    * the ORIGINAL string is [start_j, end_j) and every separator is
    * exactly one space, so shingle j is the substring from start_j to
    * end_{j+n-1} — zero token materialization, one substring copy per
    * shingle. Empty tokens at runs/edges are tokens (split -1
    * semantics); below n tokens the array is empty (the expression's
    * load-bearing guard).
    */
  def word_shingles(text: UTF8String, n: Int): ArrayData = {
    val s = text.toString
    val len = s.length
    // token starts: position 0 and every position after a space
    var nTok = 1
    var i = 0
    while (i < len) { if (s.charAt(i) == ' ') nTok += 1; i += 1 }
    val m = nTok - n + 1
    if (m <= 0)
      return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](nTok)
    starts(0) = 0
    var t = 1
    i = 0
    while (i < len) {
      if (s.charAt(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val from = starts(j)
      val until = if (j + n < nTok) starts(j + n) - 1 else len
      out(j) = UTF8String.fromString(s.substring(from, until))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** All k-char grams of `s`, position order — the compiled twin of
    * `transform(sequence(1, length-k+1), i => substr(i, k))`, with the
    * shingles guard (empty below k chars) replacing the unguarded
    * expression's descending-sequence degeneracy — identical output
    * wherever the expression was well-defined (every real name is ≥ k
    * chars; the guard is pinned in TextKernelSpec).
    */
  def char_grams(text: UTF8String, k: Int): ArrayData = {
    val s = text.toString
    val m = s.length - k + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      out(i) = UTF8String.fromString(s.substring(i, i + k))
      i += 1
    }
    new GenericArrayData(out)
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  private def sha256Hex(bytes: Array[Byte], md: MessageDigest): UTF8String = {
    md.reset()
    val d = md.digest(bytes)
    val cs = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      cs(2 * i) = hexDigits((d(i) >> 4) & 0xf)
      cs(2 * i + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromString(new String(cs))
  }

  /** The fused chunk pass: for chunk i of `text` (chars
    * [i·stride, i·stride + chunkLen), i = 0 .. (len-1) div stride),
    * emit (chunk_idx, sha256 hex of the chunk's UTF-8 bytes,
    * chunk_chars, chunk_tokens). The expression tower evaluated the
    * substring THREE times per chunk (sha, length, token count) through
    * interpreted lambdas; this is one pass, one substring, one digest.
    * Empty text mirrors the expression edge exactly: nc = (0-1) div
    * stride + 1 = 1 (SQL integer division truncates toward zero), one
    * empty chunk, 1 token (split -1 tokenizes "" as one empty token).
    */
  def chunk_stats(text: UTF8String, chunkLen: Int, stride: Int): ArrayData = {
    val s = text.toString
    val len = s.length
    val nc = ((len - 1).toLong / stride) + 1L
    val md = MessageDigest.getInstance("SHA-256")
    val out = new Array[Any](nc.toInt)
    var i = 0L
    while (i < nc) {
      val from = (i * stride).toInt
      val until = math.min(from + chunkLen, len)
      val chunk = s.substring(from, until)
      var nTok = 1L
      var j = 0
      while (j < chunk.length) {
        if (chunk.charAt(j) == ' ') nTok += 1L
        j += 1
      }
      out(i.toInt) = InternalRow(i,
        sha256Hex(chunk.getBytes(StandardCharsets.UTF_8), md),
        (until - from).toLong, nTok)
      i += 1L
    }
    new GenericArrayData(out)
  }
}
