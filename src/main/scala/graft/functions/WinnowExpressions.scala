package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** All k-gram rolling hashes of a string, in position order (index i =
  * the gram starting at character i) — the UN-winnowed sibling of
  * [[WinnowFingerprints]], for operators that need the gram's POSITION
  * (exact-substring span detection): two documents share a k-character
  * substring iff they share a gram hash, and the array index says
  * where.
  *
  * The winnow kernel's O(n) rolling update ([[hashes]], shared: one
  * place to audit); no window-min, no dedup — every position's hash is
  * emitted. The modulus can be far larger than the winnow oracle's 2²⁵
  * because the mirroring DuckDB `list_reduce` seeds its accumulator
  * with `CAST(0 AS BIGINT)`: products stay under 2⁶³ for mod < 2⁵⁷.
  */
object GramHashes {

  /** The shared rolling-hash core of the gram and winnow kernels:
    * hs(i) = polynomial hash of s[i, i+k) base 31 mod `mod`, each a
    * rolling update of its predecessor (drop the outgoing char's power
    * term, shift, add the incoming char). Empty array below k chars.
    */
  private[functions] def hashes(s: String, k: Int, mod: Long): Array[Long] = {
    val n = s.length
    if (n < k) return Array.empty[Long]
    val m = n - k + 1
    var powK = 1L
    var t = 0
    while (t < k - 1) { powK = (powK * 31L) % mod; t += 1 }
    val hs = new Array[Long](m)
    var h = 0L
    var j = 0
    while (j < k) { h = (h * 31L + s.charAt(j).toLong) % mod; j += 1 }
    hs(0) = h
    var i = 1
    while (i < m) {
      // h, (c·powK)%mod ∈ [0, mod): difference ∈ (-mod, mod), so one
      // +mod before the final %mod keeps everything non-negative
      h = (h - (s.charAt(i - 1).toLong * powK) % mod + mod) % mod
      h = (h * 31L + s.charAt(i + k - 1).toLong) % mod
      hs(i) = h
      i += 1
    }
    hs
  }

  def gram_hashes(text: UTF8String, k: Int, mod: Long): ArrayData =
    new GenericArrayData(hashes(text.toString, k, mod))
}

/** Per-document deduplicated gram hashes with their FIRST (1-based)
  * position: array of (h, pos) structs, one per distinct gram hash.
  *
  * This is [[GramHashes.gram_hashes]] with the per-document dedup folded
  * into the kernel: the (hash, doc) → first-position reduction that would
  * otherwise be a full shuffle of the ~1-row-per-character gram stream
  * happens map-side, inside the expression, for free — the downstream
  * operator sees only distinct grams per document (≤ one per position,
  * typically far fewer on repetitive text).
  */
object GramFirstPos {

  def gram_first_pos(text: UTF8String, k: Int, mod: Long): ArrayData = {
    val hs = GramHashes.hashes(text.toString, k, mod)
    // first-seen position per hash; the scan is left-to-right, so
    // first-seen = minimum position
    val seen = new java.util.LinkedHashMap[java.lang.Long, Long]()
    var i = 0
    while (i < hs.length) {
      if (!seen.containsKey(hs(i))) seen.put(hs(i), (i + 1).toLong)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.entrySet().iterator()
    var idx = 0
    while (it.hasNext) {
      val e = it.next()
      out(idx) = org.apache.spark.sql.catalyst.InternalRow(
        e.getKey.longValue(), e.getValue)
      idx += 1
    }
    new GenericArrayData(out)
  }
}

/** Winnowing fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD'03), the
  * `winnow_fingerprints` kernel ([[Kernels]]): polynomial rolling hash
  * over every k-char gram (O(1) update per position), minimum of each
  * w-window of gram hashes via a monotonic deque (amortized O(1) per
  * position — O(n) total), first-seen-deduplicated.
  *
  * Why a kernel: the expression-only formulation — nested
  * `transform(sequence(...), aggregate(sequence(...), ...))` — is a
  * higher-order function tower, i.e. CodegenFallback with interpreted
  * lambda dispatch *per character per gram*; measured 37 s for the
  * sf0.01 corpus. This compiled loop does the identical integer math in
  * milliseconds, called directly from whole-stage codegen.
  *
  * Semantics are mirrored literally by the DuckDB oracle
  * (`list_reduce`-based rolling hash): base 31, modulus 2²⁵ (products
  * stay in int32 range for the oracle), char codes are UTF-16 units =
  * codepoints on the BMP (the corpus contract is ASCII).
  */
object WinnowFingerprints {

  /** True O(n): each gram hash is a rolling update of its predecessor
    * ([[GramHashes.hashes]]), and each window minimum comes from a
    * monotonic deque (every index is pushed and popped at most once). The per-position k· and
    * w· rescans of the naive formulation are real CPU at 100 TB of
    * text; the hash values and selected minima are bit-identical to it
    * (property-pinned in WinnowPropertySpec).
    *
    * Returns distinct window minima in first-seen order (consumers sort
    * or set-compare; the oracle's `list_distinct` has its own order, so
    * equality is on the SET, which explode + ORDER BY restores).
    */
  def winnow_fingerprints(text: UTF8String, k: Int, w: Int,
                          mod: Long): ArrayData = {
    val hs = GramHashes.hashes(text.toString, k, mod)
    if (hs.isEmpty) return new GenericArrayData(Array.empty[Long])
    val m = hs.length
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    if (m < w) {
      var mn = hs(0)
      i = 1
      while (i < m) { if (hs(i) < mn) mn = hs(i); i += 1 }
      out.add(mn)
    } else {
      // monotonic deque of indices with strictly increasing hash values;
      // strict pops keep the EARLIER of equal values at the front, so the
      // front is always the window's leftmost minimum
      val dq = new Array[Int](m)
      var head = 0
      var tail = 0
      i = 0
      while (i < m) {
        while (tail > head && hs(dq(tail - 1)) > hs(i)) tail -= 1
        dq(tail) = i
        tail += 1
        if (dq(head) <= i - w) head += 1
        if (i >= w - 1) out.add(hs(dq(head)))
        i += 1
      }
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var idx = 0
    while (it.hasNext) { arr(idx) = it.next(); idx += 1 }
    new GenericArrayData(arr)
  }
}
