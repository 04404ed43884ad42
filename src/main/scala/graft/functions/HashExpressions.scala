package graft.functions

import java.security.MessageDigest

/** The `md5long60` kernel ([[Kernels.Md5Long60]], behind
  * [[Hashing.md5Long]]).
  *
  * The composable formulation — `conv(substring(md5(x), 1, 15), 16, 10)
  * .cast(long)` — materializes a 32-char hex string, slices it, and
  * re-parses it per row; this kernel goes digest bytes → long directly.
  * Same value, one allocation instead of three string round-trips, on
  * the path every shingle and token of the dedup family passes through.
  */
object HashUtil {
  private val digest = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** First 60 bits of md5 as a non-negative long — bit-identical to
    * `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`: the first 15 hex
    * chars are the first 7.5 digest bytes, i.e. the big-endian first
    * 8 bytes shifted right one nibble.
    */
  def md5long60(bytes: Array[Byte]): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(bytes)
    val top =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    top >>> 4
  }
}
