package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable hashing primitives.
  *
  * Every hash used by the dedup/fingerprint operators must be computable
  * bit-identically by the DuckDB oracle, so everything bottoms out in md5
  * (the one cryptographic hash both engines expose with identical hex
  * output). Spark's native murmur3 `hash()` is NOT reproducible in DuckDB
  * and is deliberately not used for any oracle-checked value.
  *
  * All expressions here are built from codegen'd built-ins (md5, conv,
  * substring, cast) — no UDFs, so Catalyst folds them into whole-stage
  * codegen and they survive column pruning / predicate pushdown.
  */
object Hashing {

  /** 60-bit non-negative hash: first 15 hex chars of md5, as a long.
    * DuckDB mirror: `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`.
    *
    * Production note: md5 is the cross-engine-verifiability tax — a
    * deployment without the DuckDB oracle would swap this for Spark's
    * native `xxhash64` (same 64-bit shape, several times faster, still
    * no UDF) without touching any downstream operator.
    */
  def md5Long(c: Column): Column = Kernels.Md5Long60(c.cast("binary"))

  /** The composable (built-ins only) formulation — identical value,
    * ~3 string round-trips per row slower than [[HashUtil.md5long60]];
    * kept for reference and as the parity cross-check in tests.
    */
  def md5LongComposable(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** The same primitive as oracle SQL over expression `e`. */
  def md5LongSql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** Mersenne prime 2^31-1: the universal-hash modulus for MinHash
    * permutations h_j(x) = (a_j*x + b_j) mod p. a_j*x stays < 2^62 for
    * x < p, so 64-bit arithmetic never overflows in either engine.
    */
  val MinhashP: Long = 2147483647L

  /** Fixed (a_j, b_j) permutation seeds — 16 permutations. Literal
    * constants (not derived from Random) so the DuckDB oracle SQL can be
    * generated with the same numbers.
    */
  val MinhashSeeds: Seq[(Long, Long)] = Seq(
    (3L, 17L), (5L, 29L), (7L, 41L), (11L, 53L),
    (13L, 67L), (17L, 79L), (19L, 97L), (23L, 103L),
    (29L, 113L), (31L, 127L), (37L, 139L), (41L, 151L),
    (43L, 163L), (47L, 179L), (53L, 191L), (59L, 211L))

  /** SimHash width (bits). 32 keeps the per-doc aggregate at 32 sums and
    * the value in a BIGINT-safe range in both engines.
    */
  val SimhashBits: Int = 32

  val SimhashMod: Long = 1L << 32

  /** Fixed-point micro-units: floor(1e6 * x) as a long. Both engines
    * compute the same IEEE-754 double for the same input expression tree,
    * so the floor is bit-deterministic — unlike `round(x, 6)`, whose
    * half-up tie-breaking differs between BigDecimal (Spark) and
    * C rounding (DuckDB).
    */
  def micro(c: Column): Column = floor(lit(1000000.0) * c).cast("long")

  def microSql(e: String): String =
    s"CAST(floor(1000000.0 * ($e)) AS BIGINT)"
}
