package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.functions.Hashing.md5Long
import graft.sources.Tables

/** Count-min sketch as a first-class, oracle-checked operator.
  *
  * A CMS with fixed universal-hash rows is fully deterministic, so
  * unlike HLL/approx_percentile (whose implementations differ per
  * engine) it CAN be verified against DuckDB: both engines build the
  * same d×w counter table and read the same point estimates.
  *
  * Scale shape: building the sketch is d tiny hash-aggregations over
  * the stream (the shuffle carries (bucket, partial-count) pairs — at
  * most d×w rows per map partition, independent of input size); the
  * probe side joins each key against d ≤w-row broadcast tables. This is
  * the mergeable-summary pattern: per-partition sketches sum
  * cell-wise, which is exactly what partial aggregation does here.
  *
  * Uses the first `Depth` [[Hashing.MinhashSeeds]] rows over the md5
  * key hash; estimates upper-bound true counts (min over rows).
  */
object SketchQueries {

  val Depth = 4
  val Width = 256

  private val p = Hashing.MinhashP

  /** Per-user true count vs CMS estimate over `events.user_id`. */
  def qCms(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select((md5Long(col("user_id").cast("string")) % p).as("h"),
        col("user_id"))
    val keys = ev.groupBy("user_id", "h")
      .agg(count(lit(1)).as("true_n"))
    val joined = (0 until Depth).foldLeft(keys) { (acc, j) =>
      val (a, b) = Hashing.MinhashSeeds(j)
      val sketch = ev
        .groupBy((((lit(a) * col("h") + lit(b)) % p) % Width)
          .as(s"bucket$j"))
        .agg(count(lit(1)).as(s"c$j"))
      acc.withColumn(s"bucket$j",
          ((lit(a) * col("h") + lit(b)) % p) % Width)
        .join(broadcast(sketch), s"bucket$j")
    }
    joined.select(col("user_id"), col("true_n"),
        least((0 until Depth).map(j => col(s"c$j")): _*).as("cms_est"))
      .orderBy("user_id")
  }

  private val cmsOracle: String = {
    def bucket(j: Int, h: String): String = {
      val (a, b) = Hashing.MinhashSeeds(j)
      s"((($a * $h + $b) % $p) % $Width)"
    }
    val h = s"${Hashing.md5LongSql("CAST(user_id AS VARCHAR)")} % $p"
    val sketches = (0 until Depth).map { j =>
      s"""sk$j AS (
         |  SELECT ${bucket(j, "h")} AS bucket, count(*) AS c
         |  FROM ev_h GROUP BY 1
         |)""".stripMargin
    }.mkString(",\n")
    val joins = (0 until Depth).map { j =>
      s"JOIN sk$j s$j ON ${bucket(j, "u.h")} = s$j.bucket"
    }.mkString("\n")
    val leastExpr = (0 until Depth).map(j => s"s$j.c").mkString(", ")
    s"""WITH ev_h AS (SELECT $h AS h, user_id FROM events),
       |u AS (SELECT user_id, h, count(*) AS true_n
       |      FROM ev_h GROUP BY 1, 2),
       |$sketches
       |SELECT u.user_id, u.true_n, least($leastExpr) AS cms_est
       |FROM u
       |$joins
       |ORDER BY u.user_id""".stripMargin
  }

  /** X41 Bloom filter: bits (and the FP regime) of the membership
    * sketch. 1024 bits / 4 probes over ~400 train docs at sf0.01 sits
    * deliberately in the measurable-FP load region (kn/m ≈ 1.6 ⇒
    * p_fp ≈ 0.4), so the audit actually exercises false positives
    * instead of reporting a vacuous all-clear; production sizes m to
    * the target rate, the operator shape is identical. 32 bits used
    * per stored word keep every shift ≤ 31 — no sign/overflow edge on
    * either engine.
    */
  val BloomBits = 1024
  val BloomK = 4

  /** X41: deterministic Bloom-filter membership audit — the
    * approximate-membership sibling of the CMS above ([[qCms]]'s
    * discipline: fixed md5-derived probe positions make the sketch
    * bit-identical across engines, so unlike HLL it IS oracle-able).
    * The filter summarizes the TRAIN split's content hashes; every
    * eval doc probes it, and the output reports claimed vs actual
    * membership with the false-positive flag — the measured FP rate
    * at this load, the number that sizes m in production.
    *
    * Scale shape: the filter is a mergeable 32-word summary — the
    * build is one explode + one (word, partial bit_or) Exchange that
    * carries at most 32 rows per map partition REGARDLESS of corpus
    * size (partial bit_or partials OR together, the mergeable-summary
    * property); probes join a broadcast 32-row table; the exact-
    * membership audit column is one key-keyed left join, which a
    * production deployment drops once the FP rate is accepted.
    */
  def qBloom(spark: SparkSession, dir: String): DataFrame = {
    val keyed = bloomKeyed(Tables.documents(spark, dir))
    val trainKeys = keyed.filter(col("split") === "train")
      .select("key").distinct().withColumn("present", lit(1L))
    bloomClaims(keyed).join(trainKeys, Seq("key"), "left")
      .select(col("doc_id"), col("claimed"),
        coalesce(col("present"), lit(0L)).as("actual"))
      .withColumn("false_positive",
        when(col("claimed") === 1L && col("actual") === 0L, 1L)
          .otherwise(0L))
      .orderBy("doc_id")
  }

  private def bloomKeyed(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      TextOps.splitAssign(TextQueries.TrainPct, TextQueries.ValPct)
        .as("split"),
      sha2(col("text").cast("binary"), 256).as("key"))

  /** The sketch-side claims relation (doc_id, key, claimed) — what a
    * deployment serves (the exact-membership audit join is dropped
    * once the FP rate is accepted; [[bloomServing]] below is that
    * form, spec-pinned equal to the audit's overlapping columns).
    */
  private def bloomPositions: Column =
    posexplode(array((0 until BloomK).map(i =>
      md5Long(concat(lit(s"bloom:$i:"), col("key"))) % BloomBits): _*))

  private val bloomMask =
    expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")

  private def bloomWord = (col("pos") / 32).cast("long")

  /** The 32-word filter of a (key)-keyed frame — the mergeable
    * summary itself (word partials OR together), factored so the T18
    * streaming store shares the exact kernel with the batch build.
    */
  def bloomWordsOf(keys: DataFrame): DataFrame =
    keys.select(bloomPositions.as(Seq("i0", "pos")))
      .select(bloomWord.as("w"), bloomMask.as("mask"))
      .groupBy("w").agg(bit_or(col("mask")).as("word"))

  /** Membership claims of a (doc_id, key) frame against a 32-word
    * filter relation — the probe side, shared with T18 serving.
    */
  def bloomProbe(words: DataFrame, keyed: DataFrame): DataFrame =
    keyed.select(col("doc_id"), col("key"),
        bloomPositions.as(Seq("i0", "pos")))
      .select(col("doc_id"), col("key"), bloomWord.as("w"),
        bloomMask.as("mask"))
      .join(broadcast(words), Seq("w"), "left")
      .select(col("doc_id"), col("key"),
        when(col("word").isNotNull &&
          col("word").bitwiseAND(col("mask")) =!= 0L, 1L)
          .otherwise(0L).as("hit"))
      .groupBy("doc_id", "key").agg(min("hit").as("claimed"))

  private def bloomClaims(keyed: DataFrame): DataFrame =
    bloomProbe(
      bloomWordsOf(keyed.filter(col("split") === "train").select("key")),
      keyed.filter(col("split") =!= "train"))

  /** X41 deployment form: membership claims from the broadcast filter
    * words ONLY — no exact-membership join (the audit column a
    * production gate drops). Output (doc_id, claimed) is spec-pinned
    * equal to [[qBloom]]'s overlapping columns, and the plan is
    * pinned join-shape: the filter is the only join, a broadcast.
    */
  def bloomServing(docs: DataFrame): DataFrame =
    bloomClaims(bloomKeyed(docs))
      .select("doc_id", "claimed").orderBy("doc_id")

  private val bloomOracle: String = {
    val tp = TextQueries.TrainPct
    val vp = TextQueries.ValPct
    val splitCase = {
      val b = s"${Hashing.md5LongSql(
        "'split:' || CAST(doc_id AS VARCHAR)")} % 100"
      s"""CASE WHEN $b < $tp THEN 'train'
         |     WHEN $b < ${tp + vp} THEN 'val'
         |     ELSE 'test' END""".stripMargin
    }
    val iVals = (0 until BloomK).map(i => s"($i)").mkString(", ")
    val posExpr = Hashing.md5LongSql(
      "'bloom:' || CAST(i.i AS VARCHAR) || ':' || key") + s" % $BloomBits"
    s"""WITH bk AS (
       |  SELECT doc_id, $splitCase AS split, sha256(text) AS key
       |  FROM documents
       |),
       |bp AS (
       |  SELECT doc_id, split, key, $posExpr AS pos
       |  FROM bk, (VALUES $iVals) i(i)
       |),
       |bw AS (
       |  SELECT pos // 32 AS w,
       |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS word
       |  FROM bp WHERE split = 'train' GROUP BY 1
       |),
       |bc AS (
       |  SELECT p.doc_id, p.key,
       |    min(CASE WHEN w.word IS NOT NULL AND
       |          (w.word & (CAST(1 AS BIGINT) <<
       |                     CAST(p.pos % 32 AS INT))) <> 0
       |        THEN 1 ELSE 0 END) AS claimed
       |  FROM bp p LEFT JOIN bw w ON p.pos // 32 = w.w
       |  WHERE p.split <> 'train' GROUP BY 1, 2
       |),
       |tk AS (SELECT DISTINCT key FROM bk WHERE split = 'train')
       |SELECT bc.doc_id, CAST(bc.claimed AS BIGINT) AS claimed,
       |  CAST(CASE WHEN tk.key IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS actual,
       |  CAST(CASE WHEN bc.claimed = 1 AND tk.key IS NULL
       |       THEN 1 ELSE 0 END AS BIGINT) AS false_positive
       |FROM bc LEFT JOIN tk USING (key)
       |ORDER BY bc.doc_id""".stripMargin
  }

  /** Register count for the EXPLICIT md5-based HLL (the streaming HLL's
    * state): m = 256 → rsd ≈ 1.04/√256 = 6.5 %, the smallest register
    * file that still demonstrates the full estimator pipeline. A
    * production rollup would pick rsd 0.02, which needs 2^14 registers
    * (±2% on billions of distincts from a ~16 KB sketch per group).
    */
  val HllM = 256L

  /** Explicit HLL registers of a (user_id) frame: bucket = low 8 bits
    * of the 60-bit md5, rho = leading-zero rank of the remaining 52
    * bits (53 when they are all zero). Register merge is element-wise
    * max — the semilattice the T20 store rides. The register relation
    * is a plain DataFrame, so streamed-vs-batch parity is bit-exact
    * and testable, and [[qHll]] serves from it directly.
    */
  def hllRegistersOf(keys: DataFrame): DataFrame =
    hllRegistersGrouped(keys.select(lit(1L).as("g"), col("user_id")),
      "g").drop("g")

  /** [[hllRegistersOf]] per group column — ONE rho kernel shared by
    * the T20 streaming store (trivial group) and X70's per-group
    * register census: bucket = h % m, rho = leading-zero rank of
    * h div m (53 when zero; integer `div`, never `/` — Column./ is
    * double division and a 60-bit hash loses low bits past 2^53),
    * register merge = element-wise max.
    */
  def hllRegistersGrouped(keys: DataFrame, group: String): DataFrame = {
    val h = md5Long(col("user_id").cast("string"))
    val hashed = keys.select(col(group), (h % HllM).as("bucket"),
        h.as("h"))
      .select(col(group), col("bucket"), expr(s"h div $HllM").as("v"))
    hashed.select(col(group), col("bucket"),
        when(col("v") === 0L, lit(53L))
          .otherwise(lit(53L) - length(bin(col("v")))).cast("long")
          .as("rho"))
      .groupBy(group, "bucket").agg(max("rho").as("rho"))
  }

  /** X70: register-explicit HLL distinct-count census — the audit
    * form of the sketch [[qHll]] serves (all intermediate register
    * statistics emitted as columns; both ids share the register path
    * and both are fully hash-oracled). Built on the
    * T20 register relation ([[hllRegistersGrouped]]), every stage is
    * cross-engine exact: the md5 bucket/rho split is integer, and the
    * raw-HLL denominator Z = Σⱼ 2^(−Mⱼ) is DYADIC — scaled by 2⁵³ it
    * is the exact integer z_int = (m − observed)·2⁵³ + Σ 2^(53−ρ)
    * (≤ m·2⁵³ = 2⁶¹, Long-exact; empty registers contribute 2⁰ at
    * scale, i.e. 2⁵³), so the only doubles are the α·m²·2⁵³ literal
    * chain and ONE final division, floored (Flajolet et al. 2007, raw
    * estimator; the small-range linear-counting switch is the SERVING
    * branch — T20's estimate() — deliberately outside this census,
    * which emits v_zero = m − observed so serving can branch).
    * err_ppm against the exact count rides in the same row; integer
    * product exact to est ≈ 9·10¹² (DuckDB widens to HUGEINT then
    * casts — identical floor).
    *
    * Scale shape: ONE (group, bucket) partial-agg'd Exchange whose
    * payload is capacity-bounded at m = 256 rows per group regardless
    * of input (the mergeable-summary property — partials are
    * element-wise-max registers, never keys); the exact-count audit
    * column is the deployment-droppable expensive side, the
    * q_join_card discipline.
    */
  def qHllCensus(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val exact = ev.groupBy("event_type")
      .agg(count_distinct(col("user_id")).as("exact_users"))
    hllServing(ev.select(col("event_type"), col("user_id")),
        "event_type")
      .join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_buckets"), col("v_zero"),
        col("z_int"), col("est_users"), col("exact_users"),
        expr("(1000000 * abs(est_users - exact_users))" +
          " div greatest(exact_users, 1)").as("err_ppm"),
        col("use_lc"))
      .orderBy("event_type")
  }

  /** X70's deployment (audit-free) serving form — the
    * [[bloomServing]]/[[joinCardServing]] discipline: the sketch
    * columns (n_buckets, v_zero, z_int, est_users, use_lc) verbatim,
    * WITHOUT the exact `count_distinct` audit side a deployment
    * drops (at 100 TB the exact distinct count is the expensive
    * relation; the register census is capacity-bounded at m rows per
    * group). Pinned equal to [[qHllCensus]] on the shared columns,
    * with zero exact-count aggregates in the plan (SketchSpec).
    */
  def hllServing(keys: DataFrame, group: String): DataFrame = {
    val regs = hllRegistersGrouped(keys, group)
    val z = regs.groupBy(group).agg(
      count(lit(1)).as("n_buckets"),
      sum(expr("shiftleft(cast(1 as bigint), cast(53 - rho as int))"))
        .as("z_obs"))
    // α_256·m²·2⁵³ as a pinned literal chain — left-associated, every
    // operand double, mirrored token for token in the oracle
    val alphaNum = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) *
      lit(65536.0) * lit(9007199254740992.0)
    z.withColumn("z_int",
        (lit(HllM) - col("n_buckets")) * lit(9007199254740992L) +
          col("z_obs"))
      .withColumn("est_users",
        floor(alphaNum / col("z_int")).cast("long"))
      .select(col(group), col("n_buckets"),
        (lit(HllM) - col("n_buckets")).as("v_zero"), col("z_int"),
        col("est_users"),
        // Flajolet's small-range switch (E ≤ 5m/2 with empty
        // registers → serve linear counting instead): integer-exact
        // decision, so the census is self-describing about which
        // regime the raw estimate is in
        when(col("est_users") <= lit(5L * HllM / 2L) &&
          col("n_buckets") < lit(HllM), lit(1L)).otherwise(lit(0L))
          .as("use_lc"))
      .orderBy(group)
  }

  /** Linear-counting serving table: floor(m·ln(m/V)) for V ∈ 1..m,
    * precomputed ONCE here and consumed as identical integer literals
    * by BOTH engines (ln is not reproducible to the last ulp across
    * libm implementations; a shared literal table is — the same
    * move as the sign-LSH plane table). V = v_zero, the count of
    * empty registers; the m+0 case never serves LC (use_lc requires
    * n_buckets < m ⟺ v_zero ≥ 1).
    */
  private val hllLcTable: IndexedSeq[(Long, Long)] =
    (1 to HllM.toInt).map(v => (v.toLong,
      math.floor(HllM * math.log(HllM.toDouble / v)).toLong))

  /** HLL approx-distinct users per event type, next to the exact
    * distinct count and the absolute error in parts-per-million —
    * served from the engine's OWN register-explicit sketch (the T20
    * store's registers, [[hllRegistersGrouped]]) with Flajolet's
    * small-range switch: raw α·m²/Z when the estimate is large,
    * linear counting m·ln(m/v_zero) (via [[hllLcTable]]) below 5m/2
    * with empty registers remaining.
    *
    * History: through round 14 this query ran Spark's internal
    * `approx_count_distinct` (HLL++), whose register layout and bias
    * tables are implementation-specific — DuckDB computes a different
    * estimate for the same set, so the id carried the corpus's one
    * rows-only contract. Serving the portable register sketch instead
    * makes the estimate deterministic, identical
    * to what the streaming store serves, and fully hash-oracled —
    * and it is the better engineering: batch and streaming now answer
    * distinct-count questions from the SAME sketch definition.
    *
    * Scale shape: ONE (group, bucket) partial-agg'd Exchange whose
    * payload is capacity-bounded at m = 256 rows per group (mergeable
    * summary — partials are element-wise-max registers, never keys);
    * the LC table is a 256-row broadcast; the exact-count audit column
    * is the deployment-droppable expensive side.
    */
  def qHll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val exact = ev.groupBy("event_type")
      .agg(count_distinct(col("user_id")).as("exact_users"))
    val lc = hllLcTable.toDF("v_zero", "lc_users")
    hllServing(ev.select(col("event_type"), col("user_id")),
        "event_type")
      .join(broadcast(lc), Seq("v_zero"), "left")
      .join(exact, Seq("event_type"))
      .select(col("event_type"),
        when(col("use_lc") === 1L, col("lc_users"))
          .otherwise(col("est_users")).as("approx_users"),
        col("exact_users"))
      .withColumn("err_ppm",
        expr("(1000000 * abs(approx_users - exact_users))" +
          " div greatest(exact_users, 1)"))
      .orderBy("event_type")
  }

  /** X49: K-Minimum-Values distinct-count sketch — the FULLY
    * oracle-able sibling of q_hll: because the hash is the shared md5
    * primitive and the estimator is pure arithmetic over the k-th
    * minimum, both engines compute the IDENTICAL estimate — so unlike
    * HLL this sketch gets rows+schema+hash verification, with the
    * measured error against the exact count in the same row. KMV
    * (Bar-Yossef et al. 2002): with hashes uniform on [0, 2⁶⁰), the
    * k-th smallest hash h₍ₖ₎ estimates density k/n ≈ h₍ₖ₎/2⁶⁰, so
    * n̂ = (k−1)·2⁶⁰ / h₍ₖ₎ (the unbiased form). Sources with fewer
    * than k distinct values report the exact count (the KMV rule).
    *
    * Exactness: every arithmetic literal is DOUBLE on both engines
    * (CAST in SQL — bare fractional literals are DECIMAL in DuckDB),
    * one fixed-association multiply-divide per estimate, floored.
    *
    * Scale shape: the sketch is a BOUNDED minima set per group. The
    * production form keeps a k-sized heap per partition and merges
    * (mergeable-summary, like CMS/Bloom here); this formulation gets
    * the same bound declaratively: a threshold prefilter
    * h < 8k·2⁶⁰/n keeps ~8k expected survivors per group (P(<k
    * survivors) < e⁻¹⁰⁰ — and BOTH engines apply the same filter, so
    * even the astronomically-unlucky case stays bit-identical), and
    * the per-group rank window sorts only the ~8k survivors, never
    * the distinct-hash relation. The n in the threshold comes from
    * the exact count computed for the audit column anyway; a
    * production deployment seeds it from the previous sketch.
    */
  val KmvK = 64

  private val pow60 = "CAST(1152921504606846976 AS DOUBLE)"

  def qKmv(spark: SparkSession, dir: String): DataFrame =
    kmvCensus(Tables.documents(spark, dir))

  /** Per-source distinct word-5-gram hashes of a docs frame — the KMV
    * universe relation (thousands per source, so the estimator
    * actually fires; distinct TEXTS would be ≤ docs-per-source and
    * always take the exact branch). Factored so the T19 streaming
    * store shares the exact universe with the batch census.
    */
  def kmvHashes(docs: DataFrame): DataFrame =
    // parallelized: shingle kernel + md5 per row on a single-split
    // scan otherwise runs one-task (no-op for streaming batch inputs,
    // whose plans carry no file relation)
    TextOps.parallelized(docs).select(col("source"),
        explode(TextOps.textShingles(col("text"), 5)).as("sh"))
      .select(col("source"), md5Long(col("sh")).as("h")).distinct()

  /** Bottom-k per source of a (source, h) relation — the KMV state.
    * Union + re-take is an EXACT semilattice (the X64/T13 bottom-k
    * property), which is what makes the T19 store bit-identical to
    * the batch sketch.
    */
  def kmvBottomK(hs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("h")
    hs.distinct().withColumn("rn", row_number().over(w))
      .filter(col("rn") <= KmvK).select("source", "h")
  }

  /** Distinct-count estimates off a bottom-k state: exact when the
    * state holds fewer than k hashes (the whole set fits), else the
    * (k−1)·2⁶⁰/kth KMV estimator — the same branch [[kmvCensus]]
    * takes, so serving estimates match the batch census bit-for-bit.
    */
  def kmvEstimates(state: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("h")
    state.withColumn("rn", row_number().over(w))
      .groupBy("source").agg(count(lit(1)).as("n_state"),
        coalesce(max(when(col("rn") === KmvK, col("h"))), lit(0L))
          .as("kth_min"))
      .select(col("source"), col("n_state"), col("kth_min"),
        when(col("n_state") < KmvK, col("n_state"))
          .otherwise(floor(lit((KmvK - 1).toDouble) *
            lit(1.152921504606846976e18) / col("kth_min")).cast("long"))
          .as("est"))
      .orderBy("source")
  }

  /** X49's deployment (audit-free) serving form — the bottom-k state
    * plus [[kmvEstimates]], exactly the relation the T19 streaming
    * store serves: sketch columns (kth_min, est) equal to
    * [[kmvCensus]]'s (spec-pinned), WITHOUT the exact per-source
    * distinct count the audit carries (n_exact is the corpus-sized
    * side a deployment drops; the state is ≤ k rows per source).
    */
  def kmvServing(docs: DataFrame): DataFrame =
    kmvEstimates(kmvBottomK(kmvHashes(docs)))

  def kmvCensus(docs: DataFrame): DataFrame = {
    val hs = kmvHashes(docs)
    val exact = hs.groupBy("source").agg(count(lit(1)).as("n_exact"))
    val pref = hs.join(broadcast(exact), Seq("source"))
      .filter(col("n_exact") <= lit(8L * KmvK) ||
        col("h") < floor(lit(8.0 * KmvK) * lit(1.152921504606846976e18) /
          col("n_exact")).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("h")
    val kth = pref.withColumn("rn", row_number().over(w))
      .filter(col("rn") === KmvK)
      .select(col("source"), col("h").as("kth"))
    exact.join(kth, Seq("source"), "left")
      .select(col("source"), col("n_exact"),
        coalesce(col("kth"), lit(0L)).as("kth_min"),
        when(col("n_exact") < KmvK, col("n_exact"))
          .otherwise(floor(lit((KmvK - 1).toDouble) *
            lit(1.152921504606846976e18) / col("kth")).cast("long"))
          .as("est"))
      .withColumn("err_ppm",
        Hashing.micro((col("est") - col("n_exact")) / col("n_exact")))
      .orderBy("source")
  }

  private val kmvOracle =
    s"""WITH tok AS (
       |  SELECT source, string_split(text, ' ') AS toks FROM documents
       |),
       |shs AS (
       |  SELECT source,
       |    list_aggregate(toks[i:i+4], 'string_agg', ' ') AS sh
       |  FROM tok, unnest(range(1, greatest(len(toks) - 3, 1))) AS g(i)
       |),
       |hs AS (
       |  SELECT DISTINCT source, ${Hashing.md5LongSql("sh")} AS h
       |  FROM shs
       |),
       |ex AS (SELECT source, count(*) AS n_exact FROM hs GROUP BY 1),
       |pref AS (
       |  SELECT s.source, s.h, e.n_exact
       |  FROM hs s JOIN ex e USING (source)
       |  WHERE e.n_exact <= ${8 * KmvK}
       |     OR s.h < CAST(floor(CAST(${8 * KmvK} AS DOUBLE) * $pow60
       |                         / e.n_exact) AS BIGINT)
       |),
       |rk AS (
       |  SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |  FROM pref
       |),
       |kth AS (SELECT source, h AS kth FROM rk WHERE rn = $KmvK),
       |est AS (
       |  SELECT e.source, e.n_exact, COALESCE(k.kth, 0) AS kth_min,
       |    CASE WHEN e.n_exact < $KmvK THEN e.n_exact
       |         ELSE CAST(floor(CAST(${KmvK - 1} AS DOUBLE) * $pow60
       |                         / k.kth) AS BIGINT) END AS est
       |  FROM ex e LEFT JOIN kth k USING (source)
       |)
       |SELECT source, n_exact, kth_min, est,
       |  ${Hashing.microSql("(est - n_exact) / n_exact")} AS err_ppm
       |FROM est ORDER BY source""".stripMargin

  /** D32: KMV-sketched pairwise source overlap — the SKETCH twin of
    * X40's exact cross-source duplication census, and the shape a
    * 100 TB deployment actually runs first: X40 pays the full
    * inverted-index pair derivation to measure who shares bytes with
    * whom; THIS answers the same triage question from the ≤ k-row
    * per-source KMV states (the T19 store relation) via sketch-union
    * inclusion–exclusion — |A∩B| ≈ est(A) + est(B) − est(A∪B), where
    * the union sketch is the bottom-k of the two states' union (the
    * standard KMV union; Beyer et al. SIGMOD'07 §3.3) — and only the
    * pairs the sketch flags loud need the exact X40 pass. The EXACT
    * distinct-shingle intersection rides beside the estimate as the
    * audit column (the q_join_card discipline: the corpus-sized side
    * a deployment drops).
    *
    * Exactness: md5 hashing makes both engines' sketches IDENTICAL
    * (not just statistically equivalent), union + re-take is the
    * exact bottom-k semilattice, estimates take the same two branches
    * as [[kmvEstimates]] (exact below k, (k−1)·2⁶⁰/kth at k), and
    * inclusion–exclusion is integer arithmetic floored at 0 — every
    * column hash-verifiable.
    *
    * Scale shape: per-source states are ≤ k rows (the kmvBottomK
    * window — production keeps a k-heap per partition, the documented
    * X49 note); the pair grid is |sources|² broadcast rows
    * (whitelisted BNLJ) and every union/rank/estimate stage is
    * (pairs × 2k)-sized; the ONLY corpus-sized relation is the hash
    * set feeding the states and the audit intersection (one
    * h-co-partitioned self-join bounded by sources-per-hash).
    */
  def kmvOverlap(docs: DataFrame): DataFrame = {
    // eagerly materialized (Materialize.shared): the bottom-k state and
    // the exact-intersection audit consume it concurrently — a lazy
    // cache recomputes the shingle+md5 scan per consumer
    val hs = Materialize.shared(kmvHashes(docs))
    val state = kmvBottomK(hs)
    val est = kmvEstimates(state)
    val srcs = state.select("source").distinct()
    val pairs = srcs.select(col("source").as("source_a"))
      .crossJoin(broadcast(srcs.select(col("source").as("source_b"))))
      .filter(col("source_a") < col("source_b"))
    val u = pairs
      .join(state.withColumnRenamed("source", "source_a"), "source_a")
      .select("source_a", "source_b", "h")
      .unionByName(pairs
        .join(state.withColumnRenamed("source", "source_b"),
          "source_b")
        .select("source_a", "source_b", "h"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source_a", "source_b").orderBy("h")
    val ue = u.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= KmvK)
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_union_state"),
        coalesce(max(when(col("rn") === KmvK, col("h"))), lit(0L))
          .as("kth_union"))
      .withColumn("est_union",
        when(col("n_union_state") < KmvK, col("n_union_state"))
          .otherwise(floor(lit((KmvK - 1).toDouble) *
            lit(1.152921504606846976e18) / col("kth_union"))
            .cast("long")))
    val exact = Materialize.pinned(hs, "h").as("x")
      .join(hs.as("y"), Seq("h"))
      .filter(col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"),
        col("y.source").as("source_b"))
      .agg(count(lit(1)).as("n_inter_exact"))
    ue
      .join(broadcast(est.select(col("source").as("source_a"),
        col("est").as("est_a"))), "source_a")
      .join(broadcast(est.select(col("source").as("source_b"),
        col("est").as("est_b"))), "source_b")
      .join(exact, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("est_a"),
        col("est_b"), col("n_union_state"), col("kth_union"),
        col("est_union"),
        greatest(col("est_a") + col("est_b") - col("est_union"),
          lit(0L)).as("est_inter"),
        coalesce(col("n_inter_exact"), lit(0L)).as("n_inter_exact"))
      .orderBy("source_a", "source_b")
  }

  private val kmvOverlapOracle =
    s"""WITH tok AS (
       |  SELECT source, string_split(text, ' ') AS toks FROM documents
       |),
       |shs AS (
       |  SELECT source,
       |    list_aggregate(toks[i:i+4], 'string_agg', ' ') AS sh
       |  FROM tok, unnest(range(1, greatest(len(toks) - 3, 1))) AS g(i)
       |),
       |hs AS (
       |  SELECT DISTINCT source, ${Hashing.md5LongSql("sh")} AS h
       |  FROM shs
       |),
       |rk AS (
       |  SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |  FROM hs
       |),
       |st AS (SELECT source, h FROM rk WHERE rn <= $KmvK),
       |es AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_state,
       |    CASE WHEN count(*) < $KmvK THEN CAST(count(*) AS BIGINT)
       |         ELSE CAST(floor(CAST(${KmvK - 1} AS DOUBLE) * $pow60
       |                         / max(h)) AS BIGINT) END AS est
       |  FROM st GROUP BY source
       |),
       |srcs AS (SELECT DISTINCT source FROM st),
       |pr AS (
       |  SELECT a.source AS source_a, b.source AS source_b
       |  FROM srcs a, srcs b WHERE a.source < b.source
       |),
       |u AS (
       |  SELECT DISTINCT source_a, source_b, h FROM (
       |    SELECT p.source_a, p.source_b, s.h
       |    FROM pr p JOIN st s ON s.source = p.source_a
       |    UNION ALL
       |    SELECT p.source_a, p.source_b, s.h
       |    FROM pr p JOIN st s ON s.source = p.source_b
       |  )
       |),
       |ur AS (
       |  SELECT source_a, source_b, h, row_number() OVER (
       |    PARTITION BY source_a, source_b ORDER BY h) AS rn
       |  FROM u
       |),
       |ue AS (
       |  SELECT source_a, source_b,
       |    CAST(count(*) AS BIGINT) AS n_union_state,
       |    CAST(coalesce(max(CASE WHEN rn = $KmvK THEN h END), 0)
       |         AS BIGINT) AS kth_union
       |  FROM ur WHERE rn <= $KmvK GROUP BY 1, 2
       |),
       |uest AS (
       |  SELECT source_a, source_b, n_union_state, kth_union,
       |    CASE WHEN n_union_state < $KmvK THEN n_union_state
       |         ELSE CAST(floor(CAST(${KmvK - 1} AS DOUBLE) * $pow60
       |                         / kth_union) AS BIGINT) END
       |      AS est_union
       |  FROM ue
       |),
       |ext AS (
       |  SELECT x.source AS source_a, y.source AS source_b,
       |    CAST(count(*) AS BIGINT) AS n_inter_exact
       |  FROM hs x JOIN hs y USING (h)
       |  WHERE x.source < y.source GROUP BY 1, 2
       |)
       |SELECT u.source_a, u.source_b,
       |  ea.est AS est_a, eb.est AS est_b,
       |  u.n_union_state, u.kth_union, u.est_union,
       |  greatest(ea.est + eb.est - u.est_union, 0) AS est_inter,
       |  CAST(coalesce(x.n_inter_exact, 0) AS BIGINT)
       |    AS n_inter_exact
       |FROM uest u
       |JOIN es ea ON ea.source = u.source_a
       |JOIN es eb ON eb.source = u.source_b
       |LEFT JOIN ext x ON x.source_a = u.source_a
       |              AND x.source_b = u.source_b
       |ORDER BY u.source_a, u.source_b""".stripMargin

  /** X65: KMV sketch size. */
  val JcK = 64

  /** X65: join-cardinality estimation from KMV sketches — the
    * query-optimizer statistic behind every join-order decision,
    * measured against its own ground truth: for each (fact key, dim
    * key) pair, both sides' distinct-key KMV sketches (X49's bottom-k
    * by md5) combine into the UNION sketch (bottom-k of the sketch
    * union — the KMV semilattice), the overlap fraction ρ = |{h ∈ U :
    * h ∈ SA ∧ h ∈ SB}| / k estimates the key-overlap cardinality as
    * ρ·|A∪B|̂ (Beyer et al., SIGMOD 2007), and exact audit columns
    * (n_a, n_b, true intersection) measure the error in-row. This is
    * what a CBO does with column NDV sketches at plan time — here as
    * an oracled census.
    *
    * Exactness: hashes and counts exact integers; the two cardinality
    * estimates are the X49 fixed double tree (floor((k−1)·2⁶⁰/kth));
    * est_inter = (matches · est_union) div k_used is an integer
    * product-division; below capacity every branch degrades to exact.
    *
    * Scale shape: sketches build through the X49 prefilter (the
    * h < 8k·2⁶⁰/n cut drops all but O(k) rows per side BEFORE the
    * rank window) and plan as WindowGroupLimit; everything after the
    * sketch relations is ≤ 3k rows per pair. The exact-intersection
    * audit joins the distinct key-hash relations (dimension-bounded);
    * a deployment drops the audit columns and keeps only sketch math.
    */
  def qJoinCard(spark: SparkSession, dir: String): DataFrame = {
    // fact legs NOT parallelized: the per-row work (one md5) is scan-
    // cheap, and repartitioning them against the single-split argument
    // measured the query 3.4 -> 6.2 s in a same-day full-run comparison,
    // confirmed by a paired window (OPTIMIZATION_r17.md §q_join_card)
    val pairs = Seq(
      ("cust",
        Tables.orders(spark, dir).select(col("o_custkey").as("k")),
        Tables.customer(spark, dir).select(col("c_custkey").as("k"))),
      ("part",
        Tables.lineitem(spark, dir).select(col("l_partkey").as("k")),
        Tables.part(spark, dir).select(col("p_partkey").as("k"))),
      ("supp",
        Tables.lineitem(spark, dir).select(col("l_suppkey").as("k")),
        Tables.supplier(spark, dir).select(col("s_suppkey").as("k"))))
    joinCardCensus(pairs)
  }

  /** The census over any (pair, fact keys, dim keys) list — factored
    * for the hand-computed spec.
    */
  def joinCardCensus(
      pairs: Seq[(String, DataFrame, DataFrame)]): DataFrame = {
    // eagerly materialized for the AUDIT form only: the exact-
    // intersection pass and the two sketch-stage consumers each
    // re-derived the union-of-6-scans + DISTINCT otherwise (the
    // deployment form joinCardServing keeps the raw single-derivation
    // plan its spec pins).
    val hs = Materialize.shared(jcHashes(pairs))
    // exact intersection as ONE aggregation instead of an a×b self-
    // join (guide §2.3 "aggregate before you shuffle"): hs is distinct
    // on (pair, side, h), so a hash appears on both sides of a pair
    // exactly when its (pair, h) group holds 2 rows.
    val interExact = hs.groupBy("pair", "h")
      .agg(count(lit(1)).as("__sides"))
      .filter(col("__sides") === 2L)
      .groupBy("pair").agg(count(lit(1)).as("n_inter_exact"))
    jcSketchEstimates(hs)
      .join(interExact, Seq("pair"), "left")
      .withColumn("n_inter_exact",
        coalesce(col("n_inter_exact"), lit(0L)))
      .withColumn("err_ppm",
        when(col("n_inter_exact") > 0,
          Hashing.micro((col("est_inter") - col("n_inter_exact")) /
            col("n_inter_exact"))).otherwise(0L))
      .select("pair", "n_a", "n_b", "n_inter_exact", "est_a", "est_b",
        "k_used", "est_union", "n_match", "est_inter", "err_ppm")
      .orderBy("pair")
  }

  /** X65 deployment form: the sketch math only — the exact-
    * intersection audit join (the measured cost center)
    * drops once the error regime is accepted; what remains is what a
    * CBO reads at plan time. Output columns are spec-pinned equal to
    * [[joinCardCensus]]'s overlapping columns; the plan is pinned to
    * scan each base table once (the audit form re-derives the hash
    * relation for the intersection, doubling the scans).
    */
  def joinCardServing(
      pairs: Seq[(String, DataFrame, DataFrame)]): DataFrame =
    jcSketchEstimates(jcHashes(pairs)).orderBy("pair")

  /** One row per distinct `(pair, side, h)`: the key hashes of each
    * pair's fact side `a` and dimension side `b`. The trailing DISTINCT
    * is load-bearing — [[joinCardCensus]] counts a hash as in the exact
    * intersection when its `(pair, h)` group holds exactly 2 rows, which
    * is only sound while no `(pair, side, h)` repeats. [[joinCardCensus]]
    * materializes this relation once for the exact intersection and the
    * sketch stages; [[joinCardServing]] derives it once, uncached.
    */
  private def jcHashes(
      pairs: Seq[(String, DataFrame, DataFrame)]): DataFrame = {
    def leg(p: String, side: String, df: DataFrame) =
      df.select(lit(p).as("pair"), lit(side).as("side"),
        md5Long(concat(lit("jc:"), col("k").cast("string"))).as("h"))
    pairs.map { case (p, a, b) =>
      leg(p, "a", a).unionByName(leg(p, "b", b))
    }.reduce(_ unionByName _).distinct()
  }

  /** Everything except the exact-intersection audit: per-side counts,
    * bottom-k sketches, union sketch, match count, and the three KMV
    * estimates — shared by the census (audit) and serving forms.
    */
  private def jcSketchEstimates(hs: DataFrame): DataFrame = {
    val pow60 = lit(1.152921504606846976e18)
    val exact = hs.groupBy("pair", "side").agg(count(lit(1)).as("n"))
    val pref = hs.join(broadcast(exact), Seq("pair", "side"))
      .filter(col("n") <= lit(8L * JcK) ||
        col("h") < floor(lit(8.0 * JcK) * pow60 / col("n"))
          .cast("long"))
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy("pair", "side").orderBy("h")
    val sk = pref.withColumn("rn", row_number().over(wS))
      .filter(col("rn") <= JcK).select("pair", "side", "h", "rn")
    val kthSide = sk.filter(col("rn") === JcK)
      .select(col("pair"), col("side"), col("h").as("kth"))
    val wU = org.apache.spark.sql.expressions.Window
      .partitionBy("pair").orderBy("h")
    val u = sk.select("pair", "h").distinct()
      .withColumn("ru", row_number().over(wU))
      .filter(col("ru") <= JcK)
    val uStats = u.groupBy("pair").agg(count(lit(1)).as("k_used"),
      max(when(col("ru") === JcK, col("h"))).as("kth_u"))
    val matches = u.select("pair", "h")
      .join(sk.filter(col("side") === "a").select("pair", "h"),
        Seq("pair", "h"))
      .join(sk.filter(col("side") === "b").select("pair", "h"),
        Seq("pair", "h"))
      .groupBy("pair").agg(count(lit(1)).as("n_match"))
    val estSide = exact.join(kthSide, Seq("pair", "side"), "left")
      .select(col("pair"), col("side"), col("n"),
        when(col("n") < JcK, col("n"))
          .otherwise(floor(lit((JcK - 1).toDouble) * pow60 /
            col("kth")).cast("long")).as("est"))
    def pick(side: String, c: String, as: String) =
      estSide.filter(col("side") === side)
        .select(col("pair"), col(c).as(as))
    val estU = uStats.select(col("pair"), col("k_used"),
      when(col("k_used") < JcK, col("k_used"))
        .otherwise(floor(lit((JcK - 1).toDouble) * pow60 /
          col("kth_u")).cast("long")).as("est_union"))
    pick("a", "n", "n_a").join(pick("b", "n", "n_b"), "pair")
      .join(pick("a", "est", "est_a"), "pair")
      .join(pick("b", "est", "est_b"), "pair")
      .join(estU, "pair")
      .join(matches, Seq("pair"), "left")
      .withColumn("n_match", coalesce(col("n_match"), lit(0L)))
      .withColumn("est_inter",
        expr("(n_match * est_union) div k_used"))
      .select("pair", "n_a", "n_b", "est_a", "est_b",
        "k_used", "est_union", "n_match", "est_inter")
  }

  private val jcOracle: String = {
    val k = JcK
    def legSql(p: String, key: String, table: String) =
      s"""SELECT '$p' AS pair, '${if (table == "lineitem" ||
        table == "orders") "a" else "b"}' AS side,
         |  ${Hashing.md5LongSql(s"'jc:' || CAST($key AS VARCHAR)")} AS h
         |FROM $table""".stripMargin
    s"""WITH hs AS (
       |  ${legSql("cust", "o_custkey", "orders")}
       |  UNION
       |  ${legSql("cust", "c_custkey", "customer")}
       |  UNION
       |  ${legSql("part", "l_partkey", "lineitem")}
       |  UNION
       |  ${legSql("part", "p_partkey", "part")}
       |  UNION
       |  ${legSql("supp", "l_suppkey", "lineitem")}
       |  UNION
       |  ${legSql("supp", "s_suppkey", "supplier")}
       |),
       |ex AS (SELECT pair, side, CAST(count(*) AS BIGINT) AS n
       |       FROM hs GROUP BY 1, 2),
       |ie AS (
       |  SELECT a.pair, CAST(count(*) AS BIGINT) AS n_inter_exact
       |  FROM hs a JOIN hs b ON a.pair = b.pair AND a.h = b.h
       |   AND a.side = 'a' AND b.side = 'b'
       |  GROUP BY 1
       |),
       |pref AS (
       |  SELECT s.pair, s.side, s.h
       |  FROM hs s JOIN ex e USING (pair, side)
       |  WHERE e.n <= ${8 * k}
       |     OR s.h < CAST(floor(CAST(${8 * k} AS DOUBLE) * $pow60
       |                         / e.n) AS BIGINT)
       |),
       |sk AS (
       |  SELECT pair, side, h, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY pair, side
       |      ORDER BY h) AS rn FROM pref
       |  ) WHERE rn <= $k
       |),
       |kth AS (SELECT pair, side, h AS kth FROM sk WHERE rn = $k),
       |u AS (
       |  SELECT pair, h, ru FROM (
       |    SELECT pair, h, row_number() OVER (PARTITION BY pair
       |      ORDER BY h) AS ru
       |    FROM (SELECT DISTINCT pair, h FROM sk)
       |  ) WHERE ru <= $k
       |),
       |us AS (
       |  SELECT pair, CAST(count(*) AS BIGINT) AS k_used,
       |    max(CASE WHEN ru = $k THEN h END) AS kth_u
       |  FROM u GROUP BY 1
       |),
       |mt AS (
       |  SELECT u.pair, CAST(count(*) AS BIGINT) AS n_match
       |  FROM u JOIN sk a ON u.pair = a.pair AND u.h = a.h
       |     AND a.side = 'a'
       |  JOIN sk b ON u.pair = b.pair AND u.h = b.h AND b.side = 'b'
       |  GROUP BY 1
       |),
       |es AS (
       |  SELECT e.pair, e.side, e.n,
       |    CASE WHEN e.n < $k THEN e.n
       |         ELSE CAST(floor(CAST(${k - 1} AS DOUBLE) * $pow60
       |                         / kt.kth) AS BIGINT) END AS est
       |  FROM ex e LEFT JOIN kth kt USING (pair, side)
       |),
       |eu AS (
       |  SELECT pair, k_used,
       |    CASE WHEN k_used < $k THEN k_used
       |         ELSE CAST(floor(CAST(${k - 1} AS DOUBLE) * $pow60
       |                         / kth_u) AS BIGINT) END AS est_union
       |  FROM us
       |),
       |f AS (
       |  SELECT ea.pair, ea.n AS n_a, eb.n AS n_b,
       |    COALESCE(ie.n_inter_exact, 0) AS n_inter_exact,
       |    ea.est AS est_a, eb.est AS est_b, eu.k_used, eu.est_union,
       |    COALESCE(mt.n_match, 0) AS n_match,
       |    (COALESCE(mt.n_match, 0) * eu.est_union) // eu.k_used
       |      AS est_inter
       |  FROM es ea
       |  JOIN es eb ON ea.pair = eb.pair
       |   AND ea.side = 'a' AND eb.side = 'b'
       |  JOIN eu ON ea.pair = eu.pair
       |  LEFT JOIN ie ON ea.pair = ie.pair
       |  LEFT JOIN mt ON ea.pair = mt.pair
       |)
       |SELECT pair, n_a, n_b,
       |  CAST(n_inter_exact AS BIGINT) AS n_inter_exact, est_a, est_b,
       |  k_used, est_union, CAST(n_match AS BIGINT) AS n_match,
       |  CAST(est_inter AS BIGINT) AS est_inter,
       |  CASE WHEN n_inter_exact > 0
       |       THEN ${Hashing.microSql(
                  "(est_inter - n_inter_exact) / n_inter_exact")}
       |       ELSE CAST(0 AS BIGINT) END AS err_ppm
       |FROM f ORDER BY pair""".stripMargin
  }

  /** X64: mergeable quantile sketch — the missing member of the sketch
    * family (CMS counts, Bloom membership, KMV distincts, HLL rows-only
    * distincts; THIS one: quantiles). The exact census quantiles
    * (X8/R17) are the honest exact path but their partials are
    * value-cardinality-bounded; this sketch's per-partition partial is
    * CAPACITY-bounded at k rows regardless of input, so shards of a
    * 100 TB table each ship one k-row summary and the summaries merge.
    *
    * Design choice (vs KLL/GK): KLL's compactor is RANDOMIZED and GK's
    * is insertion-order-dependent — neither is reproducible across
    * engines, so neither can be hash-oracled. We keep the mergeable-
    * summary architecture but make the sampler deterministic: the
    * sketch is the k rows with the SMALLEST md5 hash of the row key
    * (the KMV/bottom-k discipline). Bottom-k by a fixed hash is a
    * semilattice — bottomK(A ∪ B) = bottomK(bottomK(A) ∪ bottomK(B)) —
    * so the merge is EXACT (the merged sketch is bit-identical to the
    * direct sketch, pinned by spec; KLL can't say that), insertion-
    * order-free, and duplication follows the data (a uniform sample of
    * the multiset). The price is estimation error O(1/√k) where KLL
    * gives O(1/k) at equal capacity — the documented tradeoff for
    * bit-exact cross-engine verifiability; at k = 256 the p50 estimate
    * lands within a few percent of exact rank, and the exact-census
    * columns in the same row measure the actual error per group.
    *
    * Estimator: rank the k-row sample by (value, hash) and read the
    * value at integer rank (p·(k_used−1)) div 100 — all-integer rank
    * arithmetic (no interpolation, no doubles anywhere in the query).
    * Groups with n < k hold the whole group (sample = population, the
    * KMV exact-branch rule), where the estimate IS the exact type-1
    * quantile.
    *
    * Scale shape: the sample is a per-group row_number ≤ k over the
    * hash order — plans as WindowGroupLimit, so each map partition
    * ships at most k rows per group into the single Exchange
    * (capacity-bounded partials, the mergeable-summary property);
    * everything downstream of the sample is ≤ k rows per group. The
    * exact audit columns ride the (type, cents) census — a deployment
    * drops them once the error regime is accepted.
    */
  val QsK = 256
  val QsPs = Seq(10, 50, 90, 99)

  def qQuantileSketch(spark: SparkSession, dir: String): DataFrame =
    quantileSketchCensus(Tables.events(spark, dir)
      .select("event_id", "event_type", "value"))

  /** The bounded sample itself — the mergeable summary. Factored so the
    * spec can pin merge-exactness: union shard samples, re-take
    * bottom-k, get the direct sample bit-for-bit.
    */
  def qsSample(ev: DataFrame): DataFrame =
    qsBottomK(ev.select(col("event_type"),
      round(col("value") * 100).cast("long").as("cents"),
      md5Long(concat(lit("qs:"), col("event_id").cast("string")))
        .as("h"),
      col("event_id")))

  /** Re-take bottom-k over any sample-shaped relation (the merge op). */
  def qsBottomK(rows: DataFrame): DataFrame = {
    val wH = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("h", "event_id")
    rows.withColumn("rn", row_number().over(wH))
      .filter(col("rn") <= QsK)
      .select("event_type", "cents", "h", "event_id")
  }

  /** Type-1 quantile estimates off any sample-shaped relation — the
    * serving read shared by the batch census and the streaming
    * [[graft.sources.QuantileStore]].
    */
  def qsEstimates(sample: DataFrame): DataFrame = {
    val kUsed = sample.groupBy("event_type")
      .agg(count(lit(1)).as("k_used"))
    val wV = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("cents", "h", "event_id")
    sample.withColumn("rs", row_number().over(wV))
      .join(broadcast(kUsed), "event_type")
      .groupBy("event_type")
      .agg(max(col("k_used")).as("k_used"),
        QsPs.map(p => max(when(col("rs") - 1 ===
            expr(s"($p * (k_used - 1)) div 100"), col("cents")))
          .as(s"est_p$p")): _*)
  }

  def quantileSketchCensus(ev: DataFrame): DataFrame = {
    val sample = qsSample(ev)
    val est = qsEstimates(sample)
    val cen = ev.select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("event_type", "cents").agg(count(lit(1)).as("cnt"))
    val wC = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("cents")
    val cum = cen.withColumn("cum", sum("cnt").over(wC))
    val n = cen.groupBy("event_type").agg(sum("cnt").as("n"))
    val exact = cum.join(broadcast(n), "event_type")
      .groupBy("event_type")
      .agg(max(col("n")).as("n"),
        QsPs.map(p => max(when(
            expr(s"($p * (n - 1)) div 100") >= col("cum") - col("cnt") &&
            expr(s"($p * (n - 1)) div 100") < col("cum"), col("cents")))
          .as(s"exact_p$p")): _*)
    est.join(exact, "event_type")
      .withColumn("abs_err_p50", abs(col("est_p50") - col("exact_p50")))
      .select(col("event_type") +: col("n") +: col("k_used") +:
        (QsPs.map(p => col(s"est_p$p")) ++
          QsPs.map(p => col(s"exact_p$p")) :+ col("abs_err_p50")): _*)
      .orderBy("event_type")
  }

  private val qsOracle: String = {
    val h = Hashing.md5LongSql("'qs:' || CAST(event_id AS VARCHAR)")
    val estCols = QsPs.map(p =>
      s"""    max(CASE WHEN r.rs - 1 = ($p * (k.k_used - 1)) // 100
         |        THEN r.cents END) AS est_p$p""".stripMargin)
      .mkString(",\n")
    val exCols = QsPs.map(p =>
      s"""    max(CASE WHEN ($p * (n.n - 1)) // 100 >= c.cum - c.cnt
         |         AND ($p * (n.n - 1)) // 100 < c.cum
         |        THEN c.cents END) AS exact_p$p""".stripMargin)
      .mkString(",\n")
    val outEst = QsPs.map(p => s"e.est_p$p").mkString(", ")
    val outEx = QsPs.map(p => s"x.exact_p$p").mkString(", ")
    s"""WITH ev AS (
       |  SELECT event_id, event_type, value FROM events
       |),
       |r AS (
       |  SELECT event_type,
       |    CAST(round(value * 100) AS BIGINT) AS cents,
       |    $h AS h, event_id
       |  FROM ev
       |),
       |s AS (
       |  SELECT event_type, cents, h, event_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY event_type
       |      ORDER BY h, event_id) AS rn FROM r
       |  ) WHERE rn <= $QsK
       |),
       |ks AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS k_used
       |  FROM s GROUP BY 1
       |),
       |rk AS (
       |  SELECT event_type, cents,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY cents, h, event_id) AS rs
       |  FROM s
       |),
       |est AS (
       |  SELECT r.event_type, max(k.k_used) AS k_used,
       |$estCols
       |  FROM rk r JOIN ks k USING (event_type) GROUP BY 1
       |),
       |cen AS (
       |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
       |    count(*) AS cnt
       |  FROM ev GROUP BY 1, 2
       |),
       |cum AS (
       |  SELECT event_type, cents, cnt,
       |    sum(cnt) OVER (PARTITION BY event_type ORDER BY cents) AS cum
       |  FROM cen
       |),
       |nn AS (
       |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
       |  FROM cen GROUP BY 1
       |),
       |ex AS (
       |  SELECT c.event_type, max(n.n) AS n,
       |$exCols
       |  FROM cum c JOIN nn n USING (event_type) GROUP BY 1
       |)
       |SELECT e.event_type, x.n, e.k_used, $outEst, $outEx,
       |  abs(e.est_p50 - x.exact_p50) AS abs_err_p50
       |FROM est e JOIN ex x USING (event_type)
       |ORDER BY e.event_type""".stripMargin
  }

  // ------------------------------------ Misra-Gries heavy hitters (X66)

  /** MG counter budget (max survivors per summary) and the shard-model
    * bucket count (a power of two: [[MgLevels]] pairwise merge levels
    * collapse the [[MgBuckets]] shard summaries to one).
    */
  val MgK = 16
  val MgBuckets = 8
  val MgLevels = 3

  /** One Misra-Gries summarize/merge step: given (group, token, c)
    * counter rows, subtract the (k+1)-th largest counter value in each
    * group from every counter and keep the positive ones — at most k
    * survive (everything tied with the (k+1)-th largest collapses to
    * zero). This is the MERGE operation of the mergeable-summaries
    * formulation (Agarwal et al., PODS 2012): summing two summaries'
    * counters then applying this step preserves the MG guarantee
    * err ≤ N/(k+1), which is why the sketch can be built shard-by-shard
    * and combined in any tree.
    *
    * Determinism: the subtrahend is the VALUE at rank k+1 under
    * (c DESC, token) — a multiset property, unaffected by tie order.
    */
  def mgStep(rows: DataFrame, group: Column): DataFrame = {
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(group).orderBy(col("c").desc, col("token"))
    val wGrp = org.apache.spark.sql.expressions.Window.partitionBy(group)
    rows.select(group.as("bucket"), col("token"), col("c"))
      .withColumn("rn", row_number().over(wRank))
      .withColumn("t",
        max(when(col("rn") === MgK + 1, col("c")).otherwise(lit(0L)))
          .over(wGrp))
      .filter(col("c") - col("t") > 0)
      .select(col("bucket"), col("token"), (col("c") - col("t")).as("c"))
  }

  /** X66: the mergeable frequent-items sketch — the deterministic
    * heavy-hitters member of the sketch family (X5 CMS estimates ANY
    * key's count; this maintains the top-k candidate SET under a fixed
    * k-counter budget, the Misra-Gries/SpaceSaving shape every
    * streaming top-k uses). The corpus token census is sharded into
    * [[MgBuckets]] deterministic hash buckets (the stand-in for "one
    * summary per input shard" — bucket identity is a function of the
    * token, so the result is independent of physical partitioning),
    * each bucket census is MG-summarized to [[MgK]] counters, and the
    * shard summaries merge pairwise up a fixed binary tree. Every
    * true heavy hitter with frequency > N/(k+1) is GUARANTEED to
    * survive, and each survivor's counter underestimates its true
    * count by at most N/(k+1) — both facts audited in-row (`err`
    * against `bound`).
    *
    * Exactness: counters are exact integers end-to-end; each merge
    * subtracts a rank-(k+1) VALUE (tie-proof); the oracle replays the
    * identical tree as chained MATERIALIZED CTEs.
    *
    * Scale shape: the only corpus-sized work is the (token, partial)
    * census Exchange (vocab-bounded, map-side combined); bucket
    * summaries are windows over that census; every merge level touches
    * ≤ MgBuckets·MgK rows. In deployment the per-shard summaries come
    * from per-partition streams and this exact merge runs as the
    * reduce — capacity-bounded partials, the X64/T13 property with
    * counters instead of samples.
    */
  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHittersCensus(Tables.documents(spark, dir)
      .select("doc_id", "text"))

  def heavyHittersCensus(docs: DataFrame): DataFrame = {
    // three consumers (shard summaries, truth join, total) — cache the
    // vocab-bounded census so the corpus scans once (the minhash `sh`
    // discipline)
    val census = docs
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .transform(Materialize.cached)
    val sharded = census
      .withColumn("bucket", md5Long(col("token")) % MgBuckets)
    val merged = (0 until MgLevels).foldLeft(
      mgStep(sharded, col("bucket"))) { (acc, _) =>
      val summed = acc.groupBy(expr("bucket div 2").as("bucket"),
        col("token")).agg(sum("c").as("c"))
      mgStep(summed, col("bucket"))
    }
    val tot = census.agg(sum("c").as("n_total"))
    census.join(broadcast(merged.select(col("token"),
        col("c").as("mg_count"))), "token")
      .crossJoin(broadcast(tot))
      .select(col("token"), col("mg_count"), col("c").as("true_count"),
        (col("c") - col("mg_count")).as("err"),
        expr(s"n_total div ${MgK + 1}").as("bound"))
      .orderBy(col("mg_count").desc, col("token"))
  }

  private val heavyOracle: String = {
    val h = Hashing.md5LongSql("token")
    // one MG summarize/merge step over (bucket, token, c) rows
    def step(src: String, grp: String): String =
      s"""  SELECT bucket, token, c - t AS c FROM (
         |    SELECT bucket, token, c,
         |      max(CASE WHEN rn = ${MgK + 1} THEN c ELSE 0 END)
         |        OVER (PARTITION BY bucket) AS t
         |    FROM (
         |      SELECT $grp AS bucket, token, c,
         |        row_number() OVER (PARTITION BY $grp
         |          ORDER BY c DESC, token) AS rn
         |      FROM $src
         |    )
         |  ) WHERE c - t > 0""".stripMargin
    val levels = (1 to MgLevels).map { l =>
      s""",
         |s$l AS MATERIALIZED (
         |${step(
        s"(SELECT bucket // 2 AS bucket, token, CAST(sum(c) AS BIGINT) AS c " +
          s"FROM s${l - 1} GROUP BY 1, 2)", "bucket")}
         |)""".stripMargin
    }.mkString
    s"""WITH tok AS (
       |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
       |),
       |cen AS MATERIALIZED (
       |  SELECT token, CAST(count(*) AS BIGINT) AS c,
       |    $h % $MgBuckets AS bucket
       |  FROM tok GROUP BY 1
       |),
       |s0 AS MATERIALIZED (
       |${step("cen", "bucket")}
       |)$levels,
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM cen)
       |SELECT cen.token, f.c AS mg_count, cen.c AS true_count,
       |  cen.c - f.c AS err, tot.n_total // ${MgK + 1} AS bound
       |FROM s$MgLevels f JOIN cen ON f.token = cen.token, tot
       |ORDER BY mg_count DESC, cen.token""".stripMargin
  }

  /** X70 oracle: the T20 register relation replayed in SQL — md5
    * bucket/rho split (DuckDB `bin` has no leading zeros, matching
    * Spark's), element-wise-max registers, the dyadic Z scaled to the
    * exact integer z_int, then the α·m²·2⁵³ literal chain (every
    * operand CAST to DOUBLE — bare fractional literals are DECIMAL in
    * DuckDB) and ONE floored division; err_ppm a positive integer
    * floor-division, CAST (the HUGEINT lesson).
    */
  private val hllCoreCte: String = {
    val alphaNum = "(CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + " +
      "CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))) * " +
      "CAST(65536.0 AS DOUBLE) * CAST(9007199254740992.0 AS DOUBLE)"
    s"""WITH hv AS (
       |  SELECT event_type,
       |    ${Hashing.md5LongSql("CAST(user_id AS VARCHAR)")} AS h
       |  FROM events
       |),
       |r AS (
       |  SELECT event_type, h % $HllM AS bucket,
       |    CAST(CASE WHEN h // $HllM = 0 THEN 53
       |         ELSE 53 - length(bin(h // $HllM)) END AS BIGINT) AS rho0
       |  FROM hv
       |),
       |reg AS (
       |  SELECT event_type, bucket, max(rho0) AS rho
       |  FROM r GROUP BY 1, 2
       |),
       |z AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
       |    CAST(sum(CAST(1 AS BIGINT) << CAST(53 - rho AS INT))
       |         AS BIGINT) AS z_obs
       |  FROM reg GROUP BY 1
       |),
       |ex AS (
       |  SELECT event_type,
       |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
       |  FROM events GROUP BY 1
       |),
       |f AS (
       |  SELECT z.event_type, z.n_buckets,
       |    CAST($HllM - z.n_buckets AS BIGINT) AS v_zero,
       |    CAST(($HllM - z.n_buckets) * 9007199254740992 + z.z_obs
       |         AS BIGINT) AS z_int,
       |    ex.exact_users
       |  FROM z JOIN ex ON z.event_type = ex.event_type
       |),
       |g AS (
       |  SELECT *, CAST(floor(($alphaNum) / z_int) AS BIGINT)
       |    AS est_users
       |  FROM f
       |)""".stripMargin
  }

  private val hllCensusOracle: String =
    s"""$hllCoreCte
       |SELECT event_type, n_buckets, v_zero, z_int, est_users,
       |  exact_users,
       |  CAST((1000000 * abs(est_users - exact_users))
       |       // greatest(exact_users, 1) AS BIGINT) AS err_ppm,
       |  CAST(CASE WHEN est_users <= ${5L * HllM / 2L}
       |            AND n_buckets < $HllM
       |       THEN 1 ELSE 0 END AS BIGINT) AS use_lc
       |FROM g ORDER BY event_type""".stripMargin

  /** q_hll oracle (the id is fully hash-oracled, not rows-only): the
    * shared register CTEs, the [[hllLcTable]] literals
    * as a VALUES relation, and the serving CASE between raw HLL and
    * linear counting.
    */
  private val hllOracle: String = {
    val lcRows = hllLcTable
      .map { case (v, e) => s"($v, CAST($e AS BIGINT))" }
      .mkString(", ")
    s"""$hllCoreCte,
       |lc(v_zero, lc_users) AS (SELECT * FROM (VALUES $lcRows) t(v, l))
       |SELECT g.event_type,
       |  CAST(CASE WHEN g.est_users <= ${5L * HllM / 2L}
       |            AND g.n_buckets < $HllM
       |       THEN lc.lc_users ELSE g.est_users END AS BIGINT)
       |    AS approx_users,
       |  g.exact_users,
       |  CAST((1000000 * abs(CASE WHEN g.est_users <= ${5L * HllM / 2L}
       |                           AND g.n_buckets < $HllM
       |                      THEN lc.lc_users ELSE g.est_users END
       |                      - g.exact_users))
       |       // greatest(g.exact_users, 1) AS BIGINT) AS err_ppm
       |FROM g LEFT JOIN lc ON g.v_zero = lc.v_zero
       |ORDER BY g.event_type""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cms" -> (qCms _),
    "q_bloom" -> (qBloom _),
    "q_kmv" -> (qKmv _),
    "q_kmv_overlap" -> ((sp: SparkSession, dir: String) =>
      kmvOverlap(Tables.documents(sp, dir))),
    "q_qsketch" -> (qQuantileSketch _),
    "q_join_card" -> (qJoinCard _),
    "q_heavy" -> (qHeavyHitters _),
    "q_hll" -> (qHll _),
    "q_hll_census" -> (qHllCensus _))

  val oracles: Map[String, String] = Map(
    "q_hll" -> hllOracle,
    "q_cms" -> cmsOracle,
    "q_bloom" -> bloomOracle,
    "q_kmv" -> kmvOracle,
    "q_kmv_overlap" -> kmvOverlapOracle,
    "q_qsketch" -> qsOracle,
    "q_join_card" -> jcOracle,
    "q_heavy" -> heavyOracle,
    "q_hll_census" -> hllCensusOracle)
}
