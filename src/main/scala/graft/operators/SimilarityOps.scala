package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing.micro
import graft.functions.vector.cosineSim

/** Embedding similarity operators over an `embeddings`-shaped frame
  * (`vec_id: long, embedding: array<float>, label: int`).
  *
  * The scoring kernel is `cosine_sim`
  * ([[graft.functions.VectorKernels.cosine_sim]], one fused scalar loop
  * called from whole-stage codegen). The built-in formulation
  * (`aggregate(zip_with(...))`) is a `CodegenFallback` higher-order
  * function: interpreted lambda dispatch + a temp array per row — the
  * wrong shape for the O(candidate-pairs) hot loop. Both compute the
  * identical double (same accumulation order), so the DuckDB oracles
  * are unaffected.
  *
  * Scale design:
  *  - pairwise near-dup never goes O(n²): pairs are generated inside
  *    blocking buckets (here the `label` column; at 100 TB a sign-LSH
  *    bucket — see [[TextOps.simhashPairs]] for the banding pattern);
  *  - brute-force top-k is a single scan + TakeOrderedAndProject (no
  *    full sort, no shuffle of the data — only k rows per partition);
  *  - IVF probes restrict the scan to a cluster subset; the centroid
  *    table (the "codebook") is tiny and broadcast, never shuffled;
  *  - a sweep axis (probe width, beam width, the books of one k-means
  *    training) is a column of one plan, not a driver loop: every value
  *    advances in the same job per round, and each value's rows are
  *    bit-identical to a run at that value alone.
  */
object SimilarityOps {

  /** Embedding-cosine near-dup pairs, blocked by `label` (the coarse
    * bucket): only same-label pairs are scored, so the join fans out per
    * block instead of globally.
    */
  def embedNearDupPairs(emb: DataFrame, cosMicroMin: Long): DataFrame = {
    val a = emb.select(col("vec_id").as("d1"), col("label"),
      col("embedding").as("e1"))
    val b = emb.select(col("vec_id").as("d2"), col("label"),
      col("embedding").as("e2"))
    a.join(b, Seq("label"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("label"),
        micro(cosineSim(col("e1"), col("e2"))).as("cos_micro"))
      .filter(col("cos_micro") >= cosMicroMin)
  }

  /** Brute-force cosine top-k against the embedding of `queryId`. The
    * single-row query side is broadcast; the scan side never shuffles —
    * Spark plans the orderBy+limit as TakeOrderedAndProject.
    */
  def annTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    emb.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        micro(cosineSim(col("embedding"), col("qe"))).as("cos_micro"))
      .orderBy(col("cos_micro").desc, col("vec_id"))
      .limit(k)
  }

  /** V27: maximum-inner-product top-k (the recommender/re-ranker
    * retrieval contract — scores are UNnormalized, so a long vector
    * legitimately outranks a near-parallel short one; cosine top-k is
    * [[annTopK]]) with Cauchy–Schwarz norm pruning, the classic exact
    * MIPS accelerator: a seed pass scores only the `seedPool` largest-
    * norm vectors (TakeOrdered, bounded) and takes its kth-best dot as
    * the bar τ; the main pass then skips every vector with
    * |q|²·|v|² < τ² (all integers — no sqrt anywhere), since
    * dot ≤ |q|·|v| < τ can never displace the k seeds already at ≥ τ.
    * When τ ≤ 0 the bound is vacuous and the pass is brute force —
    * correctness never depends on the seed pool being lucky, only the
    * pruned fraction does (large-norm vectors are exactly where large
    * dots live, the Cauchy–Schwarz heuristic MIPS indexes are built
    * on).
    *
    * Exactness: milli dots and squared norms are exact integers; the
    * prune compare |q|²·|v|² vs τ² is widened to decimal(19,0)
    * operands (products ≤ (2⁶³)² ≈ 8.5e37 < 10³⁸ fit decimal(38,0)
    * exactly, so the compare can never overflow or go null at ANY
    * dimensionality — int64×int64 would silently wrap past ~3000 dims
    * at full milli range and mis-prune). Output is bit-equal to brute
    * force by construction (proved, and spec-pinned against it).
    *
    * Scale shape: one scan projecting (vm, |v|²); the seed cut is a
    * bounded TakeOrdered (seedPool rows); τ is a one-row broadcast;
    * the survivor scan is filter + dot + TakeOrderedAndProject — no
    * shuffle carries more than k rows per partition; nothing pairwise.
    */
  def mipsTopK(emb: DataFrame, queryId: Long, k: Int,
               seedPool: Int = 30): DataFrame = {
    import graft.functions.vector.milliDot
    // the kernel floors inside its loop, so no milli-vector array is
    // ever materialized — the scan carries the raw float column only
    val base = emb.select(col("vec_id"), col("embedding"),
      milliDot(col("embedding"), col("embedding")).as("n2"))
    val q = base.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"), col("n2").as("qn2"))
    // the bar is only sound if the seed pass yielded a FULL k dots at
    // >= tau — with fewer, pruning could evict a legitimate top-k row,
    // so nseed < k makes the bound vacuous (as does tau <= 0, where
    // the squared compare loses the sign)
    val tau = base.filter(col("vec_id") =!= queryId)
      .orderBy(col("n2").desc, col("vec_id")).limit(math.max(seedPool, k))
      .crossJoin(broadcast(q))
      .withColumn("dot", milliDot(col("embedding"), col("qe")))
      .orderBy(col("dot").desc, col("vec_id")).limit(k)
      .agg(count(lit(1)).as("nseed"), min("dot").as("tau"))
    base.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .crossJoin(broadcast(tau))
      .filter(col("nseed") < k.toLong || col("tau") <= 0L ||
        col("qn2").cast("decimal(19,0)") * col("n2").cast("decimal(19,0)")
          >= col("tau").cast("decimal(19,0)") *
             col("tau").cast("decimal(19,0)"))
      .select(col("vec_id"),
        milliDot(col("embedding"), col("qe")).as("dot"))
      .orderBy(col("dot").desc, col("vec_id"))
      .limit(k)
  }

  /** V29: per-dimension variance census — the dead/collapsed-
    * dimension audit an embedding pipeline runs on every new encoder
    * drop: a dimension whose variance is ~zero carries no information
    * (dimensional collapse, the failure mode contrastive-learning
    * monitors watch for), wastes index budget in every V10/V18/V26
    * quantizer, and — if it is exactly constant — silently breaks
    * absmax scaling assumptions. Milli-domain integers end to end:
    * per-dim n, Σv, Σv², mean and variance as micro-floored fixed
    * trees over exact integers, and a dead flag at variance < 10
    * milli² (squared-milli units — the documented convention; the
    * flag is a readout, the variance column is the measurement).
    *
    * Scale shape: one posexplode (×dims, the unavoidable pivot) into
    * a dims-sized census with map-side partials; everything above is
    * ≤ dims rows.
    */
  val DeadVarMicro = 10000000L // variance < 10 milli^2

  def dimVariance(emb: DataFrame): DataFrame = {
    val el = emb.select(posexplode(milliVec(col("embedding"))))
      .select(col("pos").cast("long").as("dim"),
        col("col").cast("long").as("v"))
    el.groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("v").as("s"),
        sum(col("v") * col("v")).as("s2"))
      .select(col("dim"), col("n"), col("s"), col("s2"),
        micro(col("s") / col("n")).as("mean_milli_micro"),
        micro((col("s2") / col("n")) -
          (col("s") / col("n")) * (col("s") / col("n")))
          .as("var_micro"))
      .withColumn("is_dead", col("var_micro") < DeadVarMicro)
  }

  /** V31: dominant principal direction by distributed power
    * iteration — the anisotropy axis of the embedding cloud, the
    * number behind the standard "all-but-the-top" postprocessing (Mu
    * & Viswanath 2018: contextual embeddings concentrate mass in a
    * few dominant directions; removing the top one measurably
    * improves similarity tasks) and the first sanity check on any
    * encoder drop. Computed over the UNcentered second-moment matrix
    * C = Σ v·vᵀ (exact integers off milli components), with the
    * iteration kept IN the engine: each round is a census-sized
    * (dims², dims) join y = C·x followed by an integer rescale
    * x' = sign(y)·(|y|·1000 div max|y|) — truncation toward zero on
    * non-negative operands, identical in both engines, so the WHOLE
    * trajectory is exact integers and the DuckDB oracle replays it as
    * chained MATERIALIZED CTEs (the k-means/BPE discipline).
    *
    * Exactness bounds: C entries ≤ n·10⁶; y = Σⱼ C·x ≤ dims·n·10⁹
    * (int64-safe through ~10⁸ vectors at 64 dims); |y|·1000 stays in
    * int64 because x is renormalized to ±1000 every round. max|y| is
    * clamped ≥ 1 so an all-zero corpus degenerates to the zero vector
    * instead of a division error.
    *
    * Scale shape: the second-moment census is ONE self-join fan-out
    * of dims² per vector with map-side partials (the shuffle carries
    * ≤ dims² rows per partition regardless of corpus size), computed
    * once and localCheckpointed; every round after that is
    * census-sized (dims² ⋈ dims), nothing ever touches the corpus
    * again.
    */
  val PcaRounds = 5

  def pcaPower(emb: DataFrame, rounds: Int = PcaRounds): DataFrame = {
    val mv = emb.select(col("vec_id"), posexplode(milliVec(col("embedding"))))
      .select(col("vec_id"), col("pos").cast("long").as("i"),
        col("col").cast("long").as("v"))
    val b = mv.select(col("vec_id"), col("i").as("j"), col("v").as("w"))
    val c = mv.join(b, Seq("vec_id"))
      .groupBy("i", "j").agg(sum(col("v") * col("w")).as("c"))
      .transform(Materialize.shared)
    var x = c.select(col("i")).distinct()
      .select(col("i"), lit(1000L).as("x"))
    (1 to rounds).foreach { _ =>
      val y = c.join(x.select(col("i").as("j"), col("x")), Seq("j"))
        .groupBy("i").agg(sum(col("c") * col("x")).as("y"))
      val m = y.agg(greatest(max(abs(col("y"))), lit(1L)).as("m"))
      x = y.crossJoin(broadcast(m))
        .select(col("i"),
          expr("CASE WHEN y < 0 THEN -((abs(y) * 1000) div m)" +
            " ELSE (abs(y) * 1000) div m END").cast("long").as("x"))
        .transform(Materialize.shared)
    }
    x.select(col("i").as("dim"), col("x"))
  }

  /** V30: embedding-norm census — the norm-distribution sanity check
    * the V27 MIPS pruning and every absmax quantizer (V8/V18) lean
    * on: MIPS pruning only bites if norms actually spread (a
    * normalized corpus makes MIPS ≡ cosine and the seed pass
    * worthless), and a heavy norm tail is exactly where int8 absmax
    * loses precision. Squared milli norms binned by integer floor
    * division (4·10⁶ milli² buckets — an integer compare, engine-
    * exact), counts and one micro share per bucket.
    *
    * Scale shape: one scan through the `milli_dot` kernel (v·v), a
    * ≤ ~16-row census with map-side partials.
    */
  val NormBucketWidth = 4000000L

  def normCensus(emb: DataFrame): DataFrame = {
    import graft.functions.vector.milliDot
    val cen = emb
      .select(milliDot(col("embedding"), col("embedding")).as("n2"))
      .select(expr(s"n2 div $NormBucketWidth").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    val tot = cen.agg(sum("n").as("t"))
    cen.crossJoin(broadcast(tot))
      .select(col("bucket"),
        (col("bucket") * NormBucketWidth).as("lo"), col("n"),
        micro(col("n") / col("t")).as("frac_micro"))
  }

  /** V28: label-balance audit — the class-distribution health check
    * every eval/training split runs before trusting per-label metrics
    * (V12's confusion matrix, V20's MRR, V23's geometry all assume
    * the label histogram is sane): per-label counts and shares, plus
    * the two standard imbalance summaries carried on every row — max
    * share (majority-class dominance) and normalized label entropy
    * H/ln L ∈ [0,1] (1 = perfectly balanced; the single-label
    * degenerate case reads 0 by convention, ln 1 never divides).
    *
    * Exactness: counts exact; each share and entropy term is ONE
    * micro-floored fixed double tree ((n/T)·ln(T/n)/ln L — the X55
    * discipline), and the entropy reduction sums INTEGERS.
    *
    * Scale shape: one label-keyed partial-agg'd Exchange; everything
    * above is label-census-sized; the one-row summary broadcasts
    * back.
    */
  def labelBalance(emb: DataFrame): DataFrame = {
    val cen = emb.groupBy("label").agg(count(lit(1)).as("n"))
    val tot = cen.agg(sum("n").as("t"), count(lit(1)).as("nl"))
    val terms = cen.crossJoin(broadcast(tot))
      .select(col("label"), col("n"),
        micro(col("n") / col("t")).as("share_micro"),
        col("nl"),
        when(col("nl") === 1L, 0L).otherwise(
          micro((col("n") / col("t")) * log(col("t") / col("n")) /
            log(col("nl")))).as("term_micro"))
    val summ = terms.agg(max("nl").as("n_labels"),
      max("share_micro").as("maxshare_micro"),
      sum("term_micro").as("hnorm_micro"))
    terms.select(col("label"), col("n"), col("share_micro"))
      .crossJoin(broadcast(summ))
  }

  /** Deterministic "random" hyperplane weights for sign-LSH in integer
    * milli-units (w ∈ [-1000, 1000]) — canonical generator in
    * [[graft.functions.SignLsh.planeWInt]], shared by the per-row
    * signature expression and the oracle's literal plane table.
    */
  def planeWInt(j: Int, i: Int): Long =
    graft.functions.SignLsh.planeWInt(j, i)

  /** The real-valued weight: [[planeWInt]] / 1000. */
  def planeW(j: Int, i: Int): Double = planeWInt(j, i) / 1000.0

  /** The documented 100 TB sign-LSH configuration: 32 planes banded
    * 4×8 bits (the corpus/test tuning is 16 planes × 4-bit bands).
    *
    * The math (collision prob per plane p = 1 − θ/π, band match p^b,
    * any-of-B-bands recall 1 − (1 − p^b)^B):
    *  - TRUE near-dups are high-cosine at scale: at cos ≥ 0.95
    *    (p ≈ 0.899) an 8-bit band matches with p⁸ ≈ 0.43 → recall
    *    ≈ 0.89 over 4 bands; at cos 0.9, recall ≈ 0.75.
    *  - RANDOM pairs (cos ≈ 0, p ≈ ½) collide per band at ~2⁻ᵇ: the
    *    candidate count on unclustered data is ~B·n²·2⁻ᵇ — widening
    *    bands 4→8 bits cuts the quadratic term 2⁴ = 16×, which is the
    *    dial that keeps bucket joins tractable as n grows; b is chosen
    *    so n²·2⁻ᵇ fits the cluster.
    * The corpus tuning (4-bit bands) exists because the test corpus's
    * "near-dups" sit near cos 0.5, where 8-bit bands would have ~4%
    * recall — at production thresholds the scale config dominates.
    */
  val ScaleLshPlanes = 32

  /** Expected-bucket-occupancy cap for [[adaptiveBandBits]]: the band
    * width is widened until a band's EXPECTED bucket size n/2ᵇ is at
    * most this — the df-cap discipline (bound the quadratic term by
    * bounding per-bucket membership) applied to sign-LSH banding. At
    * cap 1024 the expected per-bucket pair mass is ≤ 2¹⁹ and the total
    * random-collision candidate mass ≤ nBands·n·cap/2 — linear in n,
    * never quadratic, at every corpus size.
    */
  val BandOccupancyCap = 1024L

  /** Scale-adaptive sign-LSH band width: the
    * SMALLEST width b dividing nPlanes with n ≤ [[BandOccupancyCap]]·2ᵇ.
    * Narrow bands maximize recall (band match prob pᵇ falls with b), so
    * the rule widens only when the occupancy cap forces it: past
    * n = cap·2ᵇ a b-bit band's expected bucket holds more than cap
    * vectors, and its random-collision candidates grow as n²·2⁻ᵇ
    * instead of linearly in n. Deterministic in (n, nPlanes) alone, so the
    * DuckDB oracle mirrors it as a CASE over count(*) and both engines
    * pick the same width by construction. At the test corpus sizes
    * (500 / 500 / 2000 vectors) the rule selects 4 bits — the
    * historical tuning — and first widens to 8 past 16,384 vectors.
    */
  def adaptiveBandBits(n: Long, nPlanes: Int): Int = {
    val menu = (1 to nPlanes).filter(b => nPlanes % b == 0 && b >= 4)
    menu.find(b => b >= 63 || n <= (BandOccupancyCap << b))
      .getOrElse(menu.last)
  }

  /** Embedding dimensionality the plane table covers (the corpus
    * contract; extra dimensions would carry no weight).
    */
  val LshDims = 64

  /** Per-vector packed sign-bit signatures — ONE zero-shuffle projection
    * through the `sign_lsh_sig` kernel
    * ([[graft.functions.SignLsh.sign_lsh_sig]]). The former relational
    * formulation (posexplode → broadcast plane join → two hash
    * aggregations) inflated every row ×(dims·nPlanes) and paid two
    * Exchanges for what is a pure per-row function; at the production
    * shape (768-dim × 32 planes) that is ~25,000× row inflation. Same
    * exact integer math (micro components × milli weights, long sums),
    * so the oracle's literal-injected plane table is unaffected.
    */
  def signLshSignatures(emb: DataFrame, nPlanes: Int): DataFrame =
    emb.select(col("vec_id"),
      graft.functions.SignLsh.signLshSig(col("embedding"), nPlanes,
        LshDims).as("sig"))

  /** Sign-LSH candidate pairs: nPlanes hyperplane sign bits per vector,
    * banded (nPlanes/bandBits)×bandBits; vectors sharing any band
    * bucket are candidates. A bucket join — no blocking column, no
    * O(n²) scan; see [[ScaleLshPlanes]] for parameter selection. The
    * only Exchanges in the whole plan are the band self-join's — the
    * candidate generation itself.
    */
  def signLshCandidates(emb: DataFrame, nPlanes: Int,
                        bandBits: Int): DataFrame = {
    val nBands = nPlanes / bandBits
    val mask = (1L << bandBits) - 1
    Banding.bandedCandidates(signLshSignatures(emb, nPlanes), "vec_id",
      (0 until nBands).map(k =>
        shiftright(col("sig"), bandBits * k).bitwiseAND(lit(mask))))
  }

  /** Sign-LSH near-dup pairs — the label-free scale path for
    * [[embedNearDupPairs]]: [[signLshCandidates]] bucket join, then
    * exact-cosine verification over candidates only.
    */
  def signLshPairs(emb: DataFrame, nPlanes: Int, bandBits: Int,
                   cosMicroMin: Long): DataFrame = {
    val cand = signLshCandidates(emb, nPlanes, bandBits)
    val e1 = emb.select(col("vec_id").as("d1"), col("embedding").as("e1"))
    val e2 = emb.select(col("vec_id").as("d2"), col("embedding").as("e2"))
    cand.join(e1, "d1").join(e2, "d2")
      .select(col("d1"), col("d2"),
        micro(cosineSim(col("e1"), col("e2"))).as("cos_micro"))
      .filter(col("cos_micro") >= cosMicroMin)
  }

  /** Int8 scalar quantization of the embedding column — the 4× memory
    * cut that makes a 100 TB ANN index fit its cluster (absmax scaling,
    * the standard inference-quantization scheme). Zero shuffles: the
    * per-vector absmax is a higher-order fold over the array (max is
    * association-free, so the fold is cross-engine exact) and the
    * quantized values are a posexplode projection. Emits one row per
    * (vec_id, position) plus the micro-quantized scale needed to
    * dequantize.
    */
  def quantizeInt8(emb: DataFrame): DataFrame =
    // codes + absmax each ONE codegen kernel pass
    emb.select(col("vec_id"),
        graft.functions.vector.absMaxComp(col("embedding")).as("amax"),
        posexplode(graft.functions.vector.int8Codes(col("embedding")))
          .as(Seq("i0", "q")))
      .select(col("vec_id"), (col("i0") + 1).cast("long").as("i"),
        col("q"), micro(col("amax")).as("amax_micro"))

  // --------------------------------------------------------- k-means IVF

  /** Lloyd rounds for the IVF codebook. Two rounds move the md5-seeded
    * init most of the way to convergence on this corpus; the oracle
    * mirrors the SAME count as chained SQL CTEs, so the constant is part
    * of the cross-engine contract.
    */
  val KmRounds = 2

  /** Assignment score of a degenerate all-zero centroid — below any real
    * micro-cosine (≥ −10⁶), so such a centroid never wins. Mirrored in
    * the oracle's CASE.
    */
  val KmScoreEmpty: Long = graft.functions.KmeansAssign.ScoreEmpty

  /** Components milli-quantized to exact integers: floor(v·1000).
    * Integer sums are association-free, so centroid sums — and therefore
    * the whole training trajectory — are bit-identical across engines,
    * partitionings, and retries. Milli (not micro) keeps every derived
    * integer (ssq ≤ dims·S²) exactly representable in doubles through
    * the score division even at 100× this corpus. One kernel
    * projection ([[graft.functions.VectorKernels.milli_vec]]); the float kernels
    * ([[graft.functions.KmeansAssign]] and siblings) quantize by the
    * same floor(v·1000) law inside their loop, so assigning `milliVec`
    * output with [[graft.functions.KmeansAssignMilli]] gives the same
    * cluster as assigning the floats.
    */
  private[graft] def milliVec(emb: Column): Column =
    graft.functions.vector.milliVec(emb)

  /** Nearest-centroid id under a codebook — a zero-shuffle per-row
    * projection through [[graft.functions.KmeansAssign]] (one compiled
    * loop; the codebook is an `ObjectType` literal, so each training round
    * reuses the same generated class instead of re-planning a
    * dims×centroids literal tree). Ties break toward the lower centroid
    * id, matching the oracle's ORDER BY score DESC, cid.
    */
  private def assignCluster(emb: Column,
                            cents: Array[Array[Long]]): Column =
    graft.functions.KmeansAssign.kmeansAssign(emb, cents)

  /** [[centScore]] on the driver, for probe selection: same integer dot,
    * same IEEE division — bit-identical to both engines.
    */
  private def centScoreLocal(vm: Array[Long], c: Array[Long]): Long = {
    val ssq = c.map(x => x * x).sum
    if (ssq == 0L) KmScoreEmpty
    else {
      var dot = 0L
      var i = 0
      val n = math.min(vm.length, c.length)
      while (i < n) { dot += vm(i) * c(i); i += 1 }
      math.floor(1000000.0 * (dot.toDouble / math.sqrt(ssq.toDouble)))
        .toLong
    }
  }

  /** Deterministic Lloyd training of the IVF codebook: the one-book
    * case of [[lloydBooks]] over the milli-quantized embedding.
    */
  def kmeansCodebook(emb: DataFrame, nCentroids: Int,
                     rounds: Int): Array[Array[Long]] =
    lloydBooks(emb.select(col("vec_id"), milliVec(col("embedding")).as("vm")),
      Seq((col("vm"), nCentroids)), rounds).head

  /** The one Lloyd trainer: trains every book in `books` — a slice
    * expression over the `vm: array<bigint>` column of `vms` and its
    * centroid count — side by side, one job per round.
    *
    * Init: each book's `nCents` seed rows are the vectors ranked lowest
    * by md5("km:"‖vec_id) — a data-independent pseudo-random draw both
    * engines reproduce, shared by every book, so one collect of the
    * first max-`nCents` rows seeds them all (a book takes its own
    * slice of its own prefix). Each round: assign every vector to its
    * book's nearest centroid ([[graft.functions.KmeansAssignMilli]], a
    * zero-shuffle kernel projection), then refresh each centroid as the
    * per-dimension truncated INTEGER MEAN of its members (one
    * partial-agg shuffle of (book, cluster, dim) keys — cosine is
    * scale-invariant, so the integer mean keeps the trajectory exact
    * while bounding every component by the milli input range; a raw
    * SUM would grow with cluster size until the kernel's ssq = Σc²
    * overflowed Long at ~3M members). Java's long division and DuckDB's
    * BIGINT `//` both truncate toward zero, so the trajectory is
    * bit-identical across engines. Empty clusters keep their previous
    * centroid. A book's sums cover only its own (vector, dim) integers,
    * so every book is bit-identical to training it alone; the collected
    * state is only the books' centroid tables. The input is pinned
    * (`vec_id`, `vm` only) for the seed collect and every round.
    */
  private def lloydBooks(vms: DataFrame, books: Seq[(Column, Int)],
                         rounds: Int): Seq[Array[Array[Long]]] =
    if (books.isEmpty) Seq.empty
    else {
      import graft.functions.KmeansAssignMilli.kmeansAssignMilli
      val vm = Materialize.shared(vms.select("vec_id", "vm"))
      val seedRows = vm
        .withColumn("h", graft.functions.Hashing.md5Long(
          concat(lit("km:"), col("vec_id").cast("string"))))
        .orderBy(col("h"), col("vec_id")).limit(books.map(_._2).max)
        .select(col("h") +: col("vec_id") +: books.map(_._1): _*)
        .collect()
        .sortBy(r => (r.getLong(0), r.getLong(1)))
      var cents = books.indices.map { b =>
        seedRows.take(books(b)._2).map(_.getSeq[Long](b + 2).toArray)
      }
      var r = 0
      while (r < rounds) {
        val assigned = books.indices.map { b =>
          struct(lit(b).as("book"),
            kmeansAssignMilli(books(b)._1, cents(b)).as("cluster"),
            books(b)._1.as("x"))
        }
        val sums = vm.select(explode(array(assigned: _*)).as("p"))
          .select(col("p.book").as("book"), col("p.cluster").as("cluster"),
            posexplode(col("p.x")).as(Seq("i", "v")))
          .groupBy("book", "cluster", "i")
          .agg(sum("v").as("s"), count(lit(1)).as("cnt"))
          .collect()
        // empty clusters keep their previous centroid
        val next = cents.map(_.map(_.clone()))
        sums.foreach { row =>
          next(row.getInt(0))(row.getLong(1).toInt)(row.getInt(2)) =
            row.getLong(3) / row.getLong(4)
        }
        cents = next
        r += 1
      }
      cents
    }

  /** IVF ANN under an explicit integer codebook: every vector assigned
    * by the zero-shuffle literal-codebook projection, the query probed
    * against the `nProbe` best clusters (selected on the driver from the
    * same score function), and exact cosine computed only over probed
    * clusters' vectors.
    *
    * Everything stays distributed: assignment is a projection, the probe
    * filter is an `isin` over ≤ nProbe literals, the final ranking is
    * TakeOrderedAndProject — at scale the vector store would be
    * partitioned by cluster id so the probe filter prunes partitions.
    */
  /** The query's `nProbe` best clusters, selected on the driver with
    * the same score function as assignment (the codebook is tiny; the
    * one collected row is the query's embedding).
    */
  def probeClusters(emb: DataFrame, cents: Array[Array[Long]],
                    queryId: Long, nProbe: Int): Seq[Int] = {
    val qvm = emb.filter(col("vec_id") === queryId)
      .select(milliVec(col("embedding"))).head().getSeq[Long](0).toArray
    cents.indices.sortBy(j => (-centScoreLocal(qvm, cents(j)), j))
      .take(nProbe)
  }

  def annIvfWith(emb: DataFrame, queryId: Long,
                 cents: Array[Array[Long]], nProbe: Int,
                 k: Int): DataFrame = {
    val probed = probeClusters(emb, cents, queryId, nProbe)
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    emb.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("embedding"),
        assignCluster(col("embedding"), cents).as("cluster"))
      .filter(col("cluster").isin(probed.map(_.toLong): _*))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("cluster"),
        micro(cosineSim(col("embedding"), col("qe"))).as("cos_micro"))
      .orderBy(col("cos_micro").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF-style ANN with a k-means-trained codebook ([[kmeansCodebook]]):
    * train, then query via [[annIvfWith]].
    */
  def annIvf(emb: DataFrame, queryId: Long, nCentroids: Int, nProbe: Int,
             k: Int, rounds: Int = KmRounds): DataFrame =
    annIvfWith(emb, queryId, kmeansCodebook(emb, nCentroids, rounds),
      nProbe, k)

  /** Measured IVF recall@k — the accuracy/cost dial of the index,
    * reported per probe width: for every query in the set
    * (vec_id < queryMax) and every nProbe in `nProbes`, how many of the
    * brute-force top-k neighbors the probed search returns
    * (`recall_micro` = hits/k, micro-floored). nProbe = nCentroids rows
    * anchor at exactly 10⁶ — the probed search degenerates to
    * brute force.
    *
    * Scale shape: recall evaluation is always over a SAMPLED query set,
    * so the scored relation is |corpus| × Q — the same broadcast-query
    * projection as [[SimilarityQueries.qAnnBatch]], read by the
    * [[probeGrid]] every recall curve shares; every ranking is a
    * per-(query, nProbe) window over candidates only.
    */
  def annRecall(emb: DataFrame, queryMax: Long,
                cents: Array[Array[Long]], nProbes: Seq[Int],
                k: Int): DataFrame = {
    val queries = emb.filter(col("vec_id") < queryMax)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    probeGrid(emb, queries, cents, nProbes, k)._2
      .select(col("query_id"), col("nprobe"), col("hits"),
        micro(col("hits") / lit(k)).as("recall_micro"))
  }

  /** The IVF probe grid the recall curves share, with the probe width
    * as a column: every (query, nprobe) of `queries` (`query_id`, `qe`)
    * × `nProbes` in one plan, each width's top-k ranked only over its
    * own candidates, so every row equals a per-width run.
    *
    * `scored` (corpus × queries, one cosine scan) is pinned `cached`
    * for the truth and candidate passes. Probe ranks are a
    * Q × nCentroids driver table (the [[probeClusters]] math, one
    * bounded collect of the query embeddings), broadcast back.
    * Returns the candidate relation (`scored` ⋈ probe ranks within
    * each nprobe; `pinCand` pins it when a caller reads it twice) and
    * the (`query_id`, `nprobe`, `hits`) grid, hits 0 where no top-k
    * candidate is a true neighbor.
    */
  private def probeGrid(emb: DataFrame, queries: DataFrame,
                        cents: Array[Array[Long]], nProbes: Seq[Int],
                        k: Int,
                        pinCand: DataFrame => DataFrame = identity)
      : (DataFrame, DataFrame) = {
    val spark = emb.sparkSession
    import spark.implicits._
    val scored = emb
      .select(col("vec_id"), col("embedding"),
        assignCluster(col("embedding"), cents).as("cluster"))
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("cluster"),
        micro(cosineSim(col("embedding"), col("qe"))).as("cos_micro"))
      .transform(Materialize.cached)
    val qvm = queries.select(col("query_id"), milliVec(col("qe")))
      .collect()
    val prank = qvm.toSeq.flatMap { r =>
      val vm = r.getSeq[Long](1).toArray
      cents.indices.sortBy(j => (-centScoreLocal(vm, cents(j)), j))
        .zipWithIndex.map { case (j, rank) =>
          (r.getLong(0), j.toLong, (rank + 1).toLong)
        }
    }.toDF("query_id", "cluster", "prank")
    val np = nProbes.map(_.toLong).toDF("nprobe")
    def topk(df: DataFrame, parts: Seq[String]) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(parts.map(col): _*)
        .orderBy(col("cos_micro").desc, col("vec_id"))
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k).drop("__rn")
    }
    val cand = scored.join(broadcast(prank), Seq("query_id", "cluster"))
      .crossJoin(broadcast(np))
      .filter(col("prank") <= col("nprobe"))
      .transform(pinCand)
    val truth = topk(scored, Seq("query_id")).select("query_id", "vec_id")
    val hits = topk(cand, Seq("query_id", "nprobe"))
      .join(truth, Seq("query_id", "vec_id"))
      .groupBy("query_id", "nprobe").agg(count(lit(1)).as("hits"))
    val grid = queries.select("query_id").crossJoin(broadcast(np))
      .join(hits, Seq("query_id", "nprobe"), "left")
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
    (cand, grid)
  }

  /** V52: sampled-truth IVF recall audit — the 100 TB protocol for
    * the recall family: [[annRecall]]'s truth side brute-force-scores
    * corpus × queries, fine when the query set is the bounded
    * vec_id < queryMax prefix but unpayable when "the queries" are
    * the corpus itself; the deployment answer (standard in every ANN
    * benchmark run at scale) is exact truth on a SEEDED RANDOM QUERY
    * SAMPLE with a confidence interval on the pooled recall. Sample =
    * the first `sampleQ` vectors by md5('rs:' ∥ vec_id) rank (X31's
    * salted-rank discipline — never rand(); same corpus ⇒ identical
    * draw, DuckDB re-derives it exactly); per nProbe the pooled
    * recall hits/(Q·k) carries a Wilson 95 % interval (the R57
    * machinery verbatim — z = 1.96 literal, one micro-floored tree
    * per bound). The interval treats the Q·k truth slots as pooled
    * Bernoulli trials; hits cluster by query, so it is the standard
    * slightly-anti-conservative pooled read (documented — per-query
    * jackknife is the refinement a deployment adds when Q is tiny).
    * Endpoint note: at p̂ = 1 the exact Wilson upper bound is 1, but
    * the float evaluation of (center + half)/denom can land one ulp
    * under it and micro-floor to 999999 — deterministic and
    * cross-engine identical (the trees match verbatim), just not the
    * exact endpoint; bounds are NOT clamped (spec-pinned with a
    * one-micro slack).
    *
    * Scale shape: the scored relation is |corpus| × Q with Q =
    * sampleQ REGARDLESS of corpus size (vs annRecall's corpus-
    * dependent prefix) — the sample is a bounded TakeOrdered on the
    * hash rank, broadcast into the one corpus scan of the same
    * [[probeGrid]] as annRecall; output is |nProbes| rows.
    */
  def annRecallSampled(emb: DataFrame, sampleQ: Int,
                       cents: Array[Array[Long]], nProbes: Seq[Int],
                       k: Int): DataFrame = {
    val qids = emb.select(col("vec_id"),
        graft.functions.Hashing.md5Long(
          concat(lit("rs:"), col("vec_id").cast("string"))).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(sampleQ)
      .select("vec_id")
    val queries = emb.join(broadcast(qids), "vec_id")
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val pooled = probeGrid(emb, queries, cents, nProbes, k)._2
      .groupBy("nprobe")
      .agg(count(lit(1)).as("n_queries"), sum("hits").as("hits"))
      .select(col("nprobe"), col("n_queries"),
        (col("n_queries") * lit(k.toLong)).as("trials"), col("hits"))
    // Wilson 95 % on the pooled recall — the R57 trees verbatim
    val z = lit(1.96)
    val nD = col("trials").cast("double")
    val p = col("hits") / col("trials")
    val denom = lit(1.0) + (z * z) / nD
    val center = p + (z * z) / (lit(2.0) * nD)
    val half = z * sqrt(p * (lit(1.0) - p) / nD +
      (z * z) / ((lit(4.0) * nD) * nD))
    pooled.select(col("nprobe"), col("n_queries"), col("trials"),
      col("hits"),
      when(col("trials") > 0L, micro(p)).otherwise(lit(0L))
        .as("recall_micro"),
      when(col("trials") > 0L, micro((center - half) / denom))
        .otherwise(lit(0L)).as("lo_micro"),
      when(col("trials") > 0L, micro((center + half) / denom))
        .otherwise(lit(0L)).as("hi_micro"))
  }

  /** V38: the IVF cost-vs-recall curve — [[annRecall]]'s recall column
    * joined by the number the serving decision actually trades against:
    * VISITED candidates per (query, nProbe), i.e. the fraction of the
    * corpus an nProbe-deep probe list scans (the IVF counterpart of
    * q_graph_ann's visited-count discipline). Together the two columns
    * are the knee plot that picks nProbe in production.
    *
    * Scale shape: [[annRecall]]'s [[probeGrid]], with its candidate
    * relation pinned `cached`: the visited census is one extra partial
    * agg over the SAME candidate relation the top-k already reads.
    */
  def ivfCostCurve(emb: DataFrame, queryMax: Long,
                   cents: Array[Array[Long]], nProbes: Seq[Int],
                   k: Int): DataFrame = {
    val queries = emb.filter(col("vec_id") < queryMax)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val (cand, grid) =
      probeGrid(emb, queries, cents, nProbes, k, Materialize.cached)
    val visited = cand.groupBy("query_id", "nprobe")
      .agg(count(lit(1)).as("visited"))
    val nCorpus = emb.agg(count(lit(1)).as("n_corpus"))
    // The curve is bounded (queries × nProbes rows): materialize it
    // eagerly, so the returned plan reads only the curve and not the
    // corpus-sized pins (scored, cand).
    grid.join(visited, Seq("query_id", "nprobe"), "left")
      .crossJoin(broadcast(nCorpus))
      .withColumn("visited", coalesce(col("visited"), lit(0L)))
      .select(col("query_id"), col("nprobe"), col("visited"),
        expr("(1000000 * visited) div (n_corpus - 1)")
          .as("visited_ppm"),
        col("hits"), micro(col("hits") / lit(k)).as("recall_micro"))
      .transform(Materialize.shared)
  }

  /** Embedding-space data mix: cluster the corpus with the trained
    * codebook, then report each cluster's population share and the
    * balanced-sampling weight (uniform target share / actual share)
    * that would equalize the mixture — the topic-balancing counterpart
    * of [[TextOps.trainingMix]]'s source-level mix, driven by embedding
    * geometry instead of provenance labels.
    *
    * Scale shape: assignment is the zero-shuffle [[assignCluster]]
    * kernel projection, and the whole query is ONE linear plan — the
    * corpus is scanned exactly once. A naive `counts.join(totals)`
    * would consume the count relation twice and re-run the scan +
    * assignment per consumer; instead the nCentroids-sized census is
    * packed into a single row (`collect_list` over ≤ nCentroids
    * rows — bounded by construction), the total derived from the
    * packed list with a fold, and the per-cluster rows exploded back
    * out. Two Exchanges total: the (cluster, partial) aggregation and
    * a single-row global step.
    */
  def clusterMix(emb: DataFrame, cents: Array[Array[Long]],
                 nCentroids: Int): DataFrame = {
    val counts = emb
      .select(assignCluster(col("embedding"), cents).as("cluster"))
      .groupBy("cluster").agg(count(lit(1)).as("n_vecs"))
    counts
      .agg(collect_list(struct(col("cluster"), col("n_vecs"))).as("cs"))
      .select(aggregate(col("cs"), lit(0L),
        (a, x) => a + x.getField("n_vecs")).as("total"),
        explode(col("cs")).as("c"))
      .select(col("c.cluster").as("cluster"), col("c.n_vecs").as("n_vecs"),
        micro(col("c.n_vecs") / col("total")).as("share_micro"),
        micro(col("total") / (lit(nCentroids.toLong) * col("c.n_vecs")))
          .as("weight_micro"))
  }

  // ------------------------------------------------------- product quant

  /** Product-quantization codebooks (Jégou et al., TPAMI 2011): one
    * deterministic integer k-means codebook per contiguous `subLen`-dim
    * subspace — one [[lloydBooks]] training with one book per slice,
    * so the whole PQ trajectory inherits its exactness (md5 seeding,
    * milli components, truncated-integer-mean refresh) and every book
    * equals [[kmeansCodebook]] over its own slice. The seed DRAW is
    * vec_id-hash based and therefore shared by all subspaces; the seed
    * VALUES differ per slice.
    */
  def pqCodebooks(emb: DataFrame, nSub: Int, subLen: Int, nCents: Int,
                  rounds: Int = KmRounds): Seq[Array[Array[Long]]] =
    lloydBooks(emb.select(col("vec_id"), milliVec(col("embedding")).as("vm")),
      subspaces("vm", nSub, subLen).map((_, nCents)), rounds)

  /** The `nSub` contiguous `subLen`-long slices of array column `c`. */
  private def subspaces(c: String, nSub: Int, subLen: Int): Seq[Column] =
    (0 until nSub).map(j => slice(col(c), j * subLen + 1, subLen))

  /** PQ encoding: each vector compressed to `nSub` sub-centroid ids —
    * for the production 4-bit-to-8-bit code widths this is the 64×-256×
    * memory cut that fits a 100 TB vector corpus in serving RAM. Zero
    * shuffles: one [[graft.functions.KmeansAssign]] kernel projection
    * per subspace, all riding a single scan.
    */
  def pqEncode(emb: DataFrame, books: Seq[Array[Array[Long]]],
               subLen: Int): DataFrame = {
    val codes = books.zipWithIndex.map { case (cents, j) =>
      assignCluster(slice(col("embedding"), j * subLen + 1, subLen),
        cents).as(s"code$j")
    }
    emb.select(col("vec_id") +: codes: _*)
  }

  /** V41: PQ quantization-distortion census — the codec-side quality
    * number next to the retrieval-side recall curves (V7/V10/V21): per
    * subspace, the exact squared L2 between each vector's milli slice
    * and its assigned sub-centroid, rolled up to sum/mean/max and the
    * noise-to-signal ratio (10⁶·Σdist) div Σ‖slice‖² — the "how many
    * bits does THIS corpus need" table that picks nCents/subLen before
    * anyone re-runs a recall sweep, and the per-subspace breakdown
    * that catches one badly-trained slice (dimension-correlated data
    * makes subspace distortion wildly uneven; that unevenness is this
    * census's whole signal).
    *
    * Exactness: every quantity is an exact integer (milli components,
    * integer centroids, integer squares); mean and NSR are positive
    * integer floor divisions. No flooring of intermediates anywhere.
    *
    * Scale shape: one corpus scan fans out nSub×subLen (vec, subspace,
    * dim) rows with the assignment kernel riding the same projection;
    * the tiny codebook relation broadcasts; per-(vec, subspace)
    * partials collapse map-side into ONE Exchange, then an
    * nSub-group rollup. The raw vectors are read once.
    */
  def pqDistortion(emb: DataFrame, books: Seq[Array[Array[Long]]],
                   subLen: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val perSub = books.zipWithIndex.map { case (cents, j) =>
      emb.select(col("vec_id"), lit(j.toLong).as("subspace"),
        assignCluster(slice(col("embedding"), j * subLen + 1, subLen),
          cents).as("cid"),
        posexplode(milliVec(
          slice(col("embedding"), j * subLen + 1, subLen)))
          .as(Seq("i", "v")))
    }.reduce(_ unionByName _)
    val bookRows = books.zipWithIndex.flatMap { case (cents, j) =>
      cents.toSeq.zipWithIndex.flatMap { case (c, cid) =>
        c.toSeq.zipWithIndex.map { case (s, i) =>
          (j.toLong, cid.toLong, i, s)
        }
      }
    }.toDF("subspace", "cid", "i", "s")
    val perVec = perSub
      .join(broadcast(bookRows), Seq("subspace", "cid", "i"))
      .groupBy("vec_id", "subspace")
      .agg(sum((col("v") - col("s")) * (col("v") - col("s")))
        .as("dist"),
        sum(col("v") * col("v")).as("ssq"))
    perVec.groupBy("subspace")
      .agg(count(lit(1)).as("n_vecs"), sum("dist").as("sum_dist"),
        max("dist").as("max_dist"), sum("ssq").as("sum_ssq"))
      .select(col("subspace"), col("n_vecs"), col("sum_dist"),
        expr("sum_dist div n_vecs").as("mean_dist"), col("max_dist"),
        expr("(1000000 * sum_dist) div greatest(sum_ssq, 1)")
          .as("nsr_ppm"))
      .orderBy("subspace")
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    * UNcompressed — its milli vector forms one `nSub × nCents` lookup
    * table of exact integer sub-dots against the codebooks (driver-side:
    * the table is tiny and data-independent given the artifacts), and
    * each database vector's score is the sum of `nSub` table lookups on
    * its codes. Every quantity is an exact integer, so the oracle
    * agrees bit-for-bit with no micro-flooring anywhere.
    *
    * Scale shape: scoring is a zero-shuffle projection over the CODES
    * (the compressed relation — the raw vectors are never read past
    * encoding), the LUT rides as `nSub` tiny literal arrays, and the
    * ranking plans as TakeOrderedAndProject. At production scale the
    * codes relation is the persisted artifact ([[graft.sources
    * .VectorStore]]'s layout with codes beside cluster ids) and an IVF
    * probe prunes it before ADC — compose with [[annIvfWith]].
    */
  /** Per-subspace exact-integer lookup tables for one milli query
    * vector: luts(j)(c) = q_j · books(j)(c).
    */
  private[graft] def pqLuts(qm: Array[Long],
                            books: Seq[Array[Array[Long]]],
                            subLen: Int): Seq[Seq[Long]] =
    books.zipWithIndex.map { case (cents, j) =>
      cents.map { c =>
        var dot = 0L
        var i = 0
        val n = math.min(subLen, c.length)
        while (i < n) { dot += qm(j * subLen + i) * c(i); i += 1 }
        dot
      }.toSeq
    }

  /** The ADC score column over `code0..codeN` — a sum of tiny
    * literal-array lookups.
    */
  private[graft] def pqAdcColumn(luts: Seq[Seq[Long]]): Column =
    luts.zipWithIndex.map { case (lut, j) =>
      element_at(typedLit(lut), col(s"code$j").cast("int") + 1)
    }.reduce(_ + _)

  def pqAdcTopK(emb: DataFrame, books: Seq[Array[Array[Long]]],
                subLen: Int, queryId: Long, k: Int): DataFrame = {
    val qm = emb.filter(col("vec_id") === queryId)
      .select(milliVec(col("embedding"))).head().getSeq[Long](0).toArray
    pqEncode(emb.filter(col("vec_id") =!= queryId), books, subLen)
      .withColumn("adc", pqAdcColumn(pqLuts(qm, books, subLen)))
      .select("vec_id", "adc")
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF-pruned ADC top-k in one plan — the [[graft.sources
    * .VectorStore.pqAdcTopK]] serving path as an oracled in-query
    * operator: clusters probed from the full-vector IVF codebook
    * (driver-side, [[probeClusters]]), candidates restricted to probed
    * clusters by the same zero-shuffle assignment projection, scored by
    * exact-integer ADC. Both prunings compose: the probe bounds the
    * candidate fraction, the codes bound the bytes per candidate.
    */
  def pqIvfTopK(emb: DataFrame, cents: Array[Array[Long]],
                books: Seq[Array[Array[Long]]], subLen: Int,
                queryId: Long, nProbe: Int, k: Int): DataFrame = {
    val probed = probeClusters(emb, cents, queryId, nProbe)
    val qm = emb.filter(col("vec_id") === queryId)
      .select(milliVec(col("embedding"))).head().getSeq[Long](0).toArray
    val codes = books.zipWithIndex.map { case (b, j) =>
      assignCluster(slice(col("embedding"), j * subLen + 1, subLen), b)
        .as(s"code$j")
    }
    emb.filter(col("vec_id") =!= queryId)
      .select(col("vec_id") +:
        assignCluster(col("embedding"), cents).as("cluster") +: codes: _*)
      .filter(col("cluster").isin(probed.map(_.toLong): _*))
      .withColumn("adc", pqAdcColumn(pqLuts(qm, books, subLen)))
      .select("vec_id", "cluster", "adc")
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(k)
  }

  /** V26: residual IVF-PQ (IVFADC, Jégou et al. §IV) — the actual
    * FAISS serving architecture, one step past V10's raw-vector PQ:
    * the coarse quantizer (IVF codebook) removes each vector's
    * cluster-level component FIRST, and product quantization encodes
    * only the RESIDUAL r = milli(v) − centroid. Residuals are
    * centered near zero with far less variance than raw vectors, so
    * the same code budget spends its centroids on the part of the
    * vector the coarse index cannot explain — the reason every
    * production IVF-PQ index encodes residuals.
    *
    * Query path: for each probed cluster c the query forms its OWN
    * residual milli(q) − cent_c (the asymmetric part — a different
    * LUT per probed cluster, nProbe × nSub × nCents exact integer
    * sub-dots), and each candidate's ADC score is the sum of nSub
    * lookups under ITS cluster's LUT. All quantities exact integers
    * end to end — no flooring anywhere past the milli inputs, so the
    * oracle agrees bit-for-bit through BOTH trainings (coarse chain,
    * then per-subspace residual chains).
    *
    * Scale shape: training residuals is one zero-shuffle projection
    * over the assigned vectors (the kernel + a zip_with against the
    * broadcast codebook literal); encoding is nSub kernel
    * projections on the same scan; the probe filter is an `isin`
    * over ≤ nProbe literals (partition-pruned under the V10 store
    * layout); scoring is a per-row CASE over nProbe LUT literals;
    * ranking is TakeOrderedAndProject.
    */
  def pqResidualTopK(emb: DataFrame, nCoarse: Int, nProbe: Int,
                     nSub: Int, subLen: Int, nCents: Int, queryId: Long,
                     k: Int, rounds: Int = KmRounds): DataFrame = {
    import graft.functions.KmeansAssignMilli.kmeansAssignMilli
    val cents = kmeansCodebook(emb, nCoarse, rounds)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val resid = emb
      .select(col("vec_id"),
        assignCluster(col("embedding"), cents).as("cluster"),
        milliVec(col("embedding")).as("vm"))
      .withColumn("rm", zip_with(col("vm"),
        element_at(centsLit, col("cluster").cast("int") + 1),
        (a, b) => a - b))
      .transform(Materialize.shared)
    // residuals are integer by construction: train in the milli domain
    val books = lloydBooks(resid.select(col("vec_id"), col("rm").as("vm")),
      subspaces("vm", nSub, subLen).map((_, nCents)), rounds)
    val codes = subspaces("rm", nSub, subLen).zip(books).zipWithIndex.map {
      case ((x, b), j) => kmeansAssignMilli(x, b).as(s"code$j")
    }
    val probed = probeClusters(emb, cents, queryId, nProbe)
    val qm = emb.filter(col("vec_id") === queryId)
      .select(milliVec(col("embedding"))).head().getSeq[Long](0).toArray
    // one LUT per probed cluster: the query's residual w.r.t. THAT
    // cluster's centroid — the asymmetric half of IVFADC
    val adc = probed.map { c =>
      val rq = qm.indices.map(i => qm(i) - cents(c)(i)).toArray
      when(col("cluster") === c.toLong,
        pqAdcColumn(pqLuts(rq, books, subLen)))
    }.reduce(coalesce(_, _))
    // materialize the probed-row codes eagerly (they are tiny — id,
    // cluster, nSub codes): the returned plan reads only the codes, not
    // the corpus-sized resid
    val probedCodes = resid.filter(col("vec_id") =!= queryId)
      .filter(col("cluster").isin(probed.map(_.toLong): _*))
      .select(col("vec_id") +: col("cluster") +: codes: _*)
      .transform(Materialize.shared)
    probedCodes
      .withColumn("adc", adc)
      .select("vec_id", "cluster", "adc")
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(k)
  }

  /** Two-stage PQ serving (V13): ADC over the compressed codes
    * produces a `shortlist`-sized candidate set, then ONLY those rows'
    * full vectors are re-scored with exact cosine for the final top-k
    * — the standard rerank pattern (Jégou et al. §V.C) that buys back
    * quantization error for the price of `shortlist` full-vector
    * reads. Determinism end to end: the ADC stage ties (adc DESC,
    * vec_id), the rerank ties (cos_micro DESC, vec_id), so the
    * shortlist cut and the final order are engine-independent.
    *
    * Scale shape: stage 1 scans CODES only (16-byte rows; under the
    * store it is also partition-pruned, [[graft.sources.VectorStore]]);
    * stage 2's full-vector read is `shortlist` rows — a semi-join
    * against a TakeOrdered result the optimizer turns into a tiny
    * build side. With shortlist = corpus the result degenerates to
    * exact [[annTopK]] (spec-pinned); production picks shortlist a
    * small multiple of k.
    */
  def pqRerankTopK(emb: DataFrame, books: Seq[Array[Array[Long]]],
                   subLen: Int, queryId: Long, shortlist: Int,
                   k: Int): DataFrame = {
    val short = pqAdcTopK(emb, books, subLen, queryId, shortlist)
      .select("vec_id")
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    emb.join(short, Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        micro(cosineSim(col("embedding"), col("qe"))).as("cos_micro"))
      .orderBy(col("cos_micro").desc, col("vec_id"))
      .limit(k)
  }

  /** V18: the COMPLETE two-pruning serving stack in one oracled plan —
    * IVF probe (cluster pruning) → ADC over codes (byte pruning) →
    * exact-cosine rerank of the shortlist (quantization error bought
    * back) — the composition a production ANN service actually runs
    * (the FAISS IVFADC + refine pipeline): q_pq_ivf demonstrated
    * probe×ADC, q_pq_rerank demonstrated ADC×rerank; this is all
    * three, with both prunings bounding the rerank's full-vector
    * reads. Determinism end to end: probe order (score DESC, cid),
    * shortlist ties (adc DESC, vec_id), final ties (cos DESC,
    * vec_id).
    *
    * Scale shape: stage 1 reads CODES of probed clusters only (under
    * [[graft.sources.VectorStore]] both relations partition-prune);
    * stage 2's full-vector read is `shortlist` rows via a semi-join
    * against a TakeOrdered build side. Cost per query at 100 TB:
    * (probed fraction × 16-byte code rows) + shortlist full vectors —
    * never the corpus.
    */
  def pqServeTopK(emb: DataFrame, cents: Array[Array[Long]],
                  books: Seq[Array[Array[Long]]], subLen: Int,
                  queryId: Long, nProbe: Int, shortlist: Int,
                  k: Int): DataFrame = {
    val short = pqIvfTopK(emb, cents, books, subLen, queryId, nProbe,
      shortlist).select("vec_id")
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    emb.join(short, Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        micro(cosineSim(col("embedding"), col("qe"))).as("cos_micro"))
      .orderBy(col("cos_micro").desc, col("vec_id"))
      .limit(k)
  }

  /** Batch ADC: top-k for a SET of queries in one plan. The per-query
    * lookup tables become one tiny (query, subspace, code) → dot
    * relation (Q × nSub × nCents exact-integer rows, built on the
    * driver from the collected query milli vectors — bounded like
    * [[annRecall]]'s probe table) BROADCAST to the exploded code
    * stream; each (query, vector) score is the 4-row sum the join
    * produces. One (query_id, vec_id) partial-agg Exchange, then a
    * per-query ranking window over n rows — the codes relation is
    * scanned once for all queries.
    */
  def pqAdcBatch(emb: DataFrame, books: Seq[Array[Array[Long]]],
                 subLen: Int, queryMax: Long, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val nSub = books.length
    val qms = emb.filter(col("vec_id") < queryMax)
      .select(col("vec_id"), milliVec(col("embedding")).as("vm"))
      .collect()
    val lutRows = for {
      r <- qms.toSeq
      qm = r.getSeq[Long](1).toArray
      (cents, j) <- books.zipWithIndex
      (c, cid) <- cents.zipWithIndex
    } yield {
      var dot = 0L
      var i = 0
      val n = math.min(subLen, c.length)
      while (i < n) { dot += qm(j * subLen + i) * c(i); i += 1 }
      (r.getLong(0), j, cid.toLong, dot)
    }
    val lut = lutRows.toDF("query_id", "s", "code", "dot")
    val cs = pqEncode(emb, books, subLen)
      .select(col("vec_id"), posexplode(
        array((0 until nSub).map(j => col(s"code$j")): _*))
        .as(Seq("s", "code")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("adc").desc, col("vec_id"))
    cs.join(broadcast(lut), Seq("s", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id").agg(sum("dot").as("adc"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "adc")
  }

  /** Exact top-k truth per batch query under the MILLI-INTEGER DOT —
    * the metric ADC actually approximates (q·recon(v) ≈ q·v over milli
    * components), so the recall it anchors measures QUANTIZATION error
    * alone, not a dot-vs-cosine metric mismatch. Every score is an
    * exact integer on both engines.
    */
  private def pqTruth(emb: DataFrame, queryMax: Long,
                      k: Int): DataFrame = {
    val queries = emb.filter(col("vec_id") < queryMax)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("dot").desc, col("vec_id"))
    // the fused `milli_dot` kernel: one exact long dot per
    // (query, vector) pair of the n×Q truth scan
    emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.vector.milliDot(col("embedding"), col("qe"))
          .as("dot"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select("query_id", "vec_id")
  }

  /** Measured PQ recall@k against exact milli-dot truth, per sub-
    * codebook size — the compression/accuracy dial of the PQ index as
    * an oracled curve, the [[annRecall]] discipline applied to
    * quantization error instead of probe width (the budget axis is
    * code bits = nSub·log₂(nCents), so recall must rise with nCents).
    * Truth is computed ONCE and cached; each budget point trains its
    * own codebooks and ranks by its own exact-integer ADC.
    */
  def pqRecallCurve(emb: DataFrame, nCentsList: Seq[Int], nSub: Int,
                    subLen: Int, queryMax: Long, k: Int): DataFrame = {
    // ONE materialized copy of the vectors feeds everything: the truth
    // pass, the training, the encodes and the query collects, so
    // the vectors are scanned from parquet exactly once.
    val embM = Materialize.shared(emb.select(col("vec_id"),
      col("embedding")))
    val truth = pqTruth(embM, queryMax, k).transform(Materialize.shared)
    val queries = embM.filter(col("vec_id") < queryMax)
      .select(col("vec_id").as("query_id"))
    // every (budget, subspace) book in one training, budget-major
    val trained = lloydBooks(
      embM.select(col("vec_id"), milliVec(col("embedding")).as("vm")),
      nCentsList.flatMap(nc => subspaces("vm", nSub, subLen).map((_, nc))),
      KmRounds)
    val perBudget = nCentsList.zip(trained.grouped(nSub).toSeq).map {
      case (nc, books) =>
        val ann = pqAdcBatch(embM, books, subLen, queryMax, k)
          .select("query_id", "vec_id")
        val hits = ann.join(truth, Seq("query_id", "vec_id"))
          .groupBy("query_id").agg(count(lit(1)).as("hits"))
        queries
          .join(hits, Seq("query_id"), "left")
          .select(lit(nc.toLong).as("n_cents"), col("query_id"),
            coalesce(col("hits"), lit(0L)).as("hits"),
            micro(coalesce(col("hits"), lit(0L)) / lit(k))
              .as("recall_micro"))
    }
    perBudget.reduce(_ unionByName _)
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic deduplication
    * in embedding space — cluster the corpus with the trained codebook,
    * score cosine only WITHIN clusters, and drop every vector that has
    * a lower-id same-cluster neighbor at or above `cosMicroMin`. The
    * keep-lowest-id policy is the embedding-space twin of
    * [[TextOps]]' exact-dedup "keep first" rule and is deliberately
    * non-transitive: each vector's verdict depends only on its own
    * qualifying neighbors, so verdicts are embarrassingly parallel (no
    * connected-components pass on the verdict path — [[TextOps]] D7
    * exists when cluster membership itself is wanted).
    *
    * Output: one row per vector — (vec_id, cluster, dup_cos_micro =
    * max qualifying lower-id cosine or 0, kept 1/0).
    *
    * Scale shape: the k-means cluster is the blocking bucket, exactly
    * the paper's construction — pair cost is Σ|cluster|², controlled by
    * scaling nCentroids with corpus size so per-cluster population
    * stays bounded (the paper runs ~100k clusters on LAION); at that
    * regime the codebook moves out of literals into [[graft.sources
    * .VectorStore]]'s cluster-partitioned layout and this join becomes
    * partition-local. Assignment is the zero-shuffle literal-codebook
    * projection; the within-cluster self-join is one (cluster)
    * Exchange of vec_id+embedding; qualifying pairs collapse to a
    * per-vector max BEFORE the verdict join, so its build side carries
    * duplicates only — AQE broadcasts it when small and falls back to a
    * 16-byte-per-row id shuffle when the dup rate makes it large (an
    * explicit broadcast hint would be wrong at a 100 TB dup set).
    */
  /** Within-cluster pair-cosine distribution — the measured basis for
    * the SemDeDup bar (D12's 0.4 threshold was picked from exactly
    * this curve, ad hoc at the time; this operator makes the evidence
    * a first-class query): every within-cluster pair bucketed by
    * exact cosine (5 %-wide buckets over [-1, 1]), with counts and
    * top-down cumulative counts. Read it before setting a dedup bar —
    * the bar belongs above the bulk of the distribution and below the
    * duplicate mode.
    *
    * Scale: identical pair cost to [[semDedup]] (Σ|cluster|²,
    * controlled by nCentroids — the blocking IS the scale dial); the
    * census is one (bucket, partial) Exchange over ≤ 41 groups and
    * one window across those census rows.
    */
  def cosineCensus(emb: DataFrame,
                   cents: Array[Array[Long]]): DataFrame = {
    val assigned = emb.select(col("vec_id"),
      assignCluster(col("embedding"), cents).as("cluster"),
      col("embedding"))
    val a = assigned.select(col("vec_id").as("d1"), col("cluster"),
      col("embedding").as("e1"))
    val b = assigned.select(col("vec_id").as("d2"), col("cluster"),
      col("embedding").as("e2"))
    val census = a.join(b, Seq("cluster"))
      .filter(col("d1") < col("d2"))
      .select((floor(micro(cosineSim(col("e1"), col("e2"))) /
        lit(50000L)) * 50000L).as("bucket_lo_micro"))
      .groupBy("bucket_lo_micro")
      .agg(count(lit(1)).as("n_pairs"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket_lo_micro").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    census.select(col("bucket_lo_micro"), col("n_pairs"),
      sum("n_pairs").over(w).as("n_pairs_at_or_above"))
  }

  /** Cluster-blocked k-NN majority-label audit — the label-noise /
    * auto-labeling check (the Confident-Learning shape): every vector
    * is re-labeled by its k nearest same-cluster neighbors and the
    * output is the (label, predicted) confusion census — off-diagonal
    * mass is either label noise or embedding-space class overlap,
    * exactly what a pipeline inspects before trusting labels for
    * curation. The blocking is the operator's documented semantics
    * (the D12 precedent), not an approximation footnote: neighbors
    * are within-cluster by definition, and the cluster count is the
    * recall/cost dial.
    *
    * Determinism: neighbors rank by (micro cosine DESC, vec_id) — ties
    * on the integer cosine break by id, never by float residue — and
    * the majority vote is deliberately two exact aggregations (max
    * vote count, then MIN label among achievers) instead of `max_by`,
    * whose tie behavior is engine-dependent.
    *
    * Scale: pair cost is Σ|cluster|², dialed by nCentroids like D12;
    * the ranking window partitions by vec_id over pair-bounded rows,
    * and everything past the top-k filter is bounded by vectors × k.
    * One Exchange for the pairs' window, one partial-agg'd Exchange
    * per vote rollup — no corpus-wide shuffle, no global sort.
    */
  def knnLabelConfusion(emb: DataFrame, cents: Array[Array[Long]],
                        kNN: Int): DataFrame =
    knnLabelConfusionFrom(emb.select(col("vec_id"), col("label"),
      assignCluster(col("embedding"), cents).as("cluster"),
      col("embedding")), kNN)

  /** [[knnLabelConfusion]] over an ALREADY-ASSIGNED (vec_id, label,
    * cluster, embedding) relation — the store-backed entry point:
    * [[graft.sources.VectorStore.knnLabelConfusion]] feeds it the
    * cluster-partitioned layout, where assignment was paid once at
    * write time and a cluster-subset audit prunes partitions at the
    * scan. The pair join hash-partitions both sides on the cluster id
    * (the second side reuses the first's Exchange), so pairs form
    * partition-locally and never cross clusters.
    */
  def knnLabelConfusionFrom(assigned: DataFrame, kNN: Int): DataFrame = {
    val a = assigned.select(col("vec_id").as("d1"),
      col("label").as("l1"), col("cluster"), col("embedding").as("e1"))
    val b = assigned.select(col("vec_id").as("d2"),
      col("label").as("l2"), col("cluster"), col("embedding").as("e2"))
    val pairs = a.join(b, Seq("cluster"))
      .filter(col("d1") =!= col("d2"))
      .select(col("d1"), col("l1"), col("d2"), col("l2"),
        micro(cosineSim(col("e1"), col("e2"))).as("cos_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("d1")
      .orderBy(col("cos_micro").desc, col("d2"))
    val votes = pairs
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= kNN)
      .groupBy("d1", "l1", "l2").agg(count(lit(1)).as("c"))
    val best = votes.groupBy("d1").agg(max("c").as("mc"))
    val pred = votes.join(best, Seq("d1"))
      .filter(col("c") === col("mc"))
      .groupBy("d1", "l1").agg(min("l2").as("predicted"))
    pred.select(col("l1").as("label"), col("predicted"))
      .groupBy("label", "predicted")
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** V33: hubness (k-occurrence) census — the intrinsic-dimensionality
    * pathology check every ANN index needs before trusting its recall
    * numbers (Radovanović et al., JMLR 2010): N_k(x) counts how often
    * x appears in OTHER vectors' k-NN lists; in high intrinsic
    * dimension the distribution of N_k grows a long right tail (hubs
    * that answer a disproportionate share of queries) and a mass of
    * antihubs (N_k = 0) that no query ever retrieves — both distort
    * kNN-label audits (V12) and graph-index construction. The output
    * is the full k-occurrence histogram, antihubs included via the
    * corpus left join.
    *
    * Neighbor semantics are IDENTICAL to V12 ([[knnLabelConfusionFrom]]):
    * cluster-blocked candidates, rank by (micro cosine DESC, vec_id) —
    * so the two audits read the same kNN graph.
    *
    * Scale shape: the V12 pair bound (Σ|cluster|², dialed by
    * nCentroids); the histogram itself is bounded by the distinct
    * k-occurrence values ≤ max N_k — census-sized, no global sort.
    * Closed-form invariant: Σ k_occ · n_vecs = N · k
    * exactly (every vector emits exactly k directed edges when its
    * cluster has > k members).
    */
  def hubnessCensus(emb: DataFrame, cents: Array[Array[Long]],
                    kNN: Int): DataFrame =
    hubnessCensusFrom(emb.select(col("vec_id"),
      assignCluster(col("embedding"), cents).as("cluster"),
      col("embedding")), kNN)

  /** [[hubnessCensus]] over an ALREADY-ASSIGNED (vec_id, cluster,
    * embedding) relation — the store-backed entry point (the
    * [[knnLabelConfusionFrom]] precedent): assignment was paid once at
    * write time, a cluster-subset audit prunes partitions at the scan,
    * and the antihub base is the selection itself (cluster-local
    * semantics, like the store-backed SemDeDup subset).
    */
  def hubnessCensusFrom(assigned: DataFrame, kNN: Int): DataFrame = {
    val a = assigned.select(col("vec_id").as("d1"), col("cluster"),
      col("embedding").as("e1"))
    val b = assigned.select(col("vec_id").as("d2"), col("cluster"),
      col("embedding").as("e2"))
    val pairs = a.join(b, Seq("cluster"))
      .filter(col("d1") =!= col("d2"))
      .select(col("d1"), col("d2"),
        micro(cosineSim(col("e1"), col("e2"))).as("cos_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("d1")
      .orderBy(col("cos_micro").desc, col("d2"))
    val occ = pairs
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= kNN)
      .groupBy(col("d2").as("vec_id"))
      .agg(count(lit(1)).as("c"))
    assigned.select(col("vec_id"))
      .join(occ, Seq("vec_id"), "left")
      .select(coalesce(col("c"), lit(0L)).as("k_occ"))
      .groupBy("k_occ")
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** V44: kNN reciprocity census — the symmetry diagnostic on the same
    * kNN graph V33's hubness reads asymmetrically: for each vector,
    * how many of its k out-edges are RECIPROCATED (it sits in its own
    * neighbors' k-lists). Reciprocity is the other face of hubness
    * (Radovanović JMLR 2010; reciprocal-kNN reranking, Qin CVPR 2011):
    * hubs inflate everyone's lists without returning the favor, so a
    * low-reciprocity mass is the actionable symptom behind a fat N_k
    * tail — reciprocal edges are exactly the ones mutual-NN dedup
    * (SemDeDup-style) and reciprocal-rerank serving can trust. Output
    * is the full histogram (n_recip ∈ [0, k], n_vecs), antihubs and
    * singleton-cluster vectors included via the corpus left join.
    *
    * Neighbor semantics are IDENTICAL to V12/V33
    * ([[hubnessCensusFrom]]): cluster-blocked candidates, rank by
    * (micro cosine DESC, vec_id) — all three audits read the same
    * graph.
    *
    * Exactness: edge membership is exact (micro-cosine ranks, the
    * deterministic tiebreak); reciprocation is a self-join of the edge
    * relation on swapped keys — pure integer counting, no doubles.
    *
    * Scale shape: the V12 pair bound (Σ|cluster|², dialed by
    * nCentroids) to build edges; the reciprocity self-join touches the
    * N·k-bounded edge relation only (equi-join on (d1, d2), never
    * all-pairs); the histogram is ≤ k+1 rows. Closed-form invariant:
    * Σ n_recip · n_vecs is EVEN — every reciprocal pair
    * is counted once from each endpoint.
    */
  def knnReciprocityCensus(emb: DataFrame, cents: Array[Array[Long]],
                           kNN: Int): DataFrame =
    knnReciprocityCensusFrom(emb.select(col("vec_id"),
      assignCluster(col("embedding"), cents).as("cluster"),
      col("embedding")), kNN)

  /** [[knnReciprocityCensus]] over an ALREADY-ASSIGNED (vec_id,
    * cluster, embedding) relation — the store-backed entry point (the
    * [[hubnessCensusFrom]] precedent).
    */
  def knnReciprocityCensusFrom(assigned: DataFrame,
                               kNN: Int): DataFrame = {
    val a = assigned.select(col("vec_id").as("d1"), col("cluster"),
      col("embedding").as("e1"))
    val b = assigned.select(col("vec_id").as("d2"), col("cluster"),
      col("embedding").as("e2"))
    val pairs = a.join(b, Seq("cluster"))
      .filter(col("d1") =!= col("d2"))
      .select(col("d1"), col("d2"),
        micro(cosineSim(col("e1"), col("e2"))).as("cos_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("d1")
      .orderBy(col("cos_micro").desc, col("d2"))
    // the reciprocation SELF-join reads the edge relation twice;
    // cache the N·k-bounded rows so the cluster-blocked pair join
    // runs once (the V45 fix, applied to its sibling)
    val edges = pairs
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= kNN)
      .select(col("d1"), col("d2"))
      .transform(Materialize.cached)
    val rec = edges
      .join(edges.select(col("d2").as("d1"), col("d1").as("d2")),
        Seq("d1", "d2"))
      .groupBy(col("d1").as("vec_id"))
      .agg(count(lit(1)).as("c"))
    assigned.select(col("vec_id"))
      .join(rec, Seq("vec_id"), "left")
      .select(coalesce(col("c"), lit(0L)).as("n_recip"))
      .groupBy("n_recip")
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** V45: local-intrinsic-dimensionality (LID) census — the MLE
    * dimension estimate over each vector's kNN distance profile
    * (Levina & Bickel, NIPS 2004; Amsaleg et al., KDD 2015:
    * LID(x) = [ (1/k) Σᵢ ln(dₖ/dᵢ) ]⁻¹), aggregated per cluster. This
    * is the CAUSE the V33/V44 pair diagnose symptoms of: hubness and
    * asymmetric kNN graphs are driven by high LOCAL intrinsic
    * dimensionality, and a cluster whose LID census reads high is
    * exactly where IVF/PQ recall degrades and where LID-aware
    * verification (Houle's expansion-based pruning) pays — the
    * "which regions of the embedding space are hard" map an index
    * planner reads before spending nprobe/beam budget.
    *
    * Neighbor semantics IDENTICAL to V12/V33/V44
    * ([[hubnessCensusFrom]]): cluster-blocked candidates, rank by
    * (micro cosine DESC, vec_id) — all four audits read one graph.
    * Distances are micro cosine DISSIMILARITIES d = 10⁶ − cos, floored
    * at 1 micro-unit (an exactly-duplicate neighbor has d = 0; ln
    * needs d > 0 — the clamp is the documented resolution limit).
    *
    * Exactness: each edge term ln(dₖ/dᵢ) is a log of a ratio of EXACT
    * INTEGERS, micro-floored per term; the per-vector reduction is an
    * INTEGER sum; lid_micro = (k·10¹²) div Σterms is one positive
    * integer floor-division (k ≤ 5 keeps the numerator ≤ 5·10¹² —
    * no ceiling). A vector whose neighbors all sit at the same
    * distance (Σterms = 0 — a uniform shell, LID → ∞) reads the 0
    * sentinel and is counted in n_unscored, not averaged. Per-cluster
    * mean is a floor of an integer ratio over the per-vector floors.
    *
    * Scale shape: the V12 pair bound (Σ|cluster|², dialed by
    * nCentroids) builds edges once; dₖ/k come from one (d1) aggregate
    * over the N·k-bounded edge relation re-joined edge-keyed; the
    * census is one nCentroids-group aggregate. Nothing all-pairs,
    * nothing corpus-sized past the edge build.
    */
  def lidCensus(emb: DataFrame, cents: Array[Array[Long]],
                kNN: Int): DataFrame =
    lidCensusFrom(emb.select(col("vec_id"),
      assignCluster(col("embedding"), cents).as("cluster"),
      col("embedding")), kNN)

  /** [[lidCensus]] over an ALREADY-ASSIGNED (vec_id, cluster,
    * embedding) relation — the store-backed entry point (the
    * [[hubnessCensusFrom]] precedent).
    */
  def lidCensusFrom(assigned: DataFrame, kNN: Int): DataFrame = {
    val a = assigned.select(col("vec_id").as("d1"), col("cluster"),
      col("embedding").as("e1"))
    val b = assigned.select(col("vec_id").as("d2"), col("cluster"),
      col("embedding").as("e2"))
    val pairs = a.join(b, Seq("cluster"))
      .filter(col("d1") =!= col("d2"))
      .select(col("d1"), col("d2"),
        micro(cosineSim(col("e1"), col("e2"))).as("cos_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("d1")
      .orderBy(col("cos_micro").desc, col("d2"))
    // the edge relation (the expensive cluster-blocked pair join) has
    // two consumers — the profile aggregate and the term join; cache
    // the N·k-bounded result so the pair join runs once
    val edges = pairs
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= kNN)
      .select(col("d1"),
        greatest(lit(1000000L) - col("cos_micro"), lit(1L)).as("dis"))
      .transform(Materialize.cached)
    val prof = edges.groupBy("d1")
      .agg(count(lit(1)).as("k_x"), max("dis").as("dk"))
    val lid = edges.join(prof, Seq("d1"))
      .select(col("d1"), col("k_x"),
        micro(log(col("dk").cast("double") / col("dis")))
          .as("term_micro"))
      .groupBy("d1")
      .agg(max("k_x").as("k_x"), sum("term_micro").as("sum_ln"))
      .select(col("d1"),
        when(col("sum_ln") > 0,
          expr("(k_x * 1000000 * 1000000) div sum_ln"))
          .otherwise(lit(0L)).as("lid_micro"))
    assigned.select(col("vec_id").as("d1"), col("cluster"))
      .join(lid, Seq("d1"), "left")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"),
        coalesce(sum(when(col("lid_micro") > 0, 1L).otherwise(0L)),
          lit(0L)).as("n_scored"),
        coalesce(sum(when(coalesce(col("lid_micro"), lit(0L)) === 0L,
          1L).otherwise(0L)), lit(0L)).as("n_unscored"),
        coalesce(sum(when(col("lid_micro") > 0, col("lid_micro"))),
          lit(0L)).as("lid_sum"),
        coalesce(min(when(col("lid_micro") > 0, col("lid_micro"))),
          lit(0L)).as("lid_min_micro"),
        coalesce(max(when(col("lid_micro") > 0, col("lid_micro"))),
          lit(0L)).as("lid_max_micro"))
      .select(col("cluster"), col("n_vecs"), col("n_scored"),
        col("n_unscored"),
        when(col("n_scored") > 0,
          expr("lid_sum div n_scored")).otherwise(lit(0L))
          .as("lid_mean_micro"),
        col("lid_min_micro"), col("lid_max_micro"))
  }

  /** V35: graph ANN — deterministic kNN-graph construction + beam
    * search, the graph-index architecture (the HNSW/NSG family) next
    * to the quantization family (IVF/PQ/SQ8/MRL): where IVF prunes by
    * PARTITION, a graph index NAVIGATES — hop from an entry point
    * toward the query along precomputed neighbor edges, touching only
    * the vectors the walk visits.
    *
    * Determinism (what makes it oracle-able where real HNSW is not):
    * (1) edges — each node's top-`m` by (micro cosine DESC, id) among
    * MULTI-PROBE candidates: members of its own cluster AND its
    * runner-up cluster ([[graft.functions.KmeansSecondId]]), so edges
    * cross the one boundary that actually cuts a node's neighborhood
    * (a purely cluster-blocked graph is disconnected by construction
    * and a beam could never leave its entry component); (2) entry —
    * the best-scoring node per query among the k-means SEED nodes (the
    * md5-ordered first-[[SimilarityQueries.NCentroids]] rows, exactly
    * the trained codebook's own seeds — the role HNSW's upper layers
    * play); (3) rounds — a FIXED number of synchronous beam rounds:
    * expand every beam node's out-edges, accumulate the visited set,
    * re-rank by (cos DESC, id), keep the top-`beamW`. No randomness,
    * no insertion-order dependence, no data-dependent stopping — the
    * whole trajectory replays as unrolled MATERIALIZED CTEs.
    *
    * Output: per query, the visited count (the measured search cost)
    * and recall@k against brute-force truth — the V7 recall-curve
    * discipline applied to the graph architecture.
    *
    * Scale shape: edge construction pays the V12 cluster-blocked pair
    * bound (×2 for the runner-up probe), ranked by a per-node
    * WindowGroupLimit — the one corpus-sized stage, paid once at
    * index-build time (a deployment persists the edge relation, the
    * GramStore discipline). Search touches only beam-sized relations:
    * every round joins a ≤ Q·beamW-row beam against the bounded edge
    * list and re-ranks ≤ visited rows per query; scoring joins ride
    * the broadcast query set. The fixed-round loop materializes each
    * round's visited set (localCheckpoint) so lineage stays flat.
    */
  def graphAnn(embs: DataFrame, cents: Array[Array[Long]],
               queryMax: Long, m: Int, beamW: Int, rounds: Int, k: Int,
               nSeeds: Int): DataFrame =
    graphAnnFrom(embs,
      knnGraphEdges(embs, cents, m).transform(Materialize.shared),
      queryMax, beamW, rounds, k, nSeeds)

  /** The (vec_id, c1, c2, embedding) relation edge construction reads
    * — c1 is the stored cluster on the persisted layout (assignment
    * read, not recomputed), c2 the runner-up probe.
    */
  private def graphAssigned(embs: DataFrame,
                            cents: Array[Array[Long]]): DataFrame =
    embs.select(col("vec_id"),
      assignCluster(col("embedding"), cents).as("c1"),
      graft.functions.KmeansSecondId.kmeansSecondId(col("embedding"),
        cents).as("c2"),
      col("embedding"))

  /** The V35 kNN edge relation (d1, d2): per-node top-`m` by (cos
    * DESC, id) over multi-probe candidates, symmetrized. The one
    * corpus-sized index stage — a deployment persists it
    * ([[graft.sources.VectorStore.saveGraph]]) and serves beam
    * search off the table.
    */
  def knnGraphEdges(embs: DataFrame, cents: Array[Array[Long]],
                    m: Int): DataFrame =
    knnGraphEdgesFrom(graphAssigned(embs, cents), m)

  /** Edge construction over a PRECOMPUTED (vec_id, c1, c2, embedding)
    * relation — the store-backed build path reads c1 off the
    * persisted layout instead of re-running the assignment kernel.
    */
  def knnGraphEdgesFrom(assigned: DataFrame, m: Int): DataFrame = {
    val probes = assigned.select(col("vec_id").as("d1"),
      explode(array(col("c1"), col("c2"))).as("cluster"),
      col("embedding").as("e1"))
    val nodes = assigned.select(col("vec_id").as("d2"),
      col("c1").as("cluster"), col("embedding").as("e2"))
    val wE = org.apache.spark.sql.expressions.Window
      .partitionBy("d1").orderBy(col("cos_micro").desc, col("d2"))
    // the index: bounded n*m edge relation, materialized once and
    // reused by every beam round
    val fwd = probes.join(nodes, Seq("cluster"))
      .filter(col("d1") =!= col("d2"))
      .select(col("d1"), col("d2"),
        micro(cosineSim(col("e1"), col("e2"))).as("cos_micro"))
      .withColumn("rk", row_number().over(wE))
      .filter(col("rk") <= m)
      .select("d1", "d2")
    // bidirectional links (the HNSW discipline): a node is reachable
    // through anyone who selected it, which is what makes a sparse
    // graph navigable; out-degree stays <= 2m
    fwd
      .union(fwd.select(col("d2").as("d1"), col("d1").as("d2")))
      .distinct()
  }

  /** V35 beam search over a PREBUILT edge relation — the store-backed
    * serving path: the graph was persisted once
    * ([[graft.sources.VectorStore.saveGraph]]) and every session
    * reads it; only beam-sized relations move per round. The one-width
    * case of [[graphAnnSweepFrom]].
    */
  def graphAnnFrom(embs: DataFrame, edges: DataFrame, queryMax: Long,
                   beamW: Int, rounds: Int, k: Int,
                   nSeeds: Int): DataFrame =
    graphAnnSweepFrom(embs, edges, queryMax, Seq(beamW), rounds, k, nSeeds)
      .drop("beam_w")

  /** V46: graph-ANN beam-width cost/recall curve — the serving-dial
    * table for the V35 graph index, completing the story V38's
    * nProbe curve tells for IVF: the SAME edge relation, entry
    * points, and synchronous-round protocol as [[graphAnn]], swept
    * over beam widths, so each (beam_w, query) row reads visited
    * count (the measured cost) against recall@k — "what beam do I
    * serve at" answered with data (the HNSW efSearch dial, measured
    * instead of folklore). The widest beam slice is definitionally
    * the V35 configuration (spec-pinned EQUAL to [[graphAnn]]'s
    * output row-for-row).
    *
    * Scale shape: the corpus-sized stages — edge construction (the
    * V12 pair bound ×2 for the runner-up probe) and the query-score
    * relation — are built ONCE and localCheckpointed; each beam's
    * search touches only beam-sized relations per round (the
    * [[graphAnn]] budget), so the sweep costs index-build + Σ beams,
    * not beams × index-build. Brute-force truth is beam-independent
    * and computed once.
    */
  def graphAnnSweep(embs: DataFrame, cents: Array[Array[Long]],
                    queryMax: Long, m: Int, beams: Seq[Int],
                    rounds: Int, k: Int, nSeeds: Int): DataFrame =
    graphAnnSweepFrom(embs,
      knnGraphEdges(embs, cents, m).transform(Materialize.shared),
      queryMax, beams, rounds, k, nSeeds)

  /** V46 beam sweep over a PREBUILT edge relation — the store-backed
    * tuning path: the index is read, not built. The beam width is a
    * column: `visited` and `beam` carry (beam_w, query_id, vec_id), the
    * beam re-rank partitions by (beam_w, query_id), and each round is
    * one frontier job and one checkpoint for every width; a width's
    * frontier expands only its own beam, so its rows equal a run at
    * that width alone. One row per distinct width and query.
    */
  def graphAnnSweepFrom(embs: DataFrame, edges: DataFrame,
                        queryMax: Long, beams: Seq[Int], rounds: Int,
                        k: Int, nSeeds: Int): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val qs = embs.filter(col("vec_id") < queryMax)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    // query-vs-corpus scores: needed for brute-force truth anyway (the
    // eval protocol); the beam reads its candidate scores off it — a
    // deployment scores candidates on demand, bounded per round
    val qscore = embs.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        micro(cosineSim(col("embedding"), col("qe"))).as("cos_micro"))
      .transform(Materialize.shared)
    val seeds = embs.select(col("vec_id"))
      .withColumn("h", graft.functions.Hashing.md5Long(
        concat(lit("km:"), col("vec_id").cast("string"))))
      .orderBy("h", "vec_id").limit(nSeeds).select("vec_id")
    def byCos(parts: String*) = org.apache.spark.sql.expressions.Window
      .partitionBy(parts.map(col): _*)
      .orderBy(col("cos_micro").desc, col("vec_id"))
    val entry = qscore.join(broadcast(seeds), Seq("vec_id"))
      .withColumn("rn", row_number().over(byCos("query_id")))
      .filter(col("rn") === 1)
      .select("query_id", "vec_id")
    val truth = qscore.withColumn("rn", row_number().over(byCos("query_id")))
      .filter(col("rn") <= k).select("query_id", "vec_id")
    // (beam_w, query_id, vec_id) re-ranked within each width's query
    def ranked(df: DataFrame) = df.join(qscore, Seq("query_id", "vec_id"))
      .withColumn("rn", row_number().over(byCos("beam_w", "query_id")))
    var visited = entry.crossJoin(broadcast(beams.distinct.map(_.toLong)
        .toDF("beam_w")))
      .select("beam_w", "query_id", "vec_id")
    var beam = visited
    for (_ <- 1 to rounds) {
      val frontier = beam.as("b")
        .join(edges.as("g"), col("b.vec_id") === col("g.d1"))
        .select(col("b.beam_w").as("beam_w"),
          col("b.query_id").as("query_id"), col("g.d2").as("vec_id"))
        .filter(col("vec_id") =!= col("query_id"))
      visited = visited.union(frontier).distinct()
        .transform(Materialize.shared)
      // the literal bound lets Spark cut each window group to the
      // widest beam before its shuffle
      beam = ranked(visited)
        .filter(col("rn") <= beams.max && col("rn") <= col("beam_w"))
        .select("beam_w", "query_id", "vec_id")
    }
    val hits = ranked(visited)
      .filter(col("rn") <= k)
      .join(truth, Seq("query_id", "vec_id"))
      .groupBy("beam_w", "query_id").agg(count(lit(1)).as("hits"))
    visited.groupBy("beam_w", "query_id").agg(count(lit(1)).as("n_visited"))
      .join(hits, Seq("beam_w", "query_id"), "left")
      .select(col("beam_w"), col("query_id"), col("n_visited"),
        coalesce(col("hits"), lit(0L)).as("hits"))
      .withColumn("recall_micro", expr(s"(hits * 1000000) div $k"))
      .orderBy("beam_w", "query_id")
  }

  /** V32's discount weight at rank i: floor(1e6 · ln 2 / ln(i+1)) —
    * the binary-relevance DCG gain 1/log2(i+1) in micro units. The
    * constant is computed ONCE here and inlined as the same integer
    * literal into both the Spark plan and the DuckDB oracle, so no
    * transcendental function is ever evaluated by either engine.
    */
  def ndcgWeightMicro(i: Int): Long =
    math.floor(1e6 * math.log(2.0) / math.log(i + 1.0)).toLong

  /** V32: nDCG@k retrieval-quality census over the batch query set —
    * the rank-discounted companion of V22's MRR: where MRR reads only
    * the FIRST relevant hit, nDCG@k credits every relevant result,
    * discounted by 1/log2(rank+1), normalized by the best achievable
    * DCG given the query's relevant-document budget (IDCG over
    * min(k, n_rel) ranks) — the standard retrieval-eval readout for
    * embedding QA before an index ships.
    *
    * Relevance is binary label match (the V12/V22 convention); the
    * query's own row is excluded from both the ranking and its
    * relevant budget (n_rel = label count − 1). Queries with
    * n_rel = 0 have undefined nDCG and are excluded by contract.
    *
    * Exactness: discount weights and their prefix sums are integer
    * micro-unit literals from [[ndcgWeightMicro]] (shared verbatim
    * with the oracle SQL — neither engine computes a log); DCG is an
    * integer sum of those weights; nDCG = (dcg · 1e6) div idcg on
    * non-negative integers, where Spark `div` ≡ DuckDB `//`.
    *
    * Scale shape: ONE corpus × queries codegen scan (the V19 batch
    * pattern — queries broadcast); per-query top-k plans as
    * WindowGroupLimit (partial before the Exchange); everything after
    * the rank filter is bounded by queries × k joined against three
    * broadcast relations (k-row weights, k-row prefix sums, ≤ labels
    * census).
    */
  def ndcgAtK(emb: DataFrame, queryMax: Long, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val wts = (1 to k).map(i => (i.toLong, ndcgWeightMicro(i)))
    val cum = (1 to k)
      .map(m => (m.toLong, wts.take(m).map(_._2).sum))
    val wDf = wts.toDF("rk", "w_micro")
    val cumDf = cum.toDF("m", "idcg_micro")
    val qs = emb.filter(col("vec_id") < queryMax)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").as("q_label"))
    val scored = emb.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q_label"), col("vec_id"),
        col("label"),
        micro(cosineSim(col("embedding"), col("qe"))).as("cos_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos_micro").desc, col("vec_id"))
    val dcg = scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .join(broadcast(wDf), Seq("rk"))
      .groupBy("query_id", "q_label")
      .agg(sum(when(col("label") === col("q_label"), col("w_micro"))
          .otherwise(0L)).as("dcg_micro"),
        sum(when(col("label") === col("q_label"), 1L).otherwise(0L))
          .as("hits"))
    val labelCounts = emb.groupBy(col("label").as("q_label"))
      .agg(count(lit(1)).as("n_label"))
    dcg.join(broadcast(labelCounts), Seq("q_label"))
      .withColumn("n_rel", col("n_label") - 1L)
      .withColumn("m", least(lit(k.toLong), col("n_rel")))
      .join(broadcast(cumDf), Seq("m"))
      .select(col("query_id"), col("q_label"), col("n_rel"),
        col("hits"), col("dcg_micro"), col("idcg_micro"),
        expr("(dcg_micro * 1000000) div idcg_micro").as("ndcg_micro"))
  }

  /** SSP prototype pruning (Sorscher et al., "Beyond neural scaling
    * laws", NeurIPS 2022): rank every vector by its cosine to its OWN
    * cluster centroid — the paper's "prototypicality" — and keep the
    * hardest (least prototypical) fraction of each cluster. The
    * abundant-data regime of the paper: prototypical examples are the
    * redundant core a model learns from few samples, so pruning them
    * first buys the steepest loss-per-example improvement. SemDeDup
    * (D12) removes literal semantic copies; this removes the easy
    * CENTER of each semantic region — the two compose into the
    * paper's full curation recipe under one trained codebook.
    *
    * Determinism: the prototypicality score is the integer
    * micro-cosine the assignment kernel already computes
    * ([[graft.functions.KmeansScore]] — the winning score of
    * [[graft.functions.KmeansAssign]]'s argmax, same codebook, same
    * tie order), the hardness rank orders (score ASC, vec_id), and
    * the keep verdict is the exact integer comparison
    * rank · keepDen ≤ n_cluster · keepNum — floor(n·frac) kept per
    * cluster with no float threshold anywhere.
    *
    * Scale shape: NO pair join at all — unlike the Σ|cluster|²
    * families this is assignment-shaped: one zero-shuffle kernel
    * projection (cluster id + score ride the same scan), then ONE
    * (cluster) Exchange shared by both windows (the rank and the
    * cluster-size count partition identically, so Spark plans a
    * single sort + two WindowExecs over one shuffle). At 100 TB this
    * costs what scanning the vectors costs.
    */
  def protoPrune(emb: DataFrame, cents: Array[Array[Long]],
                 keepNum: Int, keepDen: Int): DataFrame = {
    val assigned = emb.select(col("vec_id"),
      assignCluster(col("embedding"), cents).as("cluster"),
      graft.functions.KmeansScore.kmeansScore(col("embedding"), cents)
        .as("proto_cos_micro"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster")
      .orderBy(col("proto_cos_micro").asc, col("vec_id"))
    val wSize = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster")
    assigned
      .withColumn("hardness_rank", row_number().over(wRank).cast("long"))
      .withColumn("n_cluster", count(lit(1)).over(wSize))
      .select(col("vec_id"), col("cluster"), col("proto_cos_micro"),
        col("hardness_rank"), col("n_cluster"),
        when(col("hardness_rank") * lit(keepDen.toLong) <=
          col("n_cluster") * lit(keepNum.toLong), 1L).otherwise(0L)
          .as("kept"))
  }

  /** Per-label embedding diversity census WITHOUT a pair join — the
    * sum-vector identity: over any group, the sum of all pairwise
    * dots is (‖Σv‖² − Σ‖v‖²)/2, so the group's mean pairwise
    * similarity falls out of ONE linear pass where the pairwise
    * formulation pays Σ|group|². On milli-quantized integer
    * components every term is exact: S_i = Σ_v v_i per dimension,
    * ssum = Σ_i S_i² = ‖Σv‖², t = Σ_v ‖v‖² — all integers, so the
    * identity holds bit-for-bit on both engines.
    *
    * The reported `coherence_micro` = (ssum − t) / ((n−1) · t) is the
    * norm-weighted mean pairwise dot over the mean self dot: exactly
    * 10⁶ when all of a label's vectors are identical, near 0 for an
    * isotropic cloud — the per-class redundancy number a curation
    * pipeline reads BEFORE deciding which classes need SemDeDup-style
    * pair work at all (low coherence ⇒ the Σ|cluster|² spend is
    * wasted there). One IEEE division of exact integer operands,
    * micro-floored, oracle-mirrored verbatim.
    *
    * Scale shape: one posexplode → one partial-agg'd (label, i)
    * Exchange (bounded by labels × dims, NOT by vectors) → one
    * (label) rollup. Exactness bound: ssum ≤ dims · (n·1000)² stays
    * inside the 2⁵³ double-exact range up to ~1.5M vectors per label
    * at 64 dims; past that, range-partition the label (the X38
    * bucketing precedent) or drop to 100-unit components.
    */
  def embedDiversity(emb: DataFrame): DataFrame = {
    emb
      .select(col("label"),
        posexplode(milliVec(col("embedding"))).as(Seq("i", "v")))
      .groupBy("label", "i")
      .agg(sum("v").as("s"), sum(col("v") * col("v")).as("q"),
        count(lit(1)).as("n"))
      .groupBy("label")
      .agg(sum(col("s") * col("s")).as("ssum"), sum("q").as("t"),
        max("n").as("n"))
      .select(col("label"), col("n").as("n_vecs"),
        col("t").as("self_dot_sum"), col("ssum").as("sum_vec_dot"),
        when(col("n") > 1L,
          micro((col("ssum") - col("t")) /
            ((col("n") - 1L) * col("t"))))
          .otherwise(0L).as("coherence_micro"))
  }

  /** V19: label-centroid geometry census — the class-separability
    * report: each label's centroid as per-dimension truncated INTEGER
    * means of the milli components (the V2 trainer's refresh rule
    * applied to label groups — Java `div` and DuckDB `//` both
    * truncate toward zero, so centroids are bit-identical across
    * engines), then the pairwise centroid cosine matrix. Two labels
    * whose centroids sit at cos ≈ 1 WILL cross-predict in V12's kNN
    * confusion and resist any cluster blocking — this census predicts
    * those off-diagonals from pure geometry before any pair work runs,
    * and is the evidence for merging or re-labeling classes.
    *
    * Scale shape: one posexplode + one partial-agg'd (label, dim)
    * Exchange (bounded by labels × dims, not vectors) builds the
    * centroid relation; everything after — norms, the pair join, the
    * census — runs on the labels×dims-row centroid table, broadcast-
    * sized at any corpus scale. Zero corpus pair work.
    */
  def labelCentroidGeometry(emb: DataFrame): DataFrame = {
    val cents = emb
      .select(col("label"),
        posexplode(milliVec(col("embedding"))).as(Seq("i", "v")))
      .groupBy("label", "i")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("i"), expr("s div n").as("c"),
        col("n"))
    val norms = cents.groupBy("label")
      .agg(sum(col("c") * col("c")).as("ssq"), max("n").as("n"))
    val dots = cents.select(col("label").as("label_a"), col("i"),
        col("c").as("ca"))
      .join(cents.select(col("label").as("label_b"), col("i"),
        col("c").as("cb")), "i")
      .filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(sum(col("ca") * col("cb")).as("dot"))
    dots
      .join(norms.select(col("label").as("label_a"),
        col("ssq").as("ssqa"), col("n").as("n_a")), "label_a")
      .join(norms.select(col("label").as("label_b"),
        col("ssq").as("ssqb"), col("n").as("n_b")), "label_b")
      .select(col("label_a"), col("label_b"),
        when(col("ssqa") === 0L || col("ssqb") === 0L, 0L)
          .otherwise(micro(col("dot") /
            (sqrt(col("ssqa").cast("double")) *
              sqrt(col("ssqb").cast("double")))))
          .as("cos_micro"),
        col("n_a"), col("n_b"))
  }

  /** V25: per-label centroid DRIFT census — V19's machinery pointed
    * at the monitoring question instead of the separability one: each
    * label's population split into two deterministic halves
    * (vec_id parity — in production, the time/batch column), a
    * truncated-integer-mean centroid per half, and the cosine between
    * the two half-centroids. cos ≈ 1 means the label occupies the
    * same region in both halves (stable embedding space / stable
    * labeling); a low cosine is the drift alarm — re-embedding,
    * upstream distribution shift, or label contamination — caught
    * from pure geometry before any model metric moves. The embedding-
    * space sibling of X44's KS gate.
    *
    * Scale shape: identical to V19 — one posexplode into a partial-
    * agg'd (label, half, dim) Exchange bounded by labels × 2 × dims;
    * everything after runs on the centroid table. Labels present in
    * only one half drop out (inner join) — there is nothing to
    * compare.
    */
  def centroidDrift(emb: DataFrame): DataFrame = {
    val cents = emb
      .select(col("label"), (col("vec_id") % 2L).as("half"),
        posexplode(milliVec(col("embedding"))).as(Seq("i", "v")))
      .groupBy("label", "half", "i")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("half"), col("i"),
        expr("s div n").as("c"), col("n"))
    val norms = cents.groupBy("label", "half")
      .agg(sum(col("c") * col("c")).as("ssq"), max("n").as("n"))
    val dots = cents.filter(col("half") === 0L)
      .select(col("label"), col("i"), col("c").as("ca"))
      .join(cents.filter(col("half") === 1L)
        .select(col("label"), col("i"), col("c").as("cb")),
        Seq("label", "i"))
      .groupBy("label").agg(sum(col("ca") * col("cb")).as("dot"))
    dots
      .join(norms.filter(col("half") === 0L)
        .select(col("label"), col("ssq").as("ssqa"),
          col("n").as("n_a")), Seq("label"))
      .join(norms.filter(col("half") === 1L)
        .select(col("label"), col("ssq").as("ssqb"),
          col("n").as("n_b")), Seq("label"))
      .select(col("label"), col("n_a"), col("n_b"),
        when(col("ssqa") === 0L || col("ssqb") === 0L, 0L)
          .otherwise(micro(col("dot") /
            (sqrt(col("ssqa").cast("double")) *
              sqrt(col("ssqb").cast("double")))))
          .as("cos_micro"))
  }

  /** V17: per-vector assignment-margin audit — best minus runner-up
    * centroid score under the trained codebook, via the
    * [[graft.functions.KmeansSecond]] kernel (rank 2 of the same
    * (score DESC, cid) order the assignment argmax uses, one compiled
    * loop tracking both leaders). A vector at margin ≈ 0 sits ON a
    * cluster boundary — exactly where every cluster-BLOCKED operator
    * (SemDeDup D12, the kNN label audit V12) mis-serves it, since its
    * near neighbors can land across the cut. The margin census is the
    * measured answer to "is nCentroids carving real structure?": a
    * codebook slicing through density yields a boundary-heavy census;
    * one tracing real cluster gaps yields wide margins. Read it before
    * trusting the blocking, the way V11's cosine census is read before
    * setting the D12 bar.
    *
    * Units: scores are the assignment kernel's own — floor(1e6 ·
    * vm·c / |c|) = 1e6 · |vm| · cosθ, NORM-SCALED by the vector's
    * milli magnitude (|vm| ≈ 1000 for unit embeddings, so a margin of
    * 10⁹·Δcos). Rankings and margins are exact integers mirrored
    * verbatim by the oracle; the boundary bar is stated in the same
    * units.
    *
    * Scale shape: a PURE PROJECTION — three sibling kernels (assign /
    * best score / runner-up score) ride one scan, zero shuffles
    * (plan-pinned). The cheapest audit in the similarity family.
    */
  def clusterMargins(emb: DataFrame, cents: Array[Array[Long]],
                     boundaryMicroMax: Long): DataFrame =
    emb.select(col("vec_id"),
        assignCluster(col("embedding"), cents).as("cluster"),
        graft.functions.KmeansScore.kmeansScore(col("embedding"), cents)
          .as("best_micro"),
        graft.functions.KmeansSecond.kmeansSecond(col("embedding"),
          cents).as("second_micro"))
      .withColumn("margin_micro",
        col("best_micro") - col("second_micro"))
      .withColumn("boundary",
        when(col("margin_micro") <= boundaryMicroMax, 1L).otherwise(0L))

  /** Ambiguity bar for the silhouette census: points with s below this
    * are "could belong to either cluster".
    */
  val SilAmbiguousMax = 100000L

  /** V40: simplified-silhouette clustering-quality census — the
    * model-level verdict V17's per-point margins feed into: per point,
    * a′ = dissimilarity to the OWN centroid and b′ = dissimilarity to
    * the nearest OTHER centroid (both 10⁶ − kernel micro-cosine), and
    * s = (b′ − a′)/max(a′, b′) — the centroid-based silhouette
    * (Hruschka et al.), the standard O(n·k) stand-in for Rousseeuw's
    * O(n²) pairwise silhouette at corpus scale. Nearest-centroid
    * assignment makes a′ ≤ b′, so s ∈ [0, 1]: the per-CLUSTER census
    * (mean, min, ambiguous share under [[SilAmbiguousMax]]) ranks
    * clusters by internal coherence — the "which clusters are real vs
    * which are k-means artifacts" table that decides k next to V37's
    * elbow curve.
    *
    * Exactness: the kernel scores are vector-scale-UNnormalized
    * (micro(dot_milli/|c|) — fine for argmax, wrong for a ratio), so
    * the silhouette divides them through the row's own milli norm:
    * with best = 10⁶·|vm|·cos_a and R = 10⁶·√ssq_vm = 10⁶·|vm|,
    * s = (cos_a − cos_b)/(1 − cos_b … ) collapses to
    * (best − second) / max(R − best, R − second, 1) after multiplying
    * both sides by R — an integer numerator over ONE double tree
    * (sqrt is IEEE-exact; the degenerate R = best case guards to
    * divisor 1), micro-floored, mirrored term-for-term. Mean = integer
    * floor division of non-negative sums; shares are integer ppm.
    *
    * Scale shape: assignment + both kernel scores + the row ssq are
    * one zero-shuffle codegen projection over the corpus; the census
    * is one (cluster, partial) agg Exchange over nCentroids groups.
    */
  def silhouetteCensus(emb: DataFrame,
                       cents: Array[Array[Long]]): DataFrame =
    emb.select(assignCluster(col("embedding"), cents).as("cluster"),
        graft.functions.KmeansScore.kmeansScore(col("embedding"), cents)
          .as("best"),
        graft.functions.KmeansSecond.kmeansSecond(col("embedding"),
          cents).as("second"),
        graft.functions.vector.milliDot(col("embedding"),
          col("embedding")).as("ssq"))
      .withColumn("r", lit(1000000.0) * sqrt(col("ssq").cast("double")))
      .withColumn("s_micro", micro((col("best") - col("second")) /
        greatest(col("r") - col("best"), col("r") - col("second"),
          lit(1.0))))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"),
        sum("s_micro").as("sum_s"),
        min("s_micro").as("min_sil_micro"),
        sum(when(col("s_micro") < SilAmbiguousMax, 1L).otherwise(0L))
          .as("n_amb"))
      .select(col("cluster"), col("n_vecs"),
        expr("sum_s div n_vecs").as("mean_sil_micro"),
        col("min_sil_micro"),
        expr("(1000000 * n_amb) div n_vecs").as("amb_ppm"))

  /** V42: clustering-stability audit — the exact Rand index and
    * adjusted Rand index between two k-means clusterings of the same
    * corpus (here the production k=10 codebook vs a coarse k=5), the
    * "is the cluster structure REAL or a k-means artifact?" check: a
    * genuinely clustered corpus nests (high ARI — fine clusters sit
    * inside coarse ones); a structureless corpus re-partitions almost
    * independently (ARI ≈ 0), which warns every cluster-blocked
    * operator (D12, V12, V36…) that its blocks are arbitrary.
    *
    * Both indices come EXACTLY from the k₁×k₂ contingency census —
    * never from pairs: Σᵢⱼ C(nᵢⱼ,2), row/column sums, and T = C(n,2)
    * are all integers; Rand and ARI are each ONE double tree over
    * them, micro-floored (ARI's degenerate denominator guards to 0).
    *
    * Scale shape: two assignment kernel projections ride ONE corpus
    * scan into a ≤ k₁·k₂-cell partial-agg census; everything after is
    * arithmetic over ≤ 50 rows.
    */
  def clusterStability(emb: DataFrame, centsA: Array[Array[Long]],
                       centsB: Array[Array[Long]]): DataFrame = {
    val cont = emb.select(
        assignCluster(col("embedding"), centsA).as("ca"),
        assignCluster(col("embedding"), centsB).as("cb"))
      .groupBy("ca", "cb").agg(count(lit(1)).as("nij"))
    val rows = cont.groupBy("ca").agg(sum("nij").as("ri"))
      .agg(sum(expr("(ri * (ri - 1)) div 2")).as("s_a"))
    val cols = cont.groupBy("cb").agg(sum("nij").as("cj"))
      .agg(sum(expr("(cj * (cj - 1)) div 2")).as("s_b"))
    val tot = cont.agg(sum("nij").as("n"),
      count(lit(1)).as("cells"),
      sum(expr("(nij * (nij - 1)) div 2")).as("s_both"))
    val t = expr("(n * (n - 1)) div 2")
    // s_a·s_b is a pair-count product (~C(n,2)²) that overflows Long past
    // ~1e5 vectors; promote to double BEFORE multiplying (exp only ever
    // feeds double ratios; both engines then round the IEEE product
    // identically). Mirrored in clusterStabilityOracle.
    val exp = (col("s_a").cast("double") * col("s_b").cast("double")) / t
    val ariDen = (col("s_a") + col("s_b")) / lit(2.0) - exp
    tot.crossJoin(broadcast(rows)).crossJoin(broadcast(cols))
      .withColumn("t_pairs", t)
      .select(col("n"), col("cells"), col("s_both"), col("s_a"),
        col("s_b"), col("t_pairs"),
        micro((col("s_both") +
          (col("t_pairs") - col("s_a") - col("s_b") + col("s_both"))) /
          col("t_pairs")).as("rand_micro"),
        when(ariDen =!= 0.0,
          micro((col("s_both") - exp) / ariDen)).otherwise(lit(0L))
          .as("ari_micro"))
  }

  /** Hard-negative mining — the contrastive-training data-prep stage
    * (the DPR/ANCE shape): for every query in the batch set, the k
    * vectors that score HIGHEST against it while carrying a DIFFERENT
    * label — the negatives that actually move a contrastive loss,
    * as opposed to the trivial random ones. Output carries the
    * negative's label so downstream can audit which classes supply
    * each query's hard negatives.
    *
    * Scale shape: identical to [[SimilarityQueries.qAnnBatch]] — the
    * query side (id, embedding, label) is a tiny broadcast, scoring
    * is one codegen projection pass over the corpus, and per-query
    * top-k flows through the bounded [[TopKAggregator]] (≤ k rows per
    * map partition per query reach the shuffle — the n×Q score table
    * never materializes). The negatives' labels join back over k·Q
    * rows only.
    */
  def hardNegatives(emb: DataFrame, queryMax: Long, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qs = emb.filter(col("vec_id") < queryMax)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    val scored = emb.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id") &&
        col("label") =!= col("qlabel"))
      .select(col("query_id"),
        micro(cosineSim(col("embedding"), col("qe")))
          .cast("double").as("score"),
        col("vec_id"))
      .as[(Long, Double, Long)]
    val top = scored.groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(TopKAggregator.topK(k).toColumn.name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("vec_id"),
        col("col._1").cast("long").as("cos_micro"))
    top.join(emb.select(col("vec_id"), col("label").as("neg_label")),
        Seq("vec_id"))
      .select("query_id", "rank", "vec_id", "neg_label", "cos_micro")
  }

  def semDedup(emb: DataFrame, cents: Array[Array[Long]],
               cosMicroMin: Long): DataFrame =
    semDedupFrom(emb.select(col("vec_id"),
      assignCluster(col("embedding"), cents).as("cluster"),
      col("embedding")), cosMicroMin)

  /** [[semDedup]] over an ALREADY-ASSIGNED (vec_id, cluster, embedding)
    * relation — the store-backed entry point (see
    * [[knnLabelConfusionFrom]] for the partitioning story; this is the
    * documented 100-k-cluster regime where the codebook lives in
    * [[graft.sources.VectorStore]]'s layout, not in literals).
    */
  def semDedupFrom(assigned: DataFrame, cosMicroMin: Long): DataFrame = {
    val a = assigned.select(col("vec_id").as("d1"), col("cluster"),
      col("embedding").as("e1"))
    val b = assigned.select(col("vec_id").as("d2"), col("cluster"),
      col("embedding").as("e2"))
    val dup = a.join(b, Seq("cluster"))
      .filter(col("d1") < col("d2"))
      .select(col("d2").as("vec_id"),
        micro(cosineSim(col("e1"), col("e2"))).as("cos_micro"))
      .filter(col("cos_micro") >= cosMicroMin)
      .groupBy("vec_id").agg(max("cos_micro").as("dup_cos_micro"))
    assigned.select("vec_id", "cluster")
      .join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("dup_cos_micro"), lit(0L)).as("dup_cos_micro"),
        when(col("dup_cos_micro").isNull, 1L).otherwise(0L).as("kept"))
  }

  /** V47: SemDeDup ε yield curve — the tuning table for D12's
    * semantic-dedup bar, completing the threshold-sweep trilogy (D24
    * tunes the MinHash band config, V46 the graph beam, this the
    * cosine bar): ONE threshold-free pass computes every vector's
    * max within-cluster cosine (the same pair relation D12 filters),
    * then each swept ε is a row-level compare over that per-vector
    * profile — so the curve costs one pair scan + |ε| census
    * aggregates, not |ε| dedup runs. Reading it answers "how much
    * corpus does an 0.05 tighter bar excise" with data before anyone
    * re-runs semantic dedup (Abbas et al., SemDeDup 2023 tune exactly
    * this dial by sweep). The production bar is IN the grid, so the
    * D12 verdict is one row of this table (spec-pinned: n_excised at
    * ε = SemDedupCosMin equals q_semdedup's kept=0 count).
    *
    * Exactness: max cosine is the exact micro kernel; verdicts are
    * integer compares; keep_ppm one positive integer floor-division;
    * pair-less vectors carry a below-any-ε sentinel (−2·10⁶ < −cos
    * range) so they read kept at every ε.
    *
    * Scale shape: the D12 within-cluster pair bound paid ONCE
    * (threshold-free max is the same aggregate D12 runs); the sweep
    * is the broadcast ≤ |ε|-row grid × the per-vector profile
    * (whitelisted BNLJ), aggregated per ε.
    */
  def semDedupSweep(emb: DataFrame, cents: Array[Array[Long]],
                    epsList: Seq[Long]): DataFrame = {
    import emb.sparkSession.implicits._
    val assigned = emb.select(col("vec_id"),
      assignCluster(col("embedding"), cents).as("cluster"),
      col("embedding"))
    val a = assigned.select(col("vec_id").as("d1"), col("cluster"),
      col("embedding").as("e1"))
    val b = assigned.select(col("vec_id").as("d2"), col("cluster"),
      col("embedding").as("e2"))
    val maxc = a.join(b, Seq("cluster"))
      .filter(col("d1") < col("d2"))
      .select(col("d2").as("vec_id"),
        micro(cosineSim(col("e1"), col("e2"))).as("cos_micro"))
      .groupBy("vec_id").agg(max("cos_micro").as("maxc"))
    val grid = epsList.toDF("eps_micro")
    assigned.select("vec_id")
      .join(maxc, Seq("vec_id"), "left")
      .withColumn("maxc", coalesce(col("maxc"), lit(-2000000L)))
      .crossJoin(broadcast(grid))
      .groupBy("eps_micro")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("maxc") >= col("eps_micro"), 1L).otherwise(0L))
          .as("n_excised"))
      .withColumn("n_kept", col("n_vecs") - col("n_excised"))
      .withColumn("keep_ppm", expr("(1000000 * n_kept) div n_vecs"))
      .orderBy("eps_micro")
  }

  /** V36: deterministic cluster-blocked DBSCAN over the embedding
    * corpus — density clustering as the geometry-driven complement to
    * k-means partitions (D12/V9 assume convex cells; DBSCAN finds
    * arbitrary-shape dense regions and names the sparse rest NOISE,
    * which for a training corpus reads "outlier/junk candidate").
    *
    * Semantics (all deterministic, hence oracle-able):
    *  - neighborhood = same trained k-means cell AND micro-cosine ≥
    *    `epsCosMin` (the candidate relation IS the definition — the
    *    blocked-DBSCAN contract, documented; a cross-cell ε-ball
    *    neighbor a pure DBSCAN would see is out of scope by design,
    *    exactly like D12's within-cluster dedup bar);
    *  - core ⇔ ≥ `minPts` neighbors (self excluded);
    *  - clusters = connected components of the core-core edge graph
    *    (labels = min reachable core id — the D7 discipline);
    *  - border = non-core with ≥ 1 core neighbor, adopting the MIN
    *    core neighbor's component (deterministic under multi-core
    *    reach); everything else is noise (cluster −1).
    *
    * Returns one row per vector: (vec_id, n_neighbors, role
    * 2=core/1=border/0=noise, cluster).
    *
    * Scale shape: the pair relation pays the D12 within-cluster bound
    * (never all-pairs) and materializes ONCE (localCheckpoint —
    * referenced by degree, core-edge, and border legs); components run
    * on the core-core subgraph through [[TextOps.connectedComponents]]
    * (driver union-find under the 2²² gate, distributed pointer
    * jumping above it); every later leg joins against bounded
    * relations.
    */
  def dbscan(emb: DataFrame, cents: Array[Array[Long]],
             epsCosMin: Long, minPts: Int): DataFrame = {
    val assigned = emb.select(col("vec_id"),
      assignCluster(col("embedding"), cents).as("cluster"),
      col("embedding"))
    val a = assigned.select(col("vec_id").as("d1"), col("cluster"),
      col("embedding").as("e1"))
    val b = assigned.select(col("vec_id").as("d2"), col("cluster"),
      col("embedding").as("e2"))
    val pairs = a.join(b, Seq("cluster"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        micro(cosineSim(col("e1"), col("e2"))).as("cos_micro"))
      .filter(col("cos_micro") >= epsCosMin)
      .select("d1", "d2")
      .transform(Materialize.shared)
    val deg = pairs.select(col("d1").as("v"), col("d2").as("u"))
      .unionAll(pairs.select(col("d2").as("v"), col("d1").as("u")))
    val degCount = deg.groupBy("v").agg(count(lit(1)).as("n_neighbors"))
    val cores = degCount.filter(col("n_neighbors") >= minPts)
      .select(col("v"))
    val coreEdges = pairs
      .join(cores.select(col("v").as("d1")), "d1")
      .join(cores.select(col("v").as("d2")), "d2")
      .select("d1", "d2")
    val cc = TextOps.connectedComponents(coreEdges)
    val coreLbl = cores
      .join(cc, cores("v") === cc("doc_id"), "left")
      .select(col("v").as("vec_id"),
        coalesce(col("component"), col("v")).as("core_cluster"))
    val borderLbl = deg
      .join(coreLbl.select(col("vec_id").as("u"),
        col("core_cluster").as("uc")), "u")
      .groupBy("v").agg(min("uc").as("border_cluster"))
    assigned.select("vec_id")
      .join(degCount.select(col("v").as("vec_id"), col("n_neighbors")),
        Seq("vec_id"), "left")
      .join(coreLbl, Seq("vec_id"), "left")
      .join(borderLbl.select(col("v").as("vec_id"),
        col("border_cluster")), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
        when(col("core_cluster").isNotNull, 2L)
          .when(col("border_cluster").isNotNull, 1L)
          .otherwise(0L).as("role"),
        coalesce(col("core_cluster"), col("border_cluster"), lit(-1L))
          .as("cluster"))
  }

  /** V37: the k-means model-selection curve — the spherical-k-means
    * objective (sum over vectors of the best-centroid score in the
    * kernel's norm-scaled units, 10⁶·|vm|·cos — the V17 convention;
    * HIGHER = tighter, the cosine analog of negative inertia) measured
    * at several codebook sizes, plus the balance columns (clusters
    * actually used, largest cluster) that catch the degenerate fits a
    * bare objective hides. The "pick k" decision every IVF/SemDeDup/
    * blocking deployment makes — as an oracled census instead of a
    * rule of thumb.
    *
    * Each k is one book of a single [[lloydBooks]] training (the
    * deterministic md5-seeded integer trainer; every book equals
    * [[kmeansCodebook]] at its k), so the oracle replays every
    * trajectory via chained CTEs — the q_pq_recall discipline.
    *
    * Scale shape: per k, ONE corpus scan through the compiled
    * assign/score kernels into a (cluster) partial agg; the curve is
    * a ks.length-row union of 1-row rollups. Training is one job per
    * round for every k (bounded codebook tables).
    */
  def kmeansElbow(emb: DataFrame, ks: Seq[Int], rounds: Int)
  : DataFrame =
    ks.zip(lloydBooks(
        emb.select(col("vec_id"), milliVec(col("embedding")).as("vm")),
        ks.map((col("vm"), _)), rounds)).map { case (k, cents) =>
      emb.select(
        assignCluster(col("embedding"), cents).as("cluster"),
        graft.functions.KmeansScore.kmeansScore(col("embedding"), cents)
          .as("score"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"), sum("score").as("ssc"))
        .agg(sum("n").as("n_vectors"),
          sum("ssc").as("sum_score_micro"),
          count(lit(1)).as("n_clusters_used"),
          max("n").as("max_cluster_n"))
        .select(lit(k.toLong).as("k"), col("n_vectors"),
          col("sum_score_micro"), col("n_clusters_used"),
          col("max_cluster_n"))
    }.reduce(_ unionByName _)

  // ------------------------------------------- scalar quantization (V20)

  /** Per-element int8 codes under [[quantizeInt8]]'s law —
    * `floor(v · 127 / amax)` with the per-vector abs-max scale — kept
    * as an ARRAY (cast to float, exact for |code| ≤ 127) so the code
    * vectors flow through the same `cosine_sim` kernel as the raw
    * floats.
    */
  def int8CodeVec(e: Column): Column =
    // fused absmax fold + quantize: one codegen pass
    graft.functions.vector.int8Codes(e).cast("array<float>")

  /** V53: per-vector SQ8 angular-fidelity census — the distortion
    * audit of the int8 absmax compression ([[quantizeInt8]]), the SQ
    * sibling of V25's PQ distortion: how much ANGLE does each vector
    * lose to quantization? fid = cos(milli components, int8 codes) in
    * micro units (cosine is scale-invariant, so amax cancels and both
    * operands are exact integer vectors — the mixed raw×code cosine
    * would need a cross-engine double sum, which drifts); loss
    * (10⁶ − fid) buckets into decades (0 / ≤10 / ≤10² / ≤10³ / ≤10⁴ /
    * worse — the reliability-histogram read: a healthy SQ8 codebook
    * holds the corpus at ≤10³ micro, outliers surface in the tail
    * buckets with their exemplars).
    *
    * Exactness: the three integers [Σm·q, Σm², Σq²] come from ONE
    * kernel pass ([[graft.functions.VectorKernels.int8_fid_parts]]);
    * the
    * cosine is one mirrored double tree; bucket edges are integer
    * compares. Zero vectors (Σm² = 0 — nothing to quantize) are
    * excluded by the same guard both engines share.
    *
    * Scale shape: one zero-shuffle projection pass into ONE ≤6-row
    * bucket census Exchange — the worst-vector exemplar (the (fid,
    * vec_id) lexicographic min) rides the SAME aggregate as a
    * struct-min, so the corpus is scanned exactly once. DuckDB has no
    * composite-ordering min_by, so the oracle keeps its join
    * formulation; both reduce to
    * "min vec_id among the bucket's min-fid rows".
    */
  def sq8FidelityCensus(emb: DataFrame): DataFrame = {
    val parts = emb.select(col("vec_id"),
        graft.functions.vector.int8FidParts(col("embedding")).as("p"))
      .select(col("vec_id"), col("p").getItem(0).as("dot"),
        col("p").getItem(1).as("sm"), col("p").getItem(2).as("sq"))
      .filter(col("sm") > 0L && col("sq") > 0L)
      .withColumn("fid", micro(col("dot") /
        (sqrt(col("sm").cast("double")) * sqrt(col("sq").cast("double")))))
      .withColumn("loss", lit(1000000L) - col("fid"))
      .withColumn("bucket",
        when(col("loss") <= 0L, 0L).when(col("loss") <= 10L, 1L)
          .when(col("loss") <= 100L, 2L).when(col("loss") <= 1000L, 3L)
          .when(col("loss") <= 10000L, 4L).otherwise(5L))
    parts.groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"), min("fid").as("min_fid"),
        max("fid").as("max_fid"), sum("fid").as("sum_fid"),
        min(struct(col("fid"), col("vec_id"))).as("w"))
      .select(col("bucket"), col("n_vecs"), col("min_fid"),
        col("max_fid"), col("sum_fid"), col("w.vec_id").as("worst_vec"),
        expr("sum_fid div n_vecs").as("mean_fid"))
      .orderBy("bucket")
  }

  /** V20: scalar-quantized (SQ8) search with measured fidelity — the
    * OTHER standard vector-compression serving path next to PQ/ADC
    * (FAISS `SQ8`, pgvector `halfvec`/`int8`): 4 bytes/dim drop to 1,
    * the scoring loop stays a plain dot product (no codebook, no LUT —
    * SIMD-friendly where PQ's gather is not), and because cosine is
    * scale-invariant the per-vector `amax` scale CANCELS — int8 cosine
    * needs no dequantization at all.
    *
    * Emits the SQ top-k per query with each hit flagged against the
    * exact-cosine truth (`in_truth`), so the result carries both the
    * approximate ranking AND its measured fidelity in one relation.
    *
    * Scale shape: codes are a per-row projection BEFORE the query
    * join (computed once per corpus row, never per pair); one corpus
    * scan scores exact + SQ cosine side by side (the scan is shared,
    * not run twice); both top-k windows plan as WindowGroupLimit over
    * the same partial relation. At serving scale only the 1-byte/dim
    * code column ships to the scorer — the raw floats stay in cold
    * storage for the rerank tier (q_pq_rerank's pattern).
    */
  def sqSearch(emb: DataFrame, queryMax: Long, k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"),
      int8CodeVec(col("embedding")).as("codes"))
    val qs = e.filter(col("vec_id") < queryMax)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("codes").as("qc"))
    val scored = e.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        micro(cosineSim(col("embedding"), col("qe"))).as("cos_micro"),
        micro(cosineSim(col("codes"), col("qc"))).as("sq_micro"))
      // two consumers: the SQ ranking and the exact truth
      .transform(Materialize.cached)
    def topk(order: Column) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(order, col("vec_id"))
      scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k)
    }
    val truth = topk(col("cos_micro").desc)
      .select(col("query_id"), col("vec_id"), lit(true).as("in_truth"))
    topk(col("sq_micro").desc)
      .select(col("query_id"), col("__rn").cast("long").as("rank"),
        col("vec_id"), col("sq_micro"))
      .join(truth, Seq("query_id", "vec_id"), "left")
      .select(col("query_id"), col("rank"), col("vec_id"),
        col("sq_micro"), coalesce(col("in_truth"), lit(false))
          .as("in_truth"))
  }

  // --------------------------- MMR diversified retrieval (V24)

  /** V24: Maximal Marginal Relevance (Carbonell & Goldstein 1998) —
    * the diversified re-rank every RAG/search stack runs over its ANN
    * shortlist so the k results aren't k near-copies of the best hit
    * (on a deduplicated-imperfectly corpus the top-k WILL be
    * near-dups; MMR is the serving-time complement of D12's
    * index-time SemDeDup). Greedy: each round selects
    * argmax_c [ λ·cos(q,c) − (1−λ)·max_{s∈S} cos(c,s) ].
    *
    * Determinism/exactness: λ = ½ with both terms in integer micro
    * units, so selection maximizes the INTEGER score
    * `cosq − max_sim` (= 2·MMR; the halving cannot change an argmax)
    * with ties to the smaller vec_id — every round is an exact
    * integer argmax, bit-identical cross-engine; max over the empty
    * selected set is 0 by the standard convention (round 1 is pure
    * relevance).
    *
    * Scale shape: MMR is quadratic in its POOL, so the pool is the
    * bounded ANN shortlist (top-`poolK` by relevance — the
    * TakeOrdered path), never the corpus: pool and its pairwise sim
    * relation (≤ poolK² rows, kernel-scored, both cached) are
    * shortlist-sized, each of the `k` fixed rounds is one anti-join +
    * one max-aggregate + one TakeOrdered(1) over ≤ poolK rows, and
    * the selected relation is localCheckpointed per round (the
    * [[TextOps]] iterative discipline) so plan depth stays linear in
    * the constant k.
    */
  def mmrDiversified(emb: DataFrame, queryId: Long, poolK: Int,
                     k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    val pool = emb.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"),
        micro(cosineSim(col("embedding"), col("qe"))).as("cosq"))
      .orderBy(col("cosq").desc, col("vec_id")).limit(poolK)
      .transform(Materialize.cached)
    val sims = pool.select(col("vec_id").as("u"), col("embedding").as("eu"))
      .join(pool.select(col("vec_id").as("v"), col("embedding").as("ev")),
        col("u") =!= col("v"))
      .select(col("u"), col("v"),
        micro(cosineSim(col("eu"), col("ev"))).as("s"))
      .transform(Materialize.cached)
    var selected = pool
      .orderBy(col("cosq").desc, col("vec_id")).limit(1)
      .select(col("vec_id"), lit(1L).as("rank"), col("cosq"),
        lit(0L).as("msim"), col("cosq").as("score_micro"))
      .transform(Materialize.shared)
    (2 to k).foreach { t =>
      val selIds = selected.select("vec_id")
      val msim = sims
        .join(selIds.withColumnRenamed("vec_id", "v"), Seq("v"))
        .groupBy("u").agg(max("s").as("msim"))
      val pick = pool.join(selIds, Seq("vec_id"), "left_anti")
        .join(msim, col("vec_id") === col("u"))
        .select(col("vec_id"), lit(t.toLong).as("rank"), col("cosq"),
          col("msim"), (col("cosq") - col("msim")).as("score_micro"))
        .orderBy(col("score_micro").desc, col("vec_id")).limit(1)
      selected = selected.unionByName(pick).transform(Materialize.shared)
    }
    selected
  }

  /** Sentinel "distance to the empty selected set" for the k-center
    * seed row: below any real micro-cosine, mirrored in the oracle.
    */
  val KcSeedCos: Long = -1000000L

  /** V39: greedy k-center (farthest-point / Gonzalez) coreset
    * selection — the data-selection primitive behind coreset
    * construction and diverse seed picking: start from the lowest
    * vec_id, then repeatedly add the point FARTHEST from everything
    * already selected (here: lowest max-cosine, ties to the smaller
    * vec_id). The greedy is a 2-approximation of the optimal k-center
    * cover (Gonzalez 1985), and the output's `dis_micro` column IS the
    * coverage-radius curve: row t's value is the worst-covered point's
    * dissimilarity after t−1 centers — the "how many centers until the
    * corpus is δ-covered" decision table, read directly off the run.
    * MMR (V24) diversifies a top-k SHORTLIST against a query; this
    * selects from the WHOLE corpus with no query — index seeds,
    * annotation batches, eval panels.
    *
    * Determinism/exactness: every round is an integer argmin over
    * micro-cosines (greatest of the per-center kernel scores) with
    * vec_id ties; the seed row carries the [[KcSeedCos]] sentinel.
    * The oracle replays the identical greedy as unrolled MATERIALIZED
    * CTE rounds (the V24/V35 discipline).
    *
    * Scale shape: each round is ONE corpus scan — a codegen projection
    * against the ≤ rounds collected center vectors (the kmeansCodebook
    * driver-state discipline; the collected state is rounds × dims
    * longs) into a TakeOrdered(1); no joins, no shuffles beyond the
    * argmin's single-row reduction; rounds are a fixed constant.
    */
  def kcenterSelect(emb: DataFrame, rounds: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    kcenterChosen(emb, rounds).zipWithIndex.map {
      case ((id, _, m), i) => ((i + 1).toLong, id, m, 1000000L - m)
    }.toDF("round", "vec_id", "max_cos_prior_micro", "dis_micro")
  }

  /** The greedy itself, returning (vec_id, embedding, max-cos-to-
    * prior) per pick — shared by [[kcenterSelect]] and the V43
    * coverage census.
    */
  private def kcenterChosen(emb: DataFrame, rounds: Int)
  : Vector[(Long, Array[Float], Long)] = {
    val seed = emb.orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("embedding")).collect().head
    var chosen = Vector(
      (seed.getLong(0), seed.getSeq[Float](1).toArray, KcSeedCos))
    (2 to rounds).foreach { t =>
      val pick = emb
        .filter(!col("vec_id").isInCollection(chosen.map(_._1)))
        .select(col("vec_id"), col("embedding"),
          kcMaxCos(chosen).as("mc"))
        .orderBy(col("mc").asc, col("vec_id")).limit(1)
        .collect().head
      chosen = chosen :+
        ((pick.getLong(0), pick.getSeq[Float](1).toArray,
          pick.getLong(2)))
    }
    chosen
  }

  private def kcMaxCos(
      chosen: Vector[(Long, Array[Float], Long)]): Column = {
    val scores = chosen.map { case (_, e, _) =>
      micro(cosineSim(col("embedding"), typedlit(e.toSeq)))
    }
    if (scores.size == 1) scores.head else greatest(scores: _*)
  }

  /** V43: the coverage census that GRADES the V39 selection — after
    * the `rounds` greedy picks, every non-center point's
    * dissimilarity to its nearest center: max (the would-be next-pick
    * radius), floor-mean, and the share already within the last
    * recorded pick radius. q_kcenter's curve says how fast the radius
    * shrank; this says what the final center set actually covers —
    * the acceptance number for "is k enough" before anyone ships the
    * coreset.
    *
    * Exactness: one more integer argmin-free scan off the SAME
    * collected centers; max/mean/share are integer aggregate
    * arithmetic (floor mean, positive ppm division).
    *
    * Scale shape: the greedy's rounds scans plus exactly ONE more
    * corpus scan into a single-row aggregate.
    */
  def kcenterCoverage(emb: DataFrame, rounds: Int): DataFrame = {
    val chosen = kcenterChosen(emb, rounds)
    val radius = 1000000L - chosen.last._3
    emb.filter(!col("vec_id").isInCollection(chosen.map(_._1)))
      .select((lit(1000000L) - kcMaxCos(chosen)).as("dis"))
      .agg(count(lit(1)).as("n_points"),
        max("dis").as("max_dis_micro"),
        sum("dis").as("sum_dis"),
        sum(when(col("dis") <= radius, 1L).otherwise(0L)).as("n_in"))
      .select(col("n_points"),
        lit(radius).as("last_pick_dis_micro"),
        col("max_dis_micro"),
        expr("sum_dis div n_points").as("mean_dis_micro"),
        expr("(1000000 * n_in) div n_points").as("within_last_ppm"))
  }

  // --------------------------------------- filtered search (V23)

  /** V23: FILTERED vector search — the pre-filter vs post-filter
    * recall experiment every vector store runs when metadata
    * predicates meet ANN: for each query, (a) the TRUE answer = top-k
    * over only the candidates passing the predicate (pre-filtering:
    * exact but requires predicate pushdown into the index), vs (b) the
    * cheap answer = unfiltered top-k, THEN the predicate (post-
    * filtering: reuses any index untouched but returns ≤ k rows and
    * loses every passing candidate that sat below rank k). The
    * measured gap — `n_post` survivors and their recall against the
    * pre-filtered truth — is the number that decides which side of
    * that tradeoff a serving stack takes (and why real systems do
    * predicate-aware probing).
    *
    * Scale shape: one scored corpus scan (cached) feeds both rankings;
    * each is a WindowGroupLimit top-k; everything downstream is
    * bounded by queries × k. The predicate here is a label threshold —
    * any pushable metadata predicate slots into the same plan.
    */
  def filteredAnn(emb: DataFrame, queryMax: Long, labelMax: Int,
                  k: Int): DataFrame = {
    val qs = emb.filter(col("vec_id") < queryMax)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val scored = emb.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        micro(cosineSim(col("embedding"), col("qe"))).as("cos_micro"))
      // two consumers: pre-filter truth + unfiltered ranking
      .transform(Materialize.cached)
    def topk(df: DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cos_micro").desc, col("vec_id"))
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k)
    }
    val pre = topk(scored.filter(col("label") < labelMax))
      .select(col("query_id"), col("vec_id"))
    val post = topk(scored).filter(col("label") < labelMax)
      .select(col("query_id"), col("vec_id"))
    val nPost = post.groupBy("query_id").agg(count(lit(1)).as("n_post"))
    val hits = post.join(pre, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    qs.select("query_id")
      .join(nPost, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_post"), lit(0L)).as("n_post"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        micro(coalesce(col("hits"), lit(0L)) / lit(k))
          .as("recall_micro"))
  }

  // --------------------------------- label-relevance retrieval (V22)

  /** V22: mean-reciprocal-rank retrieval evaluation with the label as
    * the relevance judgment — the standard embedding-quality number
    * (MTEB-style retrieval eval) next to V12's kNN confusion: for each
    * query, the rank of the FIRST same-label neighbor under exact
    * cosine, and its reciprocal. Queries whose label never recurs have
    * no relevant document and drop out (both engines inner-join the
    * best-relevant relation).
    *
    * Scale shape: deliberately NOT a window over per-query rankings
    * (that sorts the whole corpus per query). Two aggregations do it:
    * (1) the best same-label hit per query — one partial-agg'd
    * struct-max (cos DESC, vec_id ASC via negation); (2) its rank =
    * 1 + count of candidates strictly better — one filtered count
    * against the broadcast best relation. Both passes stream the same
    * cached score relation; nothing is ever sorted.
    */
  def labelMrr(emb: DataFrame, queryMax: Long): DataFrame = {
    val qs = emb.filter(col("vec_id") < queryMax)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").as("q_label"))
    val scored = emb.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q_label"), col("vec_id"),
        col("label"),
        micro(cosineSim(col("embedding"), col("qe"))).as("cos_micro"))
      // two consumers: best-relevant and the rank count
      .transform(Materialize.cached)
    val best = scored.filter(col("label") === col("q_label"))
      .groupBy("query_id")
      .agg(max(struct(col("cos_micro"), (-col("vec_id")).as("nv")))
        .as("b"))
      .select(col("query_id"), col("b.cos_micro").as("best_cos_micro"),
        (-col("b.nv")).as("best_vec_id"))
    val better = scored.join(broadcast(best), Seq("query_id"))
      .filter(col("cos_micro") > col("best_cos_micro") ||
        (col("cos_micro") === col("best_cos_micro") &&
          col("vec_id") < col("best_vec_id")))
      .groupBy("query_id").agg(count(lit(1)).as("n_better"))
    qs.select("query_id", "q_label")
      .join(best, Seq("query_id"))
      .join(better, Seq("query_id"), "left")
      .select(col("query_id"), col("q_label"), col("best_vec_id"),
        col("best_cos_micro"),
        (coalesce(col("n_better"), lit(0L)) + 1L).as("first_rank"),
        micro(lit(1.0) / (coalesce(col("n_better"), lit(0L)) + 1L))
          .as("rr_micro"))
  }

  // --------------------------------------- Matryoshka truncation (V21)

  /** V21: truncated-dimension retrieval quality — the Matryoshka /
    * adaptive-retrieval dial (MRL): score with only the first `d`
    * dimensions and measure recall@k against full-dimension truth.
    * With MRL-trained embeddings the leading dims carry most of the
    * signal, so serving can cut dot-product cost `dims/d`-fold and
    * rerank the shortlist at full width; this query measures exactly
    * what that dial costs on THIS corpus. The largest entry in `dims`
    * is the full width, anchoring recall at 1.0 (self-truth).
    *
    * Scale shape: ONE corpus×queries scan computes every truncation's
    * score in a single codegen projection (the per-dim kernels share
    * the row) and unpivots — the scan does NOT run once per dim; top-k
    * per (query, dim) plans as WindowGroupLimit; everything downstream
    * of the window is bounded by queries × dims × k.
    */
  def mrlRecall(emb: DataFrame, queryMax: Long, dims: Seq[Int],
                k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qs = emb.filter(col("vec_id") < queryMax)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val perDim = dims.map(d => struct(lit(d.toLong).as("dim"),
      micro(cosineSim(slice(col("embedding"), 1, d),
        slice(col("qe"), 1, d))).as("cos_micro")))
    val scored = emb.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        explode(array(perDim: _*)).as("s"))
      .select(col("query_id"), col("vec_id"), col("s.dim").as("dim"),
        col("s.cos_micro").as("cos_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("dim"))
      .orderBy(col("cos_micro").desc, col("vec_id"))
    val topk = scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select("query_id", "vec_id", "dim")
      // truth (full dim) joins against every truncation
      .transform(Materialize.cached)
    val truth = topk.filter(col("dim") === dims.max.toLong)
      .select("query_id", "vec_id")
    val hits = topk.join(truth, Seq("query_id", "vec_id"))
      .groupBy("query_id", "dim").agg(count(lit(1)).as("hits"))
    val dimDf = dims.map(_.toLong).toDF("dim")
    qs.select("query_id").crossJoin(broadcast(dimDf))
      .join(hits, Seq("query_id", "dim"), "left")
      .select(col("query_id"), col("dim"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        micro(coalesce(col("hits"), lit(0L)) / lit(k))
          .as("recall_micro"))
  }

  /** V48: anisotropy census — the expected cosine between two RANDOM
    * distinct vectors, per label and for the whole corpus (Ethayarajh
    * 2019: contextual embedding spaces are anisotropic — random pairs
    * read cosine ≫ 0, which silently inflates every V1/V12 similarity
    * readout and shrinks the usable score range; Mu & Viswanath 2018's
    * "all-but-the-top" is the standard fix, and V31's dominant
    * direction is its axis — THIS is the number that says whether the
    * correction is needed at all). The n² pairwise mean is computed
    * WITHOUT pairing via the sum-vector identity
    * Σ_{i≠j} ûᵢ·ûⱼ = ‖Σᵢûᵢ‖² − Σᵢ‖ûᵢ‖², so the whole census rides the
    * per-dim component sums.
    *
    * Exactness: components milli-quantize first ([[milliVec]]); each
    * row's unit vector re-quantizes to integer milli via ONE double
    * tree per component, floor(1000·m_d/√ssq) — deterministic per row
    * — so per-dim sums S_d, per-row self-mass Σq², and their label
    * rollups are EXACT integer aggregates; the corpus row is the
    * integer SUM of the label censuses (never a second scan). ‖S‖² is
    * per-dim floor((S_d)²) in milli² (S_d promoted to double before
    * squaring; exact to ~3·10⁶ vectors/label,
    * documented, DuckDB errors identically past it) summed as
    * INTEGERS, and the mean cosine is ONE micro-floored double tree
    * over (pairsum, n). Zero-norm rows are excluded before
    * normalization (the guard both engines share); labels with n < 2
    * read NULL mean.
    *
    * Scale shape: one posexplode scan into TWO partial-agg'd
    * Exchanges — the (label, dim) component-sum census (labels × dims
    * rows) and the (label) self-mass census; the corpus rollup and
    * every statistic are census-sized. No pairing anywhere — the
    * identity IS the scale design.
    */
  def anisotropyCensus(emb: DataFrame): DataFrame = {
    // milli-quantize + ssq-fold + normalize in ONE codegen projection;
    // null = the ssq > 0 exclusion, folded into the kernel
    val m = emb.select(col("label").cast("long").as("label"),
        graft.functions.vector.milliUnitVec(col("embedding")).as("q"))
      .filter(col("q").isNotNull)
    val rows = m.select(col("label"),
      posexplode(col("q")).as(Seq("dim", "qd")))
    // ONE census Exchange carries everything: component sums,
    // self-cos mass, AND the vector count — every vector contributes
    // every dim (fixed-length arrays), so any dim's row count IS the
    // label's n, and no second scan of the quantization pipeline is
    // needed
    val dimCen = rows.groupBy("label", "dim")
      .agg(sum("qd").as("s_d"),
        sum(col("qd") * col("qd")).as("self_d"),
        count(lit(1)).as("cnt"))
      .transform(Materialize.cached)
    val lab = dimCen.groupBy("label")
      .agg(sum(expr("CAST(floor(CAST(s_d AS DOUBLE) * " +
          "CAST(s_d AS DOUBLE)) AS BIGINT)")).as("snorm2"),
        sum("self_d").as("selfsum"), max("cnt").as("n"))
    // corpus row: integer rollup of the label censuses (label = -1);
    // ‖S‖² re-floors off the corpus-level per-dim sums, n sums over
    // any one dim's counts
    val corpus = dimCen.groupBy("dim")
      .agg(sum("s_d").as("s_d"), sum("self_d").as("self_d"),
        sum("cnt").as("cnt"))
      .agg(sum(expr("CAST(floor(CAST(s_d AS DOUBLE) * " +
          "CAST(s_d AS DOUBLE)) AS BIGINT)")).as("snorm2"),
        sum("self_d").as("selfsum"), max("cnt").as("n"))
      .select(lit(-1L).as("label"), col("snorm2"), col("selfsum"),
        col("n"))
    lab.select(col("label"), col("snorm2"), col("selfsum"), col("n"))
      .unionByName(corpus)
      .withColumn("pairsum", col("snorm2") - col("selfsum"))
      .select(col("label"), col("n"), col("snorm2"), col("selfsum"),
        col("pairsum"),
        when(col("n") >= 2L,
          expr("CAST(floor(1000000.0 * " +
            "((CAST(pairsum AS DOUBLE) / 1000000.0) / " +
            "CAST(n * (n - 1) AS DOUBLE))) AS BIGINT)"))
          .as("anis_micro"))
      .orderBy("label")
  }

  /** V49: dimension-redundancy census — pairwise Pearson correlation
    * between embedding DIMENSIONS (X48's per-source machinery turned
    * 90°: X48 correlates two metrics across docs, this correlates
    * every dim pair across vectors): two strongly-correlated
    * dimensions carry one dimension of information while costing two
    * everywhere — in the V10/V18 quantizers (PQ sub-spaces assume
    * independent sub-vectors), the V26 scalar quantizer's budget, and
    * V29's per-dim variance audit which CANNOT see redundancy (two
    * perfectly-correlated dims both read healthy variance). The
    * standard readout before picking PQ sub-space splits or trusting
    * a dim-prune.
    *
    * Exactness: the five pair sums (n, Σx, Σy, Σxy, Σx², Σy²) are
    * exact integer aggregates over milli components (the X48 census
    * shape; n·Σxy and Σx·Σy exact to ~10⁹ vectors at these magnitudes
    * — documented, at the extreme the sums move to DECIMAL(38) as in
    * X48); cov/var numerators stay INTEGER columns and r is ONE
    * micro-floored fixed double tree with the X48 radicand guard
    * (zero-variance dims read r = 0, never NaN).
    *
    * Scale shape: one posexplode scan, one self-join on vec_id
    * restricted to dim_a < dim_b (co-partitioned on the id — the
    * only row-grain stage, n·d²/2 work: the unavoidable price of a
    * covariance matrix), then ONE (dim_a, dim_b) partial-agg'd
    * Exchange carrying five integers per cell with map-side combine —
    * the shuffle is d²/2 cells, never rows. Everything after is
    * census-sized.
    */
  val RedundantAbsMicro = 800000L

  def dimCorrCensus(emb: DataFrame): DataFrame = {
    val el = emb.select(col("vec_id"),
        posexplode(milliVec(col("embedding"))))
      .select(col("vec_id"), col("pos").cast("long").as("dim"),
        col("col").cast("long").as("v"))
    val pairs = el.as("a").join(el.as("b"), Seq("vec_id"))
      .filter(col("a.dim") < col("b.dim"))
      .select(col("a.dim").as("dim_a"), col("b.dim").as("dim_b"),
        col("a.v").as("x"), col("b.v").as("y"))
    pairs.groupBy("dim_a", "dim_b")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("dim_a"), col("dim_b"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("cov_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("var_x"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("var_y"))
      .withColumn("r_micro",
        when(col("var_x") > 0L && col("var_y") > 0L,
          micro(col("cov_num") /
            (sqrt(col("var_x")) * sqrt(col("var_y")))))
          .otherwise(0L))
      .withColumn("is_redundant",
        abs(col("r_micro")) >= RedundantAbsMicro)
      .select("dim_a", "dim_b", "n", "cov_num", "var_x", "var_y",
        "r_micro", "is_redundant")
      .orderBy("dim_a", "dim_b")
  }

  /** V50: PQ sub-space independence audit — V49's dim-pair
    * correlations rolled up to the PRODUCT-QUANTIZER block grid:
    * PQ's entire accuracy argument (Jégou et al. 2011 §II.C)
    * assumes sub-vectors quantize independently, so correlation
    * mass that lands in CROSS-block cells is distortion the V10/V18
    * codebooks structurally cannot remove (the failure OPQ's learned
    * rotation exists to fix — this census is the "do we need OPQ"
    * measurement), while within-block mass is harmless (the block's
    * own codebook sees it). Read before choosing the V10 sub-space
    * split; a hot off-diagonal cell says re-order dims or rotate.
    *
    * Exactness: per-cell counts and Σ|r| are exact integer
    * aggregates over V49's micro integers; the mean is one integer
    * floor-division. Same documented headroom as V49.
    *
    * Scale shape: the V49 pipeline plus a ≤ (d/subLen)²-row census
    * rollup — the bench protocol re-derives the pair census (the
    * D-family audit discipline); the cells after it are ≤ 10 rows.
    */
  /** V51: effective dimensionality (participation ratio, diagonal
    * approximation) — ONE number for "how many dimensions is this
    * embedding actually using": PR = (Σ_d v_d)²/(Σ_d v_d²) over the
    * per-dimension variances, the standard effective-dimension
    * readout (the participation ratio of statistical physics, used
    * for exactly this purpose on representations); PR = d when all
    * dims carry equal variance, PR → 1 under total collapse. V29
    * flags dims that are individually dead; THIS integrates the whole
    * spectrum into the capacity number an index budget or a
    * dimensionality-reduction decision reads first. Diagonal
    * approximation documented: the exact effective rank needs the
    * eigenvalues (V31's power iteration finds the top one); on
    * near-axis-aligned spectra the two agree, and the diagonal form
    * is the one computable in one pass.
    *
    * Exactness: per-dim variance numerators v_d = n·Σv² − (Σv)² are
    * exact integers off milli components (X48 shape); each v_d² is
    * floored in 10¹⁸-scaled units BEFORE the cross-dim sum (the X51
    * per-term-floor discipline — sub-ppm distortion at production
    * scale, coarser at toy SFs, IDENTICAL on both engines either
    * way); PR and PR/d are each ONE micro-floored tree over the three
    * global integers. NULL readout (Σ floored v_d² = 0) covers TWO
    * states, deliberately undistinguished: genuinely all-constant
    * embeddings (every v_d = 0 exactly) AND a corpus so small that
    * every per-dim squared numerator sits under the 10¹⁸ scaling bar
    * (v_num below ~10⁹, i.e. the quantization floor zeroes every
    * term) — the readout is "no measurable variance mass at this
    * scale", not specifically "constant input"; a consumer that needs
    * the distinction reads the exact integer sum_v column (non-zero
    * iff some dim varies at all), which is emitted for exactly this.
    *
    * Scale shape: one posexplode into the dims-sized variance census
    * (the V29 Exchange), then ONE-ROW arithmetic.
    */
  def effectiveDim(emb: DataFrame): DataFrame = {
    val el = emb.select(posexplode(milliVec(col("embedding"))))
      .select(col("pos").cast("long").as("dim"),
        col("col").cast("long").as("v"))
    val g = el.groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("v").as("s"),
        sum(col("v") * col("v")).as("s2"))
      .select((col("n") * col("s2") - col("s") * col("s"))
        .as("v_num"))
      .withColumn("v_sq_e18",
        expr("CAST(floor((CAST(v_num AS DOUBLE) * " +
          "CAST(v_num AS DOUBLE)) / " +
          "CAST(1000000000000000000 AS DOUBLE)) AS BIGINT)"))
    val prTree =
      "(((CAST(sum_v AS DOUBLE) * CAST(sum_v AS DOUBLE)) / " +
        "CAST(1000000000000000000 AS DOUBLE)) / " +
        "CAST(greatest(sum_v_sq_e18, 1) AS DOUBLE))"
    g.agg(count(lit(1)).as("n_dims"), sum("v_num").as("sum_v"),
        sum("v_sq_e18").as("sum_v_sq_e18"))
      .select(col("n_dims"), col("sum_v"), col("sum_v_sq_e18"),
        expr(s"CASE WHEN sum_v_sq_e18 > 0 THEN " +
          s"CAST(floor(1000000.0 * $prTree) AS BIGINT) END")
          .as("pr_micro"),
        expr(s"CASE WHEN sum_v_sq_e18 > 0 THEN " +
          s"CAST(floor(1000000.0 * ($prTree / " +
          s"CAST(n_dims AS DOUBLE))) AS BIGINT) END")
          .as("pr_frac_micro"))
  }

  def pqBlockCorr(emb: DataFrame, subLen: Int,
                  barMicro: Long): DataFrame =
    dimCorrCensus(emb)
      .select(expr(s"dim_a div $subLen").as("block_a"),
        expr(s"dim_b div $subLen").as("block_b"),
        abs(col("r_micro")).as("ar"))
      .groupBy("block_a", "block_b")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("ar") >= barMicro, 1L).otherwise(0L))
          .as("n_redundant"),
        sum("ar").as("sum_abs_r"), max("ar").as("max_abs_r"))
      .select(col("block_a"), col("block_b"), col("n_pairs"),
        col("n_redundant"), col("sum_abs_r"), col("max_abs_r"),
        expr("sum_abs_r div n_pairs").as("mean_abs_r_micro"),
        (col("block_a") =!= col("block_b")).as("is_cross"))
      .orderBy("block_a", "block_b")
}
