package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.Hashing
import graft.sources.Tables

/** Driver-contract queries + DuckDB oracle SQL for [[SimilarityOps]].
  *
  * The oracle computes each cosine as `sum(a_i*b_i) / (sqrt(sum(a_i²)) *
  * sqrt(sum(b_i²)))` over position-joined unnested elements, all in
  * double — the same expression tree as the Spark `zip_with`/`aggregate`
  * fold up to summation order, which the micro-unit floor absorbs.
  * (DuckDB's own `list_cosine_similarity` accumulates in float32 and is
  * NOT used — it diverges from double math at ~1e-8, too close to the
  * 1e-6 quantization step.)
  */
object SimilarityQueries {

  val EmbedCosMin = 300000L // cosine >= 0.3
  val TopK = 10
  val QueryVecId = 0L
  val NCentroids = 10
  val NProbe = 3

  private def emb(spark: SparkSession, dir: String): DataFrame =
    // NOT parallelized: r16's sweep repartitioned the embeddings table
    // under all 57 V queries on a stage-profile rationale; a paired
    // 80-query family window this round (r17, same-day back-to-back,
    // OPTIMIZATION_r17.md §parallelized-rollback) measured the sweep a
    // ~0.6x geomean LOSS across the family (q_ann_ivf 0.37x,
    // q_elbow 0.45x, q_pq_* 0.39-0.66x) — the added round-robin
    // exchange costs more than the single-split parallelism it buys:
    // most V queries' first stage is a cheap projection/aggregate, not
    // a CPU-dense kernel. At 100 TB the helper is a no-op either way.
    Tables.embeddings(spark, dir)

  /** Corpus size per testdata dir, memoized (ADVICE r15): the count is
    * a PLAN-SELECTION scalar (the adaptive-banding dial), and an eager
    * full-scan count on every [[qEmbedLsh]] invocation doubled the
    * query's source reads for a corpus whose size never changes within
    * a session (the testdata dirs are immutable; a long-lived
    * deployment would read the catalog's row-count statistics here —
    * same shape, statistics → physical dial).
    */
  private val corpusCount =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def embCount(spark: SparkSession, dir: String): Long =
    corpusCount.computeIfAbsent(dir, d => Long.box(emb(spark, d).count()))
      .longValue

  def qEmbedPairs(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.embedNearDupPairs(emb(spark, dir), EmbedCosMin)
      .orderBy("d1", "d2")

  def qAnnTopK(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.annTopK(emb(spark, dir), QueryVecId, TopK)

  def qAnnIvf(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.annIvf(emb(spark, dir), QueryVecId, NCentroids, NProbe,
      TopK)

  def qMips(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.mipsTopK(emb(spark, dir), QueryVecId, TopK)

  def qLabelBalance(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.labelBalance(emb(spark, dir)).orderBy("label")

  def qDimVariance(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.dimVariance(emb(spark, dir)).orderBy("dim")

  def qNormCensus(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.normCensus(emb(spark, dir)).orderBy("bucket")

  def qAnisotropy(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.anisotropyCensus(emb(spark, dir))

  def qDimCorr(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.dimCorrCensus(emb(spark, dir))

  /** V50: dims per PQ sub-space — matches [[PqSubLen]] (declared
    * further down; duplicated here as a plain literal because the
    * oracle strings below initialize before it).
    */
  val PqBlockSubLen = 16

  def qPqBlockCorr(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.pqBlockCorr(emb(spark, dir), PqBlockSubLen,
      SimilarityOps.RedundantAbsMicro)

  def qEffectiveDim(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.effectiveDim(emb(spark, dir))

  /** V51 oracle: the V29 variance census, per-dim squares floored in
    * 10¹⁸-scaled units before the cross-dim sum, one-row PR trees.
    */
  private val effectiveDimOracle = {
    val prTree =
      "(((CAST(sum_v AS DOUBLE) * CAST(sum_v AS DOUBLE)) / " +
        "CAST(1000000000000000000 AS DOUBLE)) / " +
        "CAST(greatest(sum_v_sq_e18, 1) AS DOUBLE))"
    s"""WITH ev AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings
       |),
       |mv AS (
       |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(floor(v * 1000.0) AS BIGINT) AS v
       |  FROM ev
       |),
       |g AS (
       |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(v) AS BIGINT) AS s,
       |    CAST(sum(v * v) AS BIGINT) AS s2
       |  FROM mv GROUP BY 1
       |),
       |vn AS (
       |  SELECT CAST(n * s2 - s * s AS BIGINT) AS v_num,
       |    CAST(floor((CAST(n * s2 - s * s AS DOUBLE) *
       |      CAST(n * s2 - s * s AS DOUBLE)) /
       |      CAST(1000000000000000000 AS DOUBLE)) AS BIGINT)
       |      AS v_sq_e18
       |  FROM g
       |),
       |t AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_dims,
       |    CAST(sum(v_num) AS BIGINT) AS sum_v,
       |    CAST(sum(v_sq_e18) AS BIGINT) AS sum_v_sq_e18
       |  FROM vn
       |)
       |SELECT n_dims, sum_v, sum_v_sq_e18,
       |  CASE WHEN sum_v_sq_e18 > 0 THEN
       |    CAST(floor(1000000.0 * $prTree) AS BIGINT) END AS pr_micro,
       |  CASE WHEN sum_v_sq_e18 > 0 THEN
       |    CAST(floor(1000000.0 * ($prTree / CAST(n_dims AS DOUBLE)))
       |      AS BIGINT) END AS pr_frac_micro
       |FROM t""".stripMargin
  }

  /** V48 oracle: the sum-vector identity over the same milli-quantized
    * unit vectors — per-(label, dim) integer component sums, per-dim
    * squares floored from the double product, label censuses rolled
    * into the corpus row by INTEGER sums (never a second scan).
    */
  private val anisotropyOracle =
    s"""WITH ev AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label,
       |    CAST(unnest(embedding) AS DOUBLE) AS v,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings
       |),
       |mv AS (
       |  SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(floor(v * 1000.0) AS BIGINT) AS m
       |  FROM ev
       |),
       |ss AS (
       |  SELECT vec_id, CAST(sum(m * m) AS BIGINT) AS ssq
       |  FROM mv GROUP BY 1
       |),
       |q AS (
       |  SELECT e.vec_id, e.label, e.dim,
       |    CAST(floor(1000.0 * CAST(e.m AS DOUBLE) /
       |      sqrt(CAST(s.ssq AS DOUBLE))) AS BIGINT) AS qd
       |  FROM mv e JOIN ss s USING (vec_id) WHERE s.ssq > 0
       |),
       |dimcen AS (
       |  SELECT label, dim, CAST(sum(qd) AS BIGINT) AS s_d,
       |    CAST(sum(qd * qd) AS BIGINT) AS self_d,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM q GROUP BY 1, 2
       |),
       |bylabel AS (
       |  SELECT label,
       |    CAST(sum(CAST(floor(CAST(s_d AS DOUBLE) *
       |      CAST(s_d AS DOUBLE)) AS BIGINT)) AS BIGINT) AS snorm2,
       |    CAST(sum(self_d) AS BIGINT) AS selfsum,
       |    CAST(max(cnt) AS BIGINT) AS n
       |  FROM dimcen GROUP BY 1
       |),
       |corpusdim AS (
       |  SELECT dim, CAST(sum(s_d) AS BIGINT) AS s_d,
       |    CAST(sum(self_d) AS BIGINT) AS self_d,
       |    CAST(sum(cnt) AS BIGINT) AS cnt
       |  FROM dimcen GROUP BY 1
       |),
       |un AS (
       |  SELECT label, n, snorm2, selfsum FROM bylabel
       |  UNION ALL
       |  SELECT CAST(-1 AS BIGINT) AS label,
       |    CAST(max(cnt) AS BIGINT) AS n,
       |    CAST(sum(CAST(floor(CAST(s_d AS DOUBLE) *
       |      CAST(s_d AS DOUBLE)) AS BIGINT)) AS BIGINT) AS snorm2,
       |    CAST(sum(self_d) AS BIGINT) AS selfsum
       |  FROM corpusdim
       |)
       |SELECT label, n, snorm2, selfsum,
       |  snorm2 - selfsum AS pairsum,
       |  CASE WHEN n >= 2 THEN
       |    CAST(floor(1000000.0 *
       |      ((CAST(snorm2 - selfsum AS DOUBLE) / 1000000.0) /
       |       CAST(n * (n - 1) AS DOUBLE))) AS BIGINT) END AS anis_micro
       |FROM un ORDER BY label""".stripMargin

  /** V49/V50 shared oracle CTE: the X48 five-sum census on every
    * dim pair, through the guarded r relation.
    */
  private val dimCorrCte =
    s"""WITH ev AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings
       |),
       |mv AS (
       |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(floor(v * 1000.0) AS BIGINT) AS v
       |  FROM ev
       |),
       |p AS (
       |  SELECT a.dim AS dim_a, b.dim AS dim_b, a.v AS x, b.v AS y
       |  FROM mv a JOIN mv b USING (vec_id)
       |  WHERE a.dim < b.dim
       |),
       |g AS (
       |  SELECT dim_a, dim_b, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy
       |  FROM p GROUP BY 1, 2
       |),
       |f AS (
       |  SELECT dim_a, dim_b, n,
       |    CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
       |    CAST(n * sxx - sx * sx AS BIGINT) AS var_x,
       |    CAST(n * syy - sy * sy AS BIGINT) AS var_y
       |  FROM g
       |),
       |r AS (
       |  SELECT dim_a, dim_b, n, cov_num, var_x, var_y,
       |    CASE WHEN var_x > 0 AND var_y > 0
       |         THEN ${graft.functions.Hashing.microSql(
                  "cov_num / (sqrt(var_x) * sqrt(var_y))")}
       |         ELSE CAST(0 AS BIGINT) END AS r_micro
       |  FROM f
       |)""".stripMargin

  private val dimCorrOracle =
    s"""$dimCorrCte
       |SELECT dim_a, dim_b, n, cov_num, var_x, var_y, r_micro,
       |  abs(r_micro) >= ${SimilarityOps.RedundantAbsMicro}
       |    AS is_redundant
       |FROM r ORDER BY dim_a, dim_b""".stripMargin

  /** V50 oracle: the shared dim-pair r relation rolled up to the PQ
    * block grid with integer floor-division means.
    */
  private val pqBlockCorrOracle =
    s"""$dimCorrCte,
       |bl AS (
       |  SELECT dim_a // $PqBlockSubLen AS block_a,
       |    dim_b // $PqBlockSubLen AS block_b,
       |    abs(r_micro) AS ar
       |  FROM r
       |),
       |g2 AS (
       |  SELECT block_a, block_b, CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(CASE WHEN ar >= ${SimilarityOps.RedundantAbsMicro}
       |             THEN 1 ELSE 0 END) AS BIGINT) AS n_redundant,
       |    CAST(sum(ar) AS BIGINT) AS sum_abs_r,
       |    CAST(max(ar) AS BIGINT) AS max_abs_r
       |  FROM bl GROUP BY 1, 2
       |)
       |SELECT CAST(block_a AS BIGINT) AS block_a,
       |  CAST(block_b AS BIGINT) AS block_b,
       |  n_pairs, n_redundant, sum_abs_r, max_abs_r,
       |  CAST(sum_abs_r // n_pairs AS BIGINT) AS mean_abs_r_micro,
       |  block_a <> block_b AS is_cross
       |FROM g2 ORDER BY block_a, block_b""".stripMargin

  val PerLabelK = 3
  val LshPlanes = 16
  val LshCosMin = 400000L // verified cosine >= 0.4

  /** D6 sign-LSH near-dup pairs under SCALE-ADAPTIVE banding (VERDICT
    * r14 item 1): band width comes from
    * [[SimilarityOps.adaptiveBandBits]] — the smallest width whose
    * expected bucket occupancy n/2ᵇ stays under
    * [[SimilarityOps.BandOccupancyCap]], so the candidate join's
    * quadratic term is capped at every corpus size instead of pinned to
    * the 4-bit tuning, whose buckets outgrow the cap past 16,384
    * vectors. The corpus count is ONE aggregate collected as a
    * scalar for plan selection (the AQE shape: statistics → physical
    * dial), memoized per dir ([[embCount]]) so repeated invocations
    * never re-pay the counting scan, not a data collect; the DuckDB
    * oracle re-derives the same width from count(*) so both engines
    * band identically by construction. At the test SFs (≤ 2000
    * vectors) the rule picks 4 bits — bit-for-bit the historical
    * output.
    */
  def qEmbedLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val bb = SimilarityOps.adaptiveBandBits(embCount(spark, dir), LshPlanes)
    SimilarityOps.signLshPairs(e, LshPlanes, bb, LshCosMin)
      .orderBy("d1", "d2")
  }

  /** Grouped top-k through [[SimilarityOps]]'s scoring plus the bounded
    * [[graft.operators.TopKAggregator]] — the partial/merge path ships
    * at most k rows per map partition per label, vs the window
    * formulation's full per-label sort. The oracle is the window
    * formulation: both must agree exactly (scores are integer micro-
    * units; ties break to the smaller vec_id on both paths).
    */
  def qTopkPerLabel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.Hashing.micro
    import graft.functions.vector.cosineSim
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") === QueryVecId)
      .select(col("embedding").as("qe"))
    val scored = e.filter(col("vec_id") =!= QueryVecId)
      .crossJoin(broadcast(q))
      .select(col("label"),
        micro(cosineSim(col("embedding"), col("qe")))
          .cast("double").as("score"),
        col("vec_id"))
      .as[(Int, Double, Long)]
    scored.groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(TopKAggregator.topK(PerLabelK).toColumn.name("top"))
      .toDF("label", "top")
      .select(col("label"), posexplode(col("top")))
      .select(col("label"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("vec_id"),
        col("col._1").cast("long").as("cos_micro"))
      .orderBy("label", "rank")
  }

  def qQuantize(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.quantizeInt8(emb(spark, dir)).orderBy("vec_id", "i")

  /** V53: SQ8 angular-fidelity census (loss-decade histogram). */
  def qSq8Fidelity(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.sq8FidelityCensus(emb(spark, dir))

  val BatchQueryMax = 5L // query set = vec_id < 5
  val BatchK = 3

  /** Batch ANN — top-k neighbors for a SET of query vectors in one
    * plan (the batch-inference shape: embedding-service lookups arrive
    * in batches, not one by one). The query side is a tiny broadcast;
    * each corpus row is scored against all queries in one codegen
    * projection pass, and per-query top-k flows through the bounded
    * [[TopKAggregator]] — ≤ k rows per map partition per query reach
    * the shuffle, never the n×Q score table.
    */
  def qAnnBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.Hashing.micro
    import graft.functions.vector.cosineSim
    val e = emb(spark, dir)
    val qs = e.filter(col("vec_id") < BatchQueryMax)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val scored = e.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        micro(cosineSim(col("embedding"), col("qe")))
          .cast("double").as("score"),
        col("vec_id"))
      .as[(Long, Double, Long)]
    scored.groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(TopKAggregator.topK(BatchK).toColumn.name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("vec_id"),
        col("col._1").cast("long").as("cos_micro"))
      .orderBy("query_id", "rank")
  }

  /** Probe widths the recall curve is measured at — the last equals
    * [[NCentroids]], anchoring recall at exactly 1.0 (probing every
    * cluster IS brute force).
    */
  val RecallProbes: Seq[Int] = Seq(1, 2, 3, 5, NCentroids)

  /** IVF recall@k per nProbe — "IVF works" turned into "IVF's
    * accuracy/cost dial is measured": the same trained codebook as
    * q_ann_ivf, evaluated against brute-force truth over the q_ann_batch
    * query set.
    */
  def qAnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    SimilarityOps.annRecall(e, BatchQueryMax, cents, RecallProbes, TopK)
      .orderBy("query_id", "nprobe")
  }

  /** V52: queries in the seeded md5-ranked recall sample — small
    * enough that the spec's full-truth containment check is cheap,
    * large enough that the Wilson band is informative.
    */
  val RecallSampleQ = 10

  /** V52: sampled-truth recall audit — exact truth on a seeded
    * md5-ranked query sample with a Wilson 95 % interval on the
    * pooled recall per probe width; the 100 TB protocol for the
    * recall family (annRecall's corpus×prefix truth side priced out).
    */
  def qAnnRecallSampled(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    SimilarityOps.annRecallSampled(e, RecallSampleQ, cents,
      RecallProbes, TopK).orderBy("nprobe")
  }

  /** Embedding-space data mix under the same trained codebook as
    * q_ann_ivf — cluster shares + balanced sampling weights.
    */
  def qClusterMix(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    SimilarityOps.clusterMix(e, cents, NCentroids).orderBy("cluster")
  }

  // within-cluster cosine >= 0.4 drops the higher id — above the 99th
  // percentile of within-cluster pair cosines on the synthetic
  // embeddings (max observed 0.47), so the verdict set is small but
  // non-empty at every SF
  val SemDedupCosMin = 400000L

  val PqSub = 4      // subspaces
  val PqSubLen = 16  // dims per subspace (4 × 16 = the 64-dim vectors)
  val PqCents = 8    // sub-centroids per subspace → 3-bit codes
  val PqK = 10

  // V12: neighbors per vector in the k-NN label audit
  val KnnK = 5

  private def pqBooks(e: org.apache.spark.sql.DataFrame) =
    SimilarityOps.pqCodebooks(e, PqSub, PqSubLen, PqCents,
      SimilarityOps.KmRounds)

  /** PQ code assignment for the whole corpus — the compressed ANN
    * artifact (vec_id, code0..code3).
    */
  def qPqEncode(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    SimilarityOps.pqEncode(e, pqBooks(e), PqSubLen).orderBy("vec_id")
  }

  /** ADC top-k for the q_ann_topk query vector over PQ codes — exact
    * integer scores end to end.
    */
  def qPqAdc(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    SimilarityOps.pqAdcTopK(e, pqBooks(e), PqSubLen, QueryVecId, PqK)
  }

  /** IVF probing composed with ADC scoring — the serving path as an
    * oracled query: the q_ann_ivf codebook prunes clusters, the
    * q_pq_adc codes score what survives.
    */
  def qPqIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    SimilarityOps.pqIvfTopK(e, cents, pqBooks(e), PqSubLen, QueryVecId,
      NProbe, PqK)
  }

  /** V13: ADC shortlist → exact-cosine rerank, the two-stage serving
    * pattern. Shortlist 2.5× k: wide enough that the exact top stays
    * inside it on this corpus, narrow enough that the rerank reads a
    * bounded full-vector set.
    */
  val PqShortlist = 25

  def qPqRerank(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    SimilarityOps.pqRerankTopK(e, pqBooks(e), PqSubLen, QueryVecId,
      PqShortlist, PqK)
  }

  /** V18: the full IVF → ADC → rerank serving stack, one oracled
    * plan — probe width and shortlist inherited from q_pq_ivf /
    * q_pq_rerank so the three compositions stay comparable.
    */
  def qPqServe(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    SimilarityOps.pqServeTopK(e, cents, pqBooks(e), PqSubLen, QueryVecId,
      NProbe, PqShortlist, PqK)
  }

  /** Residual IVF-PQ (IVFADC): coarse-quantize, PQ-encode the
    * residuals, per-probed-cluster asymmetric LUTs.
    */
  def qPqResidual(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.pqResidualTopK(emb(spark, dir), NCentroids, NProbe,
      PqSub, PqSubLen, PqCents, QueryVecId, PqK)
      .orderBy(org.apache.spark.sql.functions.col("adc").desc,
        org.apache.spark.sql.functions.col("vec_id"))

  /** Sub-codebook sizes the recall curve is measured at — code budgets
    * of 8, 12, and 20 bits per vector (nSub · log₂ nCents).
    */
  val PqRecallCents: Seq[Int] = Seq(4, 8, 32)

  /** Measured PQ recall@k vs exact-cosine truth, per code budget —
    * quantization error as an oracled curve.
    */
  def qPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    SimilarityOps.pqRecallCurve(e, PqRecallCents, PqSub, PqSubLen,
      BatchQueryMax, PqK).orderBy("n_cents", "query_id")
  }

  /** SemDeDup verdicts under the same trained codebook as q_ann_ivf —
    * per-vector keep/drop with the qualifying-neighbor cosine.
    */
  def qSemDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    SimilarityOps.semDedup(e, cents, SemDedupCosMin).orderBy("vec_id")
  }

  /** V47 dials: the swept cosine bars — the production
    * [[SemDedupCosMin]] is in the grid, so the D12 verdict is one row
    * of the curve (spec-pinned).
    */
  val SemDedupEpsSweep: Seq[Long] =
    Seq(SemDedupCosMin, 600000L, 800000L, 950000L)

  def qSemdedupSweep(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    SimilarityOps.semDedupSweep(e, cents, SemDedupEpsSweep)
  }

  /** V11: the within-cluster cosine distribution under the same
    * trained codebook — the curve the D12 bar is read from.
    */
  def qCosCensus(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    SimilarityOps.cosineCensus(e, cents).orderBy("bucket_lo_micro")
  }

  /** V14: keep the hardest 7/10 of each cluster — the paper's
    * abundant-data regime (prune the prototypical core first).
    */
  val ProtoKeepNum = 7
  val ProtoKeepDen = 10

  /** V14: SSP prototype pruning under the same trained codebook as
    * q_ann_ivf — per-vector prototypicality, hardness rank, keep
    * verdict.
    */
  def qProtoPrune(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    SimilarityOps.protoPrune(e, cents, ProtoKeepNum, ProtoKeepDen)
      .orderBy("vec_id")
  }

  /** V15: per-label diversity census via the sum-vector identity —
    * mean pairwise similarity with no pair join.
    */
  def qEmbedDiversity(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.embedDiversity(emb(spark, dir)).orderBy("label")

  /** V17: boundary bar of the margin audit, in the kernel's norm-
    * scaled units (1e6·|vm|·Δcos; |vm| ≈ 1000 on unit embeddings) —
    * 5·10⁷ ≈ a 0.05-cosine gap: vectors whose two best centroids score
    * within it sit on a cluster boundary the blocking mis-serves.
    */
  val MarginBoundaryMax = 50000000L

  def qClusterMargin(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    SimilarityOps.clusterMargins(e, cents, MarginBoundaryMax)
      .orderBy("vec_id")
  }

  /** V19: the label-centroid cosine matrix — class separability from
    * pure geometry.
    */
  def qLabelGeometry(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.labelCentroidGeometry(emb(spark, dir))
      .orderBy("label_a", "label_b")

  /** V16: hard negatives per batch query. */
  val HardNegK = 5

  def qHardNeg(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.hardNegatives(emb(spark, dir), BatchQueryMax, HardNegK)
      .orderBy("query_id", "rank")

  /** V12: the cluster-blocked k-NN label-confusion audit under the
    * same trained codebook.
    */
  def qKnnLabel(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    SimilarityOps.knnLabelConfusion(e, cents, KnnK)
      .orderBy("label", "predicted")
  }

  /** V20: SQ8 search fidelity — top-k per batch query over int8-coded
    * cosine (the per-vector scale cancels), flagged against exact
    * truth.
    */
  def qSqSearch(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.sqSearch(emb(spark, dir), BatchQueryMax, TopK)
      .orderBy("query_id", "rank")

  /** V21: Matryoshka truncation dims the recall curve is measured at —
    * the last is the full width, anchoring recall at exactly 1.0.
    */
  val MrlDims: Seq[Int] = Seq(16, 32, 64)

  def qMrlRecall(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.mrlRecall(emb(spark, dir), BatchQueryMax, MrlDims,
      TopK).orderBy("query_id", "dim")

  /** V22: first-relevant rank + reciprocal rank per batch query, label
    * as relevance.
    */
  def qMrr(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.labelMrr(emb(spark, dir), BatchQueryMax)
      .orderBy("query_id")

  /** V32: nDCG@k over the same batch query set as V22's MRR. */
  def qNdcg(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.ndcgAtK(emb(spark, dir), BatchQueryMax, TopK)
      .orderBy("query_id")

  /** V33: k-occurrence hubness census on the V12 kNN graph. */
  def qHubness(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    SimilarityOps.hubnessCensus(e, cents, KnnK).orderBy("k_occ")
  }

  /** V44: reciprocity census on the same kNN graph (see
    * [[SimilarityOps.knnReciprocityCensus]]).
    */
  def qKnnRecip(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    SimilarityOps.knnReciprocityCensus(e, cents, KnnK)
      .orderBy("n_recip")
  }

  /** V45: per-cluster LID census on the same kNN graph (see
    * [[SimilarityOps.lidCensus]]).
    */
  def qLid(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    SimilarityOps.lidCensus(e, cents, KnnK).orderBy("cluster")
  }

  /** V23: the metadata predicate for filtered search — labels 0–4, half
    * the 10-label space, so post-filtering visibly loses candidates.
    */
  val FilterLabelMax = 5

  def qAnnFiltered(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.filteredAnn(emb(spark, dir), BatchQueryMax,
      FilterLabelMax, TopK).orderBy("query_id")

  def qCentroidDrift(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.centroidDrift(emb(spark, dir)).orderBy("label")

  /** V24: pool ≫ k so diversity actually displaces relevance ranks. */
  val MmrPoolK = 30
  val MmrK = 5

  def qMmr(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.mmrDiversified(emb(spark, dir), QueryVecId,
      MmrPoolK, MmrK).orderBy("rank")

  /** V39: enough rounds that the radius curve has a visible knee. */
  val KcRounds = 8

  def qKcenter(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.kcenterSelect(emb(spark, dir), KcRounds)
      .orderBy("round")

  def qKcenterCover(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.kcenterCoverage(emb(spark, dir), KcRounds)

  /** V42: the coarse clustering the production k=10 is audited
    * against.
    */
  val StabilityCoarseK = 5

  def qClusterStability(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents10 = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    val cents5 = SimilarityOps.kmeansCodebook(e, StabilityCoarseK,
      SimilarityOps.KmRounds)
    SimilarityOps.clusterStability(e, cents10, cents5)
  }

  def qPqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    SimilarityOps.pqDistortion(e, pqBooks(e), PqSubLen)
  }

  def qSilhouette(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    SimilarityOps.silhouetteCensus(e, cents).orderBy("cluster")
  }

  // ------------------------------------------------------------- oracles

  /** Unnested elements + per-vector L2 norms. */
  private val evCte =
    """WITH ev AS (
      |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings
      |),
      |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ev GROUP BY 1)""".stripMargin

  private val embedPairsOracle =
    s"""$evCte,
       |lbl AS (SELECT DISTINCT vec_id, label FROM ev),
       |dots AS (
       |  SELECT a.vec_id AS d1, b.vec_id AS d2, sum(a.v * b.v) AS dot
       |  FROM ev a JOIN ev b
       |    ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
       |  GROUP BY 1, 2
       |)
       |SELECT * FROM (
       |  SELECT d.d1, d.d2, l.label,
       |    ${Hashing.microSql("d.dot / (n1.nrm * n2.nrm)")} AS cos_micro
       |  FROM dots d
       |  JOIN nrm n1 ON d.d1 = n1.vec_id
       |  JOIN nrm n2 ON d.d2 = n2.vec_id
       |  JOIN lbl l ON d.d1 = l.vec_id
       |) WHERE cos_micro >= $EmbedCosMin ORDER BY d1, d2""".stripMargin

  /** V24 oracle: the pool and its pairwise sim relation as
    * MATERIALIZED CTEs (multiply referenced — DuckDB inlines plain
    * CTEs per reference), then MmrK unrolled greedy rounds; every
    * selection is an integer argmax with vec_id ties, so the
    * trajectory is bit-identical to the Spark loop.
    */
  /** V39 oracle: the greedy replayed as unrolled MATERIALIZED CTE
    * rounds (the V24 discipline) — each round scores non-selected
    * points against the selected set and takes the integer argmin
    * with vec_id ties.
    */
  /** The V39 greedy CTE chain up to and including sel{KcRounds} —
    * shared by the V39 and V43 oracles.
    */
  private val kcenterCtes = {
    val rounds = (2 to KcRounds).map { t =>
      s"""d$t AS (
         |  SELECT a.vec_id, s.vec_id AS sid, sum(a.v * s.v) AS dot
         |  FROM kce a JOIN kce s ON a.i = s.i
         |  JOIN sel${t - 1} sl ON s.vec_id = sl.vec_id
         |  WHERE a.vec_id NOT IN (SELECT vec_id FROM sel${t - 1})
         |  GROUP BY 1, 2
         |),
         |m$t AS (
         |  SELECT d.vec_id,
         |    max(${Hashing.microSql("d.dot / (na.nrm * ns.nrm)")}) AS mc
         |  FROM d$t d JOIN knrm na ON d.vec_id = na.vec_id
         |             JOIN knrm ns ON d.sid = ns.vec_id
         |  GROUP BY 1
         |),
         |p$t AS MATERIALIZED (
         |  SELECT vec_id, CAST($t AS BIGINT) AS round, mc
         |  FROM m$t ORDER BY mc, vec_id LIMIT 1
         |),
         |sel$t AS MATERIALIZED (
         |  SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM p$t
         |)""".stripMargin
    }.mkString(",\n")
    s"""$evCte,
       |kce AS MATERIALIZED (SELECT vec_id, v, i FROM ev),
       |knrm AS MATERIALIZED (SELECT vec_id, nrm FROM nrm),
       |sel1 AS MATERIALIZED (
       |  SELECT min(vec_id) AS vec_id, CAST(1 AS BIGINT) AS round,
       |    CAST(${SimilarityOps.KcSeedCos} AS BIGINT) AS mc
       |  FROM kce
       |),
       |$rounds""".stripMargin
  }

  private val kcenterOracle: String =
    s"""$kcenterCtes
       |SELECT round, vec_id, mc AS max_cos_prior_micro,
       |  1000000 - mc AS dis_micro
       |FROM sel$KcRounds ORDER BY round""".stripMargin

  /** V42 oracle: both trainings replayed (the "" k=10 chain + an
    * "st_"-prefixed k=5 chain), then exact pair-counting off the
    * contingency census.
    */
  private val clusterStabilityOracle: String = {
    val r = SimilarityOps.KmRounds
    val t = "((n * (n - 1)) // 2)"
    val exp = s"(CAST(s_a AS DOUBLE) * CAST(s_b AS DOUBLE)) / $t"
    val den = s"((s_a + s_b) / 2.0 - $exp)"
    s"""$kmeansTrainedCtes,
       |${kmeansCtesFor("st_", StabilityCoarseK, 1, 1 << 20)},
       |cont AS MATERIALIZED (
       |  SELECT a.cid AS ca, b.cid AS cb,
       |    CAST(count(*) AS BIGINT) AS nij
       |  FROM a$r a JOIN st_a$r b USING (vec_id) GROUP BY 1, 2),
       |ra AS (
       |  SELECT CAST(sum((ri * (ri - 1)) // 2) AS BIGINT) AS s_a
       |  FROM (SELECT CAST(sum(nij) AS BIGINT) AS ri
       |        FROM cont GROUP BY ca)),
       |rb AS (
       |  SELECT CAST(sum((cj * (cj - 1)) // 2) AS BIGINT) AS s_b
       |  FROM (SELECT CAST(sum(nij) AS BIGINT) AS cj
       |        FROM cont GROUP BY cb)),
       |tt AS (
       |  SELECT CAST(sum(nij) AS BIGINT) AS n,
       |    CAST(count(*) AS BIGINT) AS cells,
       |    CAST(sum((nij * (nij - 1)) // 2) AS BIGINT) AS s_both
       |  FROM cont)
       |SELECT n, cells, s_both, s_a, s_b, $t AS t_pairs,
       |  ${Hashing.microSql(
        s"(s_both + ($t - s_a - s_b + s_both)) / $t")} AS rand_micro,
       |  CASE WHEN $den <> 0
       |       THEN ${Hashing.microSql(s"(s_both - $exp) / $den")}
       |       ELSE CAST(0 AS BIGINT) END AS ari_micro
       |FROM tt, ra, rb""".stripMargin
  }

  /** V41 oracle: per subspace, the exact squared L2 between each milli
    * slice and its assigned final sub-centroid — the pqChains training
    * replayed, then pure integer arithmetic.
    */
  private val pqDistortionOracle: String = {
    val r = SimilarityOps.KmRounds
    val subs = (0 until PqSub).map { j =>
      s"""dd$j AS (
         |  SELECT a.vec_id,
         |    CAST(sum((m.vm - c.S) * (m.vm - c.S)) AS BIGINT) AS dist,
         |    CAST(sum(m.vm * m.vm) AS BIGINT) AS ssq
         |  FROM p${j}_a$r a
         |  JOIN p${j}_mv m ON m.vec_id = a.vec_id
         |  JOIN p${j}_c$r c ON c.cid = a.cid AND c.i = m.i
         |  GROUP BY 1
         |),
         |ss$j AS (
         |  SELECT CAST($j AS BIGINT) AS subspace,
         |    CAST(count(*) AS BIGINT) AS n_vecs,
         |    CAST(sum(dist) AS BIGINT) AS sum_dist,
         |    CAST(sum(dist) AS BIGINT) // count(*) AS mean_dist,
         |    CAST(max(dist) AS BIGINT) AS max_dist,
         |    (1000000 * CAST(sum(dist) AS BIGINT))
         |      // greatest(CAST(sum(ssq) AS BIGINT), 1) AS nsr_ppm
         |  FROM dd$j
         |)""".stripMargin
    }.mkString(",\n")
    val tail = (0 until PqSub).map(j => s"SELECT * FROM ss$j")
      .mkString("\nUNION ALL\n")
    s"""$evCte,
       |$pqChains,
       |$subs
       |$tail
       |ORDER BY subspace""".stripMargin
  }

  /** V40 oracle: the V17 best/second ranking off the trained-codebook
    * CTEs, then the silhouette census in the identical expression
    * tree.
    */
  private val silhouetteOracle: String = {
    val r = SimilarityOps.KmRounds
    val amb = SimilarityOps.SilAmbiguousMax
    s"""$kmeansTrainedCtes,
       |mr AS (
       |  SELECT vec_id, cid, score,
       |    row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY score DESC, cid) AS rn
       |  FROM sc$r
       |),
       |vsq AS (
       |  SELECT vec_id,
       |    1000000.0 * sqrt(CAST(sum(vm * vm) AS DOUBLE)) AS r
       |  FROM mv GROUP BY 1
       |),
       |sv AS (
       |  SELECT s1.cid AS cluster,
       |    ${Hashing.microSql(
        "(s1.score - s2.score) / " +
          "greatest(q.r - s1.score, q.r - s2.score, 1.0)")} AS s_micro
       |  FROM (SELECT * FROM mr WHERE rn = 1) s1
       |  JOIN (SELECT * FROM mr WHERE rn = 2) s2 USING (vec_id)
       |  JOIN vsq q USING (vec_id)
       |)
       |SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(s_micro) AS BIGINT) // count(*) AS mean_sil_micro,
       |  CAST(min(s_micro) AS BIGINT) AS min_sil_micro,
       |  (1000000 * CAST(sum(CASE WHEN s_micro < $amb THEN 1 ELSE 0
       |    END) AS BIGINT)) // count(*) AS amb_ppm
       |FROM sv GROUP BY 1 ORDER BY cluster""".stripMargin
  }

  /** V43 oracle: the V39 chain plus one coverage round that aggregates
    * instead of picking.
    */
  private val kcenterCoverOracle: String = {
    val t = KcRounds
    s"""$kcenterCtes,
       |dc AS (
       |  SELECT a.vec_id, s.vec_id AS sid, sum(a.v * s.v) AS dot
       |  FROM kce a JOIN kce s ON a.i = s.i
       |  JOIN sel$t sl ON s.vec_id = sl.vec_id
       |  WHERE a.vec_id NOT IN (SELECT vec_id FROM sel$t)
       |  GROUP BY 1, 2
       |),
       |mc AS (
       |  SELECT d.vec_id,
       |    max(${Hashing.microSql("d.dot / (na.nrm * ns.nrm)")}) AS mc
       |  FROM dc d JOIN knrm na ON d.vec_id = na.vec_id
       |            JOIN knrm ns ON d.sid = ns.vec_id
       |  GROUP BY 1
       |),
       |rr AS (SELECT 1000000 - mc AS radius FROM sel$t
       |       WHERE round = $t)
       |SELECT CAST(count(*) AS BIGINT) AS n_points,
       |  rr.radius AS last_pick_dis_micro,
       |  CAST(max(1000000 - mc) AS BIGINT) AS max_dis_micro,
       |  CAST(sum(1000000 - mc) AS BIGINT) // count(*)
       |    AS mean_dis_micro,
       |  (1000000 * CAST(sum(CASE WHEN 1000000 - mc <= rr.radius
       |     THEN 1 ELSE 0 END) AS BIGINT)) // count(*)
       |    AS within_last_ppm
       |FROM mc, rr GROUP BY rr.radius""".stripMargin
  }

  private val mmrOracle = {
    val rounds = (2 to MmrK).map { t =>
      s"""cand$t AS (
         |  SELECT p.vec_id, p.cosq,
         |    (SELECT max(s.s) FROM sims s
         |     WHERE s.u = p.vec_id
         |       AND s.v IN (SELECT vec_id FROM sel${t - 1})) AS msim
         |  FROM pool p
         |  WHERE p.vec_id NOT IN (SELECT vec_id FROM sel${t - 1})
         |),
         |pick$t AS MATERIALIZED (
         |  SELECT vec_id, CAST($t AS BIGINT) AS rank, cosq, msim,
         |    cosq - msim AS score_micro
         |  FROM cand$t ORDER BY score_micro DESC, vec_id LIMIT 1
         |),
         |sel$t AS MATERIALIZED (
         |  SELECT vec_id FROM sel${t - 1}
         |  UNION ALL SELECT vec_id FROM pick$t
         |)""".stripMargin
    }.mkString(",\n")
    val tail = (2 to MmrK).map(t =>
      s"UNION ALL SELECT vec_id, rank, cosq, msim, score_micro " +
        s"FROM pick$t").mkString("\n")
    s"""$evCte,
       |qd AS (
       |  SELECT e.vec_id, sum(e.v * q.v) AS dot
       |  FROM ev e JOIN ev q ON e.i = q.i AND q.vec_id = $QueryVecId
       |  WHERE e.vec_id <> $QueryVecId GROUP BY 1
       |),
       |pool AS MATERIALIZED (
       |  SELECT d.vec_id,
       |    ${Hashing.microSql(s"d.dot / (n.nrm * " +
            s"(SELECT nrm FROM nrm WHERE vec_id = $QueryVecId))")}
       |      AS cosq
       |  FROM qd d JOIN nrm n ON d.vec_id = n.vec_id
       |  ORDER BY cosq DESC, d.vec_id LIMIT $MmrPoolK
       |),
       |pe AS MATERIALIZED (
       |  SELECT e.vec_id, e.v, e.i
       |  FROM ev e JOIN pool p ON e.vec_id = p.vec_id
       |),
       |pd AS (
       |  SELECT a.vec_id AS u, b.vec_id AS v, sum(a.v * b.v) AS dot
       |  FROM pe a JOIN pe b ON a.i = b.i AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2
       |),
       |sims AS MATERIALIZED (
       |  SELECT pd.u, pd.v,
       |    ${Hashing.microSql("pd.dot / (n1.nrm * n2.nrm)")} AS s
       |  FROM pd JOIN nrm n1 ON pd.u = n1.vec_id
       |          JOIN nrm n2 ON pd.v = n2.vec_id
       |),
       |pick1 AS MATERIALIZED (
       |  SELECT vec_id, CAST(1 AS BIGINT) AS rank, cosq,
       |    CAST(0 AS BIGINT) AS msim, cosq AS score_micro
       |  FROM pool ORDER BY cosq DESC, vec_id LIMIT 1
       |),
       |sel1 AS MATERIALIZED (SELECT vec_id FROM pick1),
       |$rounds
       |SELECT vec_id, rank, cosq, msim, score_micro FROM pick1
       |$tail
       |ORDER BY rank""".stripMargin
  }

  private val annTopKOracle =
    s"""$evCte,
       |dots AS (
       |  SELECT e.vec_id, sum(e.v * q.v) AS dot
       |  FROM ev e JOIN ev q ON e.i = q.i AND q.vec_id = $QueryVecId
       |  WHERE e.vec_id <> $QueryVecId GROUP BY 1
       |)
       |SELECT d.vec_id,
       |  ${Hashing.microSql(
      s"d.dot / (n.nrm * (SELECT nrm FROM nrm WHERE vec_id = $QueryVecId))")}
       |    AS cos_micro
       |FROM dots d JOIN nrm n ON d.vec_id = n.vec_id
       |ORDER BY cos_micro DESC, d.vec_id LIMIT $TopK""".stripMargin

  /** V27 oracle: brute-force exact-integer milli dots — the norm
    * pruning on the Spark side is provably result-preserving, so the
    * oracle never models it.
    */
  private val mipsOracle =
    s"""$evCte,
       |mv AS (
       |  SELECT vec_id, CAST(floor(v * 1000.0) AS BIGINT) AS vm, i
       |  FROM ev
       |),
       |dots AS (
       |  SELECT e.vec_id, CAST(sum(e.vm * q.vm) AS BIGINT) AS dot
       |  FROM mv e JOIN mv q ON e.i = q.i AND q.vec_id = $QueryVecId
       |  WHERE e.vec_id <> $QueryVecId GROUP BY 1
       |)
       |SELECT vec_id, dot FROM dots
       |ORDER BY dot DESC, vec_id LIMIT $TopK""".stripMargin

  /** V28 oracle: label census + the same micro-floored share/entropy
    * term trees, summary re-joined to every row.
    */
  private val labelBalanceOracle =
    s"""WITH cen AS (
       |  SELECT label, CAST(count(*) AS BIGINT) AS n
       |  FROM embeddings GROUP BY 1
       |),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t,
       |          CAST(count(*) AS BIGINT) AS nl
       |        FROM cen),
       |terms AS (
       |  SELECT label, n, ${Hashing.microSql("n / t")} AS share_micro,
       |    nl,
       |    CASE WHEN nl = 1 THEN 0
       |         ELSE ${Hashing.microSql(
          "(n / t) * ln(t / n) / ln(nl)")} END AS term_micro
       |  FROM cen, tot
       |),
       |summ AS (
       |  SELECT max(nl) AS n_labels, max(share_micro) AS maxshare_micro,
       |    CAST(sum(term_micro) AS BIGINT) AS hnorm_micro
       |  FROM terms
       |)
       |SELECT label, n, share_micro, n_labels, maxshare_micro,
       |  hnorm_micro
       |FROM terms, summ ORDER BY label""".stripMargin

  /** V29 oracle: milli census per 0-based dimension, same mean and
    * variance trees, same dead bar.
    */
  private val dimVarianceOracle =
    s"""WITH ev AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
       |         generate_subscripts(embedding, 1) AS i
       |  FROM embeddings
       |),
       |mv AS (
       |  SELECT CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(floor(v * 1000.0) AS BIGINT) AS v
       |  FROM ev
       |),
       |g AS (
       |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(v) AS BIGINT) AS s,
       |    CAST(sum(v * v) AS BIGINT) AS s2
       |  FROM mv GROUP BY 1
       |)
       |SELECT dim, n, s, s2,
       |  ${Hashing.microSql("s / n")} AS mean_milli_micro,
       |  ${Hashing.microSql("(s2 / n) - (s / n) * (s / n)")} AS var_micro,
       |  ${Hashing.microSql("(s2 / n) - (s / n) * (s / n)")}
       |    < ${SimilarityOps.DeadVarMicro} AS is_dead
       |FROM g ORDER BY dim""".stripMargin

  /** V30 oracle: the same milli dot v·v, integer floor-division
    * bucketing, one micro share per census row.
    */
  private val normCensusOracle =
    s"""WITH ev AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v
       |  FROM embeddings
       |),
       |n2 AS (
       |  SELECT vec_id,
       |    CAST(sum(CAST(floor(v * 1000.0) AS BIGINT)
       |             * CAST(floor(v * 1000.0) AS BIGINT)) AS BIGINT) AS n2
       |  FROM ev GROUP BY 1
       |),
       |cen AS (
       |  SELECT n2 // ${SimilarityOps.NormBucketWidth} AS bucket,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM n2 GROUP BY 1
       |),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cen)
       |SELECT CAST(bucket AS BIGINT) AS bucket,
       |  CAST(bucket * ${SimilarityOps.NormBucketWidth} AS BIGINT) AS lo,
       |  n, ${Hashing.microSql("n / t")} AS frac_micro
       |FROM cen, tot ORDER BY bucket""".stripMargin

  def qPca(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.pcaPower(emb(spark, dir)).orderBy("dim")

  /** V31 oracle: the identical integer power-iteration trajectory as
    * chained MATERIALIZED CTEs (the k-means/BPE discipline — every
    * y_r/x_r is referenced more than once, and DuckDB 1.0 re-inlines
    * plain CTEs at each reference).
    */
  private val pcaOracle: String = {
    val rounds = SimilarityOps.PcaRounds
    val chain = (1 to rounds).map { r =>
      val px = if (r == 1) "x0" else s"x${r - 1}"
      s"""y$r AS MATERIALIZED (
         |  SELECT cm.i, CAST(sum(cm.c * $px.x) AS BIGINT) AS y
         |  FROM cm JOIN $px ON cm.j = $px.i GROUP BY 1
         |),
         |m$r AS (SELECT greatest(max(abs(y)), 1) AS m FROM y$r),
         |x$r AS MATERIALIZED (
         |  SELECT i, CAST(CASE WHEN y < 0
         |    THEN -((abs(y) * 1000) // (SELECT m FROM m$r))
         |    ELSE (abs(y) * 1000) // (SELECT m FROM m$r)
         |  END AS BIGINT) AS x
         |  FROM y$r
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
       |         generate_subscripts(embedding, 1) AS i
       |  FROM embeddings
       |),
       |mv AS MATERIALIZED (
       |  SELECT vec_id, CAST(i AS BIGINT) AS i,
       |    CAST(floor(v * 1000.0) AS BIGINT) AS v
       |  FROM ev
       |),
       |cm AS MATERIALIZED (
       |  SELECT a.i AS i, b.i AS j, CAST(sum(a.v * b.v) AS BIGINT) AS c
       |  FROM mv a JOIN mv b ON a.vec_id = b.vec_id GROUP BY 1, 2
       |),
       |x0 AS (SELECT DISTINCT i, CAST(1000 AS BIGINT) AS x FROM cm),
       |$chain
       |SELECT i - 1 AS dim, x FROM x$rounds ORDER BY dim""".stripMargin
  }

  /** The k-means oracle machinery re-trains the codebook INSIDE DuckDB —
    * [[SimilarityOps.KmRounds]] Lloyd rounds as chained CTEs. Because
    * every quantity on the training path is an exact integer (milli
    * components, truncated integer centroid means) and the one double op
    * (the score division) is computed from exact integers identically on
    * both engines, the SQL training trajectory is bit-identical to the
    * Spark one — no data-dependent literals need to cross engines.
    * The returned text ends with `sc<rounds>` (per-(vector, centroid)
    * scores) and `a<rounds>` (final assignments) available to the query
    * tail; shared by the q_ann_ivf and q_ann_recall oracles.
    */
  /** One k-means training chain, name-prefixed so several instances can
    * compose in one statement (the PQ oracle runs four, one per
    * subspace); `iLo..iHi` restricts the element positions the chain
    * trains on (the identity range for the full-vector codebook).
    * Callers prepend `evCte` themselves; the chain's final relations
    * are `<pfx>sc<rounds>` (scores) and `<pfx>a<rounds>` (assignments).
    */
  /** `milliSrc`: train over an ALREADY-MILLI relation
    * (vec_id, i, vm) instead of milli-quantizing `ev` — the
    * residual-PQ chains (q_pq_residual) train on integer residuals,
    * which must not be scaled twice. None keeps the original text.
    */
  private def kmeansCtesFor(pfx: String, nCent: Int,
                            iLo: Int, iHi: Int,
                            milliSrc: Option[String] = None): String = {
    val rounds = SimilarityOps.KmRounds
    def scoreCtes(r: Int): String =
      s"""${pfx}s$r AS (SELECT cid, sum(S * S) AS ssq FROM ${pfx}c$r GROUP BY 1),
         |${pfx}d$r AS (
         |  SELECT m.vec_id, c.cid, sum(m.vm * c.S) AS dot
         |  FROM ${pfx}mv m JOIN ${pfx}c$r c ON m.i = c.i GROUP BY 1, 2
         |),
         |${pfx}sc$r AS (
         |  SELECT d.vec_id, d.cid,
         |    CASE WHEN s.ssq = 0 THEN ${SimilarityOps.KmScoreEmpty}
         |         ELSE ${Hashing.microSql(
                      "d.dot / sqrt(CAST(s.ssq AS DOUBLE))")} END AS score
         |  FROM ${pfx}d$r d JOIN ${pfx}s$r s USING (cid)
         |),
         |${pfx}a$r AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |                         ORDER BY score DESC, cid) AS rn
         |    FROM ${pfx}sc$r
         |  ) WHERE rn = 1
         |)""".stripMargin
    // centroid refresh = truncated integer MEAN: DuckDB's BIGINT `//`
    // truncates toward zero exactly like the Java long division on the
    // Spark driver, so the trajectories stay bit-identical
    def refineCtes(r: Int): String =
      s"""${pfx}n${r + 1} AS (
         |  SELECT a.cid, m.i,
         |         CAST(sum(m.vm) // count(*) AS BIGINT) AS S
         |  FROM ${pfx}a$r a JOIN ${pfx}mv m USING (vec_id) GROUP BY 1, 2
         |),
         |${pfx}c${r + 1} AS (
         |  SELECT c.cid, c.i, COALESCE(n.S, c.S) AS S
         |  FROM ${pfx}c$r c LEFT JOIN ${pfx}n${r + 1} n
         |    ON c.cid = n.cid AND c.i = n.i
         |)""".stripMargin
    val training = (0 until rounds)
      .map(r => s"${scoreCtes(r)},\n${refineCtes(r)}").mkString(",\n")
    val mvCte = milliSrc match {
      case Some(rel) =>
        s"""${pfx}mv AS (
           |  SELECT vec_id, vm, i
           |  FROM $rel WHERE i BETWEEN $iLo AND $iHi
           |)""".stripMargin
      case None =>
        s"""${pfx}mv AS (
           |  SELECT vec_id, CAST(floor(v * 1000.0) AS BIGINT) AS vm, i
           |  FROM ev WHERE i BETWEEN $iLo AND $iHi
           |)""".stripMargin
    }
    s"""$mvCte,
       |${pfx}sd AS (
       |  SELECT vec_id,
       |    ${Hashing.md5LongSql("'km:' || CAST(vec_id AS VARCHAR)")} AS h
       |  FROM (SELECT DISTINCT vec_id FROM embeddings)
       |),
       |${pfx}seeds AS (
       |  SELECT vec_id,
       |    CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS cid
       |  FROM ${pfx}sd ORDER BY h, vec_id LIMIT $nCent
       |),
       |${pfx}c0 AS (SELECT s.cid, m.i, m.vm AS S
       |       FROM ${pfx}seeds s JOIN ${pfx}mv m USING (vec_id)),
       |$training,
       |${scoreCtes(rounds)}""".stripMargin
  }

  private def kmeansTrainedCtes: String =
    s"""$evCte,
       |${kmeansCtesFor("", NCentroids, 1, 1 << 20)}""".stripMargin

  private val annIvfOracle: String = {
    val rounds = SimilarityOps.KmRounds
    s"""$kmeansTrainedCtes,
       |probe AS (
       |  SELECT cid FROM sc$rounds WHERE vec_id = $QueryVecId
       |  ORDER BY score DESC, cid LIMIT $NProbe
       |),
       |qdots AS (
       |  SELECT e.vec_id, sum(e.v * q.v) AS dot
       |  FROM ev e JOIN ev q ON e.i = q.i AND q.vec_id = $QueryVecId
       |  WHERE e.vec_id <> $QueryVecId GROUP BY 1
       |),
       |qcm AS (
       |  SELECT d.vec_id,
       |    ${Hashing.microSql(
      s"d.dot / (n.nrm * (SELECT nrm FROM nrm WHERE vec_id = $QueryVecId))")}
       |      AS cos_micro
       |  FROM qdots d JOIN nrm n ON d.vec_id = n.vec_id
       |)
       |SELECT q.vec_id, a.cid AS cluster, q.cos_micro
       |FROM qcm q
       |JOIN a$rounds a ON q.vec_id = a.vec_id
       |JOIN probe p ON a.cid = p.cid
       |ORDER BY q.cos_micro DESC, q.vec_id LIMIT $TopK""".stripMargin
  }

  private val topkPerLabelOracle =
    s"""$evCte,
       |lbl AS (SELECT DISTINCT vec_id, label FROM ev),
       |dots AS (
       |  SELECT e.vec_id, sum(e.v * q.v) AS dot
       |  FROM ev e JOIN ev q ON e.i = q.i AND q.vec_id = $QueryVecId
       |  WHERE e.vec_id <> $QueryVecId GROUP BY 1
       |),
       |qcm AS (
       |  SELECT d.vec_id,
       |    ${Hashing.microSql(
      s"d.dot / (n.nrm * (SELECT nrm FROM nrm WHERE vec_id = $QueryVecId))")}
       |      AS cos_micro
       |  FROM dots d JOIN nrm n ON d.vec_id = n.vec_id
       |)
       |SELECT label, CAST(rank AS BIGINT) AS rank, vec_id, cos_micro
       |FROM (
       |  SELECT l.label, q.vec_id, q.cos_micro,
       |    row_number() OVER (PARTITION BY l.label
       |                       ORDER BY q.cos_micro DESC, q.vec_id) AS rank
       |  FROM qcm q JOIN lbl l ON q.vec_id = l.vec_id
       |) WHERE rank <= $PerLabelK ORDER BY label, rank""".stripMargin

  private val embedLshOracle: String = {
    // integer milli-unit weights + micro-quantized components: the sign
    // bit is the sign of an exact integer sum on BOTH engines (a double
    // sum's association order differs between engines and partitionings)
    val planeRows = (for {
      j <- 0 until LshPlanes; i <- 1 to 64
    } yield s"($j, $i, CAST(${SimilarityOps.planeWInt(j, i)} AS BIGINT))")
      .mkString(", ")
    // Adaptive band width mirrored in SQL: the same smallest-width-
    // under-occupancy-cap rule as SimilarityOps.adaptiveBandBits,
    // expressed as a CASE over count(*) (menu = divisors of 16 ≥ 4).
    val cap = SimilarityOps.BandOccupancyCap
    val maxBands = LshPlanes / 4
    val bandVals = (0 until maxBands).map(k => s"($k)").mkString(", ")
    s"""$evCte,
       |pl(j, i, w) AS (SELECT * FROM (VALUES $planeRows) v(j, i, w)),
       |pdots AS (
       |  SELECT e.vec_id, p.j,
       |    sum(CAST(floor(e.v * 1000000.0) AS BIGINT) * p.w) AS d
       |  FROM ev e JOIN pl p ON e.i = p.i GROUP BY 1, 2
       |),
       |sig AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN d >= 0 THEN (CAST(1 AS BIGINT) << j)
       |             ELSE 0 END) AS BIGINT) AS sig
       |  FROM pdots GROUP BY 1
       |),
       |cfg AS (
       |  SELECT CASE WHEN n <= ${cap << 4} THEN 4
       |              WHEN n <= ${cap << 8} THEN 8
       |              ELSE 16 END AS bb
       |  FROM (SELECT count(*) AS n FROM embeddings)
       |),
       |bands AS (
       |  SELECT s.vec_id, k.k,
       |    (s.sig >> (c.bb * k.k))
       |      & ((CAST(1 AS BIGINT) << c.bb) - 1) AS band
       |  FROM sig s, cfg c, (VALUES $bandVals) k(k)
       |  WHERE k.k < $LshPlanes // c.bb
       |),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.k = b.k AND a.band = b.band AND a.vec_id < b.vec_id
       |),
       |pd AS (
       |  SELECT c.d1, c.d2, sum(x.v * y.v) AS dot
       |  FROM cand c JOIN ev x ON x.vec_id = c.d1
       |              JOIN ev y ON y.vec_id = c.d2 AND y.i = x.i
       |  GROUP BY 1, 2
       |)
       |SELECT * FROM (
       |  SELECT p.d1, p.d2,
       |    ${Hashing.microSql("p.dot / (n1.nrm * n2.nrm)")} AS cos_micro
       |  FROM pd p JOIN nrm n1 ON p.d1 = n1.vec_id
       |            JOIN nrm n2 ON p.d2 = n2.vec_id
       |) WHERE cos_micro >= $LshCosMin ORDER BY d1, d2""".stripMargin
  }

  private val annBatchOracle =
    s"""$evCte,
       |dots AS (
       |  SELECT q.vec_id AS query_id, e.vec_id, sum(e.v * q.v) AS dot
       |  FROM ev e JOIN ev q ON e.i = q.i AND q.vec_id < $BatchQueryMax
       |  WHERE e.vec_id <> q.vec_id GROUP BY 1, 2
       |),
       |scores AS (
       |  SELECT d.query_id, d.vec_id,
       |    ${Hashing.microSql("d.dot / (ne.nrm * nq.nrm)")} AS cos_micro
       |  FROM dots d JOIN nrm ne ON d.vec_id = ne.vec_id
       |              JOIN nrm nq ON d.query_id = nq.vec_id
       |)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos_micro
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_micro DESC, vec_id) AS rank
       |  FROM scores
       |) WHERE rank <= $BatchK ORDER BY query_id, rank""".stripMargin

  /** Recall oracle: the same trained CTEs, then truth = per-query
    * brute-force top-k, candidates = vectors whose assigned cluster
    * ranks within nProbe for the query (probe ranks from the final
    * score table), ANN answer = top-k over candidates, recall = overlap
    * with truth on a dense (query × nProbe) grid.
    */
  private val annRecallOracle: String = {
    val rounds = SimilarityOps.KmRounds
    val npVals = RecallProbes.map(p => s"($p)").mkString(", ")
    s"""$kmeansTrainedCtes,
       |probes AS (
       |  SELECT vec_id AS query_id, cid,
       |    CAST(row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY score DESC, cid) AS BIGINT)
       |      AS prank
       |  FROM sc$rounds WHERE vec_id < $BatchQueryMax
       |),
       |qd AS (
       |  SELECT q.vec_id AS query_id, e.vec_id, sum(e.v * q.v) AS dot
       |  FROM ev e JOIN ev q ON e.i = q.i AND q.vec_id < $BatchQueryMax
       |  WHERE e.vec_id <> q.vec_id GROUP BY 1, 2
       |),
       |qcm AS (
       |  SELECT d.query_id, d.vec_id,
       |    ${Hashing.microSql("d.dot / (ne.nrm * nq.nrm)")} AS cos_micro
       |  FROM qd d JOIN nrm ne ON d.vec_id = ne.vec_id
       |             JOIN nrm nq ON d.query_id = nq.vec_id
       |),
       |truth AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY cos_micro DESC, vec_id) AS rn
       |    FROM qcm
       |  ) WHERE rn <= $TopK
       |),
       |np(nprobe) AS (SELECT CAST(v.c AS BIGINT) FROM (VALUES $npVals) v(c)),
       |ann AS (
       |  SELECT nprobe, query_id, vec_id FROM (
       |    SELECT n.nprobe, q.query_id, q.vec_id,
       |      row_number() OVER (PARTITION BY q.query_id, n.nprobe
       |                         ORDER BY q.cos_micro DESC, q.vec_id) AS rn
       |    FROM qcm q
       |    JOIN a$rounds a ON q.vec_id = a.vec_id
       |    JOIN probes p ON p.query_id = q.query_id AND p.cid = a.cid
       |    CROSS JOIN np n
       |    WHERE p.prank <= n.nprobe
       |  ) WHERE rn <= $TopK
       |),
       |h AS (
       |  SELECT a.query_id, a.nprobe, count(*) AS hits
       |  FROM ann a JOIN truth t
       |    ON a.query_id = t.query_id AND a.vec_id = t.vec_id
       |  GROUP BY 1, 2
       |),
       |grid AS (
       |  SELECT q.query_id, n.nprobe
       |  FROM (SELECT DISTINCT vec_id AS query_id FROM embeddings
       |        WHERE vec_id < $BatchQueryMax) q CROSS JOIN np n
       |)
       |SELECT g.query_id, g.nprobe,
       |  CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       |  ${Hashing.microSql(s"COALESCE(h.hits, 0) * 1.0 / $TopK")}
       |    AS recall_micro
       |FROM grid g LEFT JOIN h
       |  ON g.query_id = h.query_id AND g.nprobe = h.nprobe
       |ORDER BY g.query_id, g.nprobe""".stripMargin
  }

  /** V52 oracle: the annRecall machinery restricted to the seeded
    * md5-ranked query sample, pooled per nProbe with the R57 Wilson
    * trees verbatim.
    */
  private val annRecallSampledOracle: String = {
    val rounds = SimilarityOps.KmRounds
    val npVals = RecallProbes.map(p => s"($p)").mkString(", ")
    val n = "CAST(trials AS DOUBLE)"
    val p = "(hits / trials)"
    val denom = s"(1.0 + (1.96 * 1.96) / $n)"
    val center = s"($p + (1.96 * 1.96) / (2.0 * $n))"
    val half = s"(1.96 * sqrt($p * (1.0 - $p) / $n" +
      s" + (1.96 * 1.96) / ((4.0 * $n) * $n)))"
    s"""$kmeansTrainedCtes,
       |sq AS (
       |  SELECT vec_id AS query_id FROM (
       |    SELECT vec_id, row_number() OVER (ORDER BY
       |      ${Hashing.md5LongSql("'rs:' || CAST(vec_id AS VARCHAR)")},
       |      vec_id) AS rn
       |    FROM embeddings
       |  ) WHERE rn <= $RecallSampleQ
       |),
       |probes AS (
       |  SELECT s.vec_id AS query_id, s.cid,
       |    CAST(row_number() OVER (PARTITION BY s.vec_id
       |                            ORDER BY s.score DESC, s.cid)
       |      AS BIGINT) AS prank
       |  FROM sc$rounds s JOIN sq ON s.vec_id = sq.query_id
       |),
       |qd AS (
       |  SELECT q.vec_id AS query_id, e.vec_id, sum(e.v * q.v) AS dot
       |  FROM ev e JOIN ev q ON e.i = q.i
       |  JOIN sq ON q.vec_id = sq.query_id
       |  WHERE e.vec_id <> q.vec_id GROUP BY 1, 2
       |),
       |qcm AS (
       |  SELECT d.query_id, d.vec_id,
       |    ${Hashing.microSql("d.dot / (ne.nrm * nq.nrm)")} AS cos_micro
       |  FROM qd d JOIN nrm ne ON d.vec_id = ne.vec_id
       |             JOIN nrm nq ON d.query_id = nq.vec_id
       |),
       |truth AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY cos_micro DESC, vec_id) AS rn
       |    FROM qcm
       |  ) WHERE rn <= $TopK
       |),
       |np(nprobe) AS (SELECT CAST(v.c AS BIGINT) FROM (VALUES $npVals) v(c)),
       |ann AS (
       |  SELECT nprobe, query_id, vec_id FROM (
       |    SELECT n.nprobe, q.query_id, q.vec_id,
       |      row_number() OVER (PARTITION BY q.query_id, n.nprobe
       |                         ORDER BY q.cos_micro DESC, q.vec_id) AS rn
       |    FROM qcm q
       |    JOIN a$rounds a ON q.vec_id = a.vec_id
       |    JOIN probes p ON p.query_id = q.query_id AND p.cid = a.cid
       |    CROSS JOIN np n
       |    WHERE p.prank <= n.nprobe
       |  ) WHERE rn <= $TopK
       |),
       |h AS (
       |  SELECT a.query_id, a.nprobe, count(*) AS hits
       |  FROM ann a JOIN truth t
       |    ON a.query_id = t.query_id AND a.vec_id = t.vec_id
       |  GROUP BY 1, 2
       |),
       |pooled AS (
       |  SELECT n.nprobe,
       |    CAST(count(*) AS BIGINT) AS n_queries,
       |    CAST(count(*) * $TopK AS BIGINT) AS trials,
       |    CAST(sum(COALESCE(h.hits, 0)) AS BIGINT) AS hits
       |  FROM sq q CROSS JOIN np n
       |  LEFT JOIN h ON q.query_id = h.query_id AND n.nprobe = h.nprobe
       |  GROUP BY 1
       |)
       |SELECT nprobe, n_queries, trials, hits,
       |  CASE WHEN trials > 0 THEN ${Hashing.microSql(p)}
       |    ELSE CAST(0 AS BIGINT) END AS recall_micro,
       |  CASE WHEN trials > 0 THEN
       |    ${Hashing.microSql(s"($center - $half) / $denom")}
       |    ELSE CAST(0 AS BIGINT) END AS lo_micro,
       |  CASE WHEN trials > 0 THEN
       |    ${Hashing.microSql(s"($center + $half) / $denom")}
       |    ELSE CAST(0 AS BIGINT) END AS hi_micro
       |FROM pooled ORDER BY nprobe""".stripMargin
  }

  /** Cluster-mix oracle: the trained assignments, aggregated. Both
    * divisions are single IEEE ops on identical integer operands, so
    * the micro floors agree exactly.
    */
  private val clusterMixOracle: String = {
    val rounds = SimilarityOps.KmRounds
    s"""$kmeansTrainedCtes,
       |cm AS (
       |  SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n_vecs
       |  FROM a$rounds GROUP BY 1
       |),
       |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total FROM cm)
       |SELECT cluster, n_vecs,
       |  ${Hashing.microSql("n_vecs / total")} AS share_micro,
       |  ${Hashing.microSql(s"total / ($NCentroids * n_vecs)")}
       |    AS weight_micro
       |FROM cm, tot ORDER BY cluster""".stripMargin
  }

  /** SemDeDup oracle: the trained assignments, within-cluster pair
    * cosines from position-joined elements (the q_embed_pairs
    * machinery restricted to same-cid pairs), threshold-filtered max
    * per higher id, left-joined back onto every vector.
    */
  private val semDedupOracle: String = {
    val rounds = SimilarityOps.KmRounds
    s"""$kmeansTrainedCtes,
       |spr AS (
       |  SELECT a1.vec_id AS d1, a2.vec_id AS d2, sum(x.v * y.v) AS dot
       |  FROM a$rounds a1 JOIN a$rounds a2
       |    ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id
       |  JOIN ev x ON x.vec_id = a1.vec_id
       |  JOIN ev y ON y.vec_id = a2.vec_id AND y.i = x.i
       |  GROUP BY 1, 2
       |),
       |scm AS (
       |  SELECT p.d2 AS vec_id,
       |    ${Hashing.microSql("p.dot / (n1.nrm * n2.nrm)")} AS cos_micro
       |  FROM spr p JOIN nrm n1 ON p.d1 = n1.vec_id
       |             JOIN nrm n2 ON p.d2 = n2.vec_id
       |),
       |sdup AS (
       |  SELECT vec_id, max(cos_micro) AS m FROM scm
       |  WHERE cos_micro >= $SemDedupCosMin GROUP BY 1
       |)
       |SELECT a.vec_id, a.cid AS cluster,
       |  CAST(COALESCE(d.m, 0) AS BIGINT) AS dup_cos_micro,
       |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS kept
       |FROM a$rounds a LEFT JOIN sdup d ON a.vec_id = d.vec_id
       |ORDER BY a.vec_id""".stripMargin
  }

  /** V47 oracle: the D12 pair chain threshold-free (per-vector max
    * cosine), a VALUES ε grid, one census aggregate per bar.
    */
  private val semdedupSweepOracle: String = {
    val rounds = SimilarityOps.KmRounds
    val gridVals = SemDedupEpsSweep.map(e => s"($e)").mkString(", ")
    s"""$kmeansTrainedCtes,
       |spr AS (
       |  SELECT a1.vec_id AS d1, a2.vec_id AS d2, sum(x.v * y.v) AS dot
       |  FROM a$rounds a1 JOIN a$rounds a2
       |    ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id
       |  JOIN ev x ON x.vec_id = a1.vec_id
       |  JOIN ev y ON y.vec_id = a2.vec_id AND y.i = x.i
       |  GROUP BY 1, 2
       |),
       |scm AS (
       |  SELECT p.d2 AS vec_id,
       |    ${Hashing.microSql("p.dot / (n1.nrm * n2.nrm)")} AS cos_micro
       |  FROM spr p JOIN nrm n1 ON p.d1 = n1.vec_id
       |             JOIN nrm n2 ON p.d2 = n2.vec_id
       |),
       |smax AS (
       |  SELECT vec_id, CAST(max(cos_micro) AS BIGINT) AS maxc
       |  FROM scm GROUP BY 1
       |),
       |sall AS (
       |  SELECT a.vec_id, COALESCE(m.maxc, -2000000) AS maxc
       |  FROM a$rounds a LEFT JOIN smax m ON a.vec_id = m.vec_id
       |),
       |grid(eps_micro) AS (VALUES $gridVals)
       |SELECT CAST(g.eps_micro AS BIGINT) AS eps_micro,
       |  CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(CASE WHEN s.maxc >= g.eps_micro THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_excised,
       |  CAST(count(*) - sum(CASE WHEN s.maxc >= g.eps_micro
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST((1000000 * (count(*) - sum(CASE WHEN s.maxc >= g.eps_micro
       |    THEN 1 ELSE 0 END))) // count(*) AS BIGINT) AS keep_ppm
       |FROM sall s CROSS JOIN grid g
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** V11: the semDedup pair machinery threshold-free, bucketed at
    * 5 %-wide cosine buckets with top-down cumulative counts (unique
    * bucket values after grouping, so DuckDB's default RANGE frame
    * equals the Spark ROWS frame).
    */
  private val cosCensusOracle: String = {
    val rounds = SimilarityOps.KmRounds
    s"""$kmeansTrainedCtes,
       |spr AS (
       |  SELECT a1.vec_id AS d1, a2.vec_id AS d2, sum(x.v * y.v) AS dot
       |  FROM a$rounds a1 JOIN a$rounds a2
       |    ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id
       |  JOIN ev x ON x.vec_id = a1.vec_id
       |  JOIN ev y ON y.vec_id = a2.vec_id AND y.i = x.i
       |  GROUP BY 1, 2
       |),
       |scm AS (
       |  SELECT ${Hashing.microSql("p.dot / (n1.nrm * n2.nrm)")}
       |    AS cos_micro
       |  FROM spr p JOIN nrm n1 ON p.d1 = n1.vec_id
       |             JOIN nrm n2 ON p.d2 = n2.vec_id
       |)
       |SELECT bucket_lo_micro, count(*) AS n_pairs,
       |  CAST(sum(count(*)) OVER (ORDER BY bucket_lo_micro DESC)
       |    AS BIGINT) AS n_pairs_at_or_above
       |FROM (
       |  SELECT CAST(floor(cos_micro / 50000) AS BIGINT) * 50000
       |    AS bucket_lo_micro
       |  FROM scm
       |) GROUP BY 1 ORDER BY bucket_lo_micro""".stripMargin
  }

  /** V12: within-cluster pairs once (MATERIALIZED — referenced by both
    * directions), micro cosines mirrored, rank by (cos DESC, id),
    * top-k votes, majority with the two-step exact tie-break (max
    * count, then MIN label among achievers — never `max_by`).
    */
  private val knnLabelOracle: String = {
    val rounds = SimilarityOps.KmRounds
    s"""$kmeansTrainedCtes,
       |kpr AS MATERIALIZED (
       |  SELECT a1.vec_id AS d1, a2.vec_id AS d2, sum(x.v * y.v) AS dot
       |  FROM a$rounds a1 JOIN a$rounds a2
       |    ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id
       |  JOIN ev x ON x.vec_id = a1.vec_id
       |  JOIN ev y ON y.vec_id = a2.vec_id AND y.i = x.i
       |  GROUP BY 1, 2
       |),
       |kcm AS MATERIALIZED (
       |  SELECT p.d1, p.d2,
       |    ${Hashing.microSql("p.dot / (n1.nrm * n2.nrm)")} AS cos_micro
       |  FROM kpr p JOIN nrm n1 ON p.d1 = n1.vec_id
       |             JOIN nrm n2 ON p.d2 = n2.vec_id
       |),
       |dcos AS (
       |  SELECT d1, d2, cos_micro FROM kcm
       |  UNION ALL
       |  SELECT d2 AS d1, d1 AS d2, cos_micro FROM kcm
       |),
       |lbl AS (SELECT vec_id, label FROM embeddings),
       |topk AS (
       |  SELECT d1, d2 FROM (
       |    SELECT d1, d2, row_number() OVER (PARTITION BY d1
       |      ORDER BY cos_micro DESC, d2) AS rk
       |    FROM dcos
       |  ) WHERE rk <= $KnnK
       |),
       |votes AS (
       |  SELECT t.d1, l.label AS l2, count(*) AS c
       |  FROM topk t JOIN lbl l ON t.d2 = l.vec_id GROUP BY 1, 2
       |),
       |best AS (SELECT d1, max(c) AS mc FROM votes GROUP BY 1),
       |pred AS (
       |  SELECT v.d1, min(v.l2) AS predicted
       |  FROM votes v JOIN best b ON v.d1 = b.d1 AND v.c = b.mc
       |  GROUP BY 1
       |)
       |SELECT l.label, p.predicted, CAST(count(*) AS BIGINT) AS n_vecs
       |FROM pred p JOIN lbl l ON p.d1 = l.vec_id
       |GROUP BY 1, 2 ORDER BY label, predicted""".stripMargin
  }

  /** The four per-subspace training chains of the PQ oracle, under a
    * name tag so several code budgets can coexist in one statement.
    */
  private def pqChainsFor(tag: String, nCents: Int): String =
    (0 until PqSub).map(j => kmeansCtesFor(s"${tag}p${j}_", nCents,
      j * PqSubLen + 1, (j + 1) * PqSubLen)).mkString(",\n")

  private def pqChains: String = pqChainsFor("", PqCents)

  private val pqEncodeOracle: String = {
    val r = SimilarityOps.KmRounds
    val joins = (1 until PqSub)
      .map(j => s"JOIN p${j}_a$r x$j ON x0.vec_id = x$j.vec_id")
      .mkString("\n")
    val cols = (0 until PqSub).map(j => s"x$j.cid AS code$j")
      .mkString(", ")
    s"""$evCte,
       |$pqChains
       |SELECT x0.vec_id, $cols
       |FROM p0_a$r x0
       |$joins
       |ORDER BY x0.vec_id""".stripMargin
  }

  /** ADC oracle: the query's milli vector against the final centroids
    * forms one exact-integer LUT per subspace; each vector's adc is the
    * sum of its four code lookups — no flooring anywhere.
    */
  private val pqAdcOracle: String = {
    val r = SimilarityOps.KmRounds
    val luts = (0 until PqSub).map(j =>
      s"""p${j}_lut AS (
         |  SELECT c.cid, CAST(sum(m.vm * c.S) AS BIGINT) AS dot
         |  FROM p${j}_c$r c JOIN p${j}_mv m
         |    ON m.i = c.i AND m.vec_id = $QueryVecId
         |  GROUP BY 1
         |)""".stripMargin).mkString(",\n")
    val joins = (1 until PqSub)
      .map(j => s"JOIN p${j}_a$r x$j ON x0.vec_id = x$j.vec_id")
      .mkString("\n")
    val lutJoins = (0 until PqSub)
      .map(j => s"JOIN p${j}_lut l$j ON l$j.cid = x$j.cid")
      .mkString("\n")
    val adc = (0 until PqSub).map(j => s"l$j.dot").mkString(" + ")
    s"""$evCte,
       |$pqChains,
       |$luts
       |SELECT x0.vec_id, CAST($adc AS BIGINT) AS adc
       |FROM p0_a$r x0
       |$joins
       |$lutJoins
       |WHERE x0.vec_id <> $QueryVecId
       |ORDER BY adc DESC, x0.vec_id LIMIT $PqK""".stripMargin
  }

  /** Rerank oracle: the ADC ranking becomes a shortlist CTE (same
    * fragments as the q_pq_adc oracle), and the exact-cosine tail of
    * the q_ann_topk oracle runs restricted to the shortlist — the
    * two-stage composition mirrored 1:1.
    */
  private val pqRerankOracle: String = {
    val r = SimilarityOps.KmRounds
    val luts = (0 until PqSub).map(j =>
      s"""p${j}_lut AS (
         |  SELECT c.cid, CAST(sum(m.vm * c.S) AS BIGINT) AS dot
         |  FROM p${j}_c$r c JOIN p${j}_mv m
         |    ON m.i = c.i AND m.vec_id = $QueryVecId
         |  GROUP BY 1
         |)""".stripMargin).mkString(",\n")
    val joins = (1 until PqSub)
      .map(j => s"JOIN p${j}_a$r x$j ON x0.vec_id = x$j.vec_id")
      .mkString("\n")
    val lutJoins = (0 until PqSub)
      .map(j => s"JOIN p${j}_lut l$j ON l$j.cid = x$j.cid")
      .mkString("\n")
    val adc = (0 until PqSub).map(j => s"l$j.dot").mkString(" + ")
    s"""$evCte,
       |$pqChains,
       |$luts,
       |short AS (
       |  SELECT x0.vec_id
       |  FROM p0_a$r x0
       |$joins
       |$lutJoins
       |  WHERE x0.vec_id <> $QueryVecId
       |  ORDER BY CAST($adc AS BIGINT) DESC, x0.vec_id
       |  LIMIT $PqShortlist
       |),
       |dots AS (
       |  SELECT e.vec_id, sum(e.v * q.v) AS dot
       |  FROM ev e
       |  JOIN ev q ON e.i = q.i AND q.vec_id = $QueryVecId
       |  JOIN short s ON s.vec_id = e.vec_id
       |  GROUP BY 1
       |)
       |SELECT d.vec_id,
       |  ${Hashing.microSql(
      s"d.dot / (n.nrm * (SELECT nrm FROM nrm WHERE vec_id = $QueryVecId))")}
       |    AS cos_micro
       |FROM dots d JOIN nrm n ON d.vec_id = n.vec_id
       |ORDER BY cos_micro DESC, d.vec_id LIMIT $PqK""".stripMargin
  }

  /** IVF×PQ oracle: the full-vector training chain supplies the probe
    * set, the subspace chains supply codes and LUTs, the ranking runs
    * over probed clusters only.
    */
  private val pqIvfOracle: String = {
    val r = SimilarityOps.KmRounds
    val luts = (0 until PqSub).map(j =>
      s"""p${j}_lut AS (
         |  SELECT c.cid, CAST(sum(m.vm * c.S) AS BIGINT) AS dot
         |  FROM p${j}_c$r c JOIN p${j}_mv m
         |    ON m.i = c.i AND m.vec_id = $QueryVecId
         |  GROUP BY 1
         |)""".stripMargin).mkString(",\n")
    val codeJoins = (1 until PqSub)
      .map(j => s"JOIN p${j}_a$r x$j ON x0.vec_id = x$j.vec_id")
      .mkString("\n")
    val lutJoins = (0 until PqSub)
      .map(j => s"JOIN p${j}_lut l$j ON l$j.cid = x$j.cid")
      .mkString("\n")
    val adc = (0 until PqSub).map(j => s"l$j.dot").mkString(" + ")
    s"""$kmeansTrainedCtes,
       |$pqChains,
       |$luts,
       |probe AS (
       |  SELECT cid FROM sc$r WHERE vec_id = $QueryVecId
       |  ORDER BY score DESC, cid LIMIT $NProbe
       |)
       |SELECT x0.vec_id, fa.cid AS cluster, CAST($adc AS BIGINT) AS adc
       |FROM p0_a$r x0
       |$codeJoins
       |$lutJoins
       |JOIN a$r fa ON fa.vec_id = x0.vec_id
       |JOIN probe pr ON fa.cid = pr.cid
       |WHERE x0.vec_id <> $QueryVecId
       |ORDER BY adc DESC, x0.vec_id LIMIT $PqK""".stripMargin
  }

  /** V18 oracle: the q_pq_ivf oracle's probe+codes+LUT fragments cut a
    * probed-cluster ADC shortlist, and the q_pq_rerank oracle's
    * exact-cosine tail runs restricted to it — the three-stage
    * composition mirrored 1:1.
    */
  private val pqServeOracle: String = {
    val r = SimilarityOps.KmRounds
    val luts = (0 until PqSub).map(j =>
      s"""p${j}_lut AS (
         |  SELECT c.cid, CAST(sum(m.vm * c.S) AS BIGINT) AS dot
         |  FROM p${j}_c$r c JOIN p${j}_mv m
         |    ON m.i = c.i AND m.vec_id = $QueryVecId
         |  GROUP BY 1
         |)""".stripMargin).mkString(",\n")
    val codeJoins = (1 until PqSub)
      .map(j => s"JOIN p${j}_a$r x$j ON x0.vec_id = x$j.vec_id")
      .mkString("\n")
    val lutJoins = (0 until PqSub)
      .map(j => s"JOIN p${j}_lut l$j ON l$j.cid = x$j.cid")
      .mkString("\n")
    val adc = (0 until PqSub).map(j => s"l$j.dot").mkString(" + ")
    s"""$kmeansTrainedCtes,
       |$pqChains,
       |$luts,
       |probe AS (
       |  SELECT cid FROM sc$r WHERE vec_id = $QueryVecId
       |  ORDER BY score DESC, cid LIMIT $NProbe
       |),
       |short AS (
       |  SELECT x0.vec_id
       |  FROM p0_a$r x0
       |$codeJoins
       |$lutJoins
       |  JOIN a$r fa ON fa.vec_id = x0.vec_id
       |  JOIN probe pr ON fa.cid = pr.cid
       |  WHERE x0.vec_id <> $QueryVecId
       |  ORDER BY CAST($adc AS BIGINT) DESC, x0.vec_id
       |  LIMIT $PqShortlist
       |),
       |dots AS (
       |  SELECT e.vec_id, sum(e.v * q.v) AS dot
       |  FROM ev e
       |  JOIN ev q ON e.i = q.i AND q.vec_id = $QueryVecId
       |  JOIN short s ON s.vec_id = e.vec_id
       |  GROUP BY 1
       |)
       |SELECT d.vec_id,
       |  ${Hashing.microSql(
      s"d.dot / (n.nrm * (SELECT nrm FROM nrm WHERE vec_id = $QueryVecId))")}
       |    AS cos_micro
       |FROM dots d JOIN nrm n ON d.vec_id = n.vec_id
       |ORDER BY cos_micro DESC, d.vec_id LIMIT $PqK""".stripMargin
  }

  /** Per-budget ADC ranking CTEs: exact-integer per-query LUTs over
    * the tagged chains' final centroids, ADC per (query, vector), rank
    * per query. Ends with `<tag>annp` (query_id, vec_id) rows.
    */
  /** V26 oracle: the ENTIRE residual-IVFADC pipeline mirrored —
    * coarse k-means chain, residual relation (MATERIALIZED: it feeds
    * four sub-chains plus the candidate set, and DuckDB 1.0 would
    * otherwise re-expand the coarse training at every reference),
    * four per-subspace residual k-means chains via the milliSrc
    * generator, probe mirror, per-probed-cluster query-residual LUTs,
    * and the exact-integer ADC sum. No flooring past the milli
    * inputs.
    */
  private val pqResidualOracle: String = {
    val r = SimilarityOps.KmRounds
    val rchains = (0 until PqSub).map(j =>
      kmeansCtesFor(s"rp${j}_", PqCents, j * PqSubLen + 1,
        (j + 1) * PqSubLen, Some("g_res"))).mkString(",\n")
    val luts = (0 until PqSub).map(j =>
      s"""rp${j}_lut AS (
         |  SELECT q.cluster, b.cid,
         |    CAST(sum(q.vm * b.S) AS BIGINT) AS dot
         |  FROM rp${j}_c$r b JOIN qres q ON q.i = b.i
         |  GROUP BY 1, 2
         |)""".stripMargin).mkString(",\n")
    val codeJoins = (0 until PqSub)
      .map(j => s"JOIN rp${j}_a$r x$j ON cand.vec_id = x$j.vec_id")
      .mkString("\n")
    val lutJoins = (0 until PqSub)
      .map(j => s"JOIN rp${j}_lut l$j ON l$j.cluster = cand.cluster " +
        s"AND l$j.cid = x$j.cid")
      .mkString("\n")
    val adc = (0 until PqSub).map(j => s"l$j.dot").mkString(" + ")
    s"""$evCte,
       |${kmeansCtesFor("g_", NCentroids, 1, 1 << 20)},
       |g_res AS MATERIALIZED (
       |  SELECT m.vec_id, m.i, m.vm - c.S AS vm, a.cid AS cluster
       |  FROM g_mv m JOIN g_a$r a USING (vec_id)
       |       JOIN g_c$r c ON c.cid = a.cid AND c.i = m.i
       |),
       |$rchains,
       |qpr AS (
       |  SELECT cid FROM g_sc$r WHERE vec_id = $QueryVecId
       |  ORDER BY score DESC, cid LIMIT $NProbe
       |),
       |qres AS (
       |  SELECT c.cid AS cluster, c.i, m.vm - c.S AS vm
       |  FROM g_c$r c JOIN g_mv m ON m.vec_id = $QueryVecId AND m.i = c.i
       |  WHERE c.cid IN (SELECT cid FROM qpr)
       |),
       |$luts,
       |cand AS (
       |  SELECT DISTINCT vec_id, cluster FROM g_res
       |  WHERE cluster IN (SELECT cid FROM qpr)
       |    AND vec_id <> $QueryVecId
       |)
       |SELECT cand.vec_id, CAST(cand.cluster AS BIGINT) AS cluster,
       |  CAST($adc AS BIGINT) AS adc
       |FROM cand
       |$codeJoins
       |$lutJoins
       |ORDER BY adc DESC, cand.vec_id LIMIT $PqK""".stripMargin
  }

  private def pqAnnCtesFor(tag: String): String = {
    val r = SimilarityOps.KmRounds
    val luts = (0 until PqSub).map(j =>
      s"""${tag}p${j}_lq AS (
         |  SELECT m.vec_id AS query_id, c.cid,
         |    CAST(sum(m.vm * c.S) AS BIGINT) AS dot
         |  FROM ${tag}p${j}_c$r c JOIN ${tag}p${j}_mv m
         |    ON m.i = c.i AND m.vec_id < $BatchQueryMax
         |  GROUP BY 1, 2
         |)""".stripMargin).mkString(",\n")
    val codeJoins = (1 until PqSub)
      .map(j => s"JOIN ${tag}p${j}_a$r x$j ON x0.vec_id = x$j.vec_id")
      .mkString("\n")
    val lutJoins = (0 until PqSub).map(j =>
      s"JOIN ${tag}p${j}_lq l$j ON l$j.cid = x$j.cid" +
        (if (j == 0) "" else " AND l" + j + ".query_id = l0.query_id"))
      .mkString("\n")
    val adc = (0 until PqSub).map(j => s"l$j.dot").mkString(" + ")
    s"""$luts,
       |${tag}adcr AS (
       |  SELECT l0.query_id, x0.vec_id, CAST($adc AS BIGINT) AS adc
       |  FROM ${tag}p0_a$r x0
       |$codeJoins
       |$lutJoins
       |  WHERE x0.vec_id <> l0.query_id
       |),
       |${tag}annp AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY adc DESC, vec_id) AS rn
       |    FROM ${tag}adcr
       |  ) WHERE rn <= $PqK
       |)""".stripMargin
  }

  /** PQ recall-curve oracle: one tagged chain set + ADC ranking per
    * code budget, exact-cosine truth ranked once, per-budget overlap
    * zero-filled over the query grid and unioned.
    */
  private val pqRecallOracle: String = {
    val budgets = PqRecallCents.map(nc => (nc, s"b${nc}_"))
    val chains = budgets
      .map { case (nc, tag) => pqChainsFor(tag, nc) }.mkString(",\n")
    val anns = budgets.map { case (_, tag) => pqAnnCtesFor(tag) }
      .mkString(",\n")
    val branches = budgets.map { case (nc, tag) =>
      s"""SELECT CAST($nc AS BIGINT) AS n_cents, g.query_id,
         |  CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
         |  ${Hashing.microSql(s"COALESCE(h.hits, 0) * 1.0 / $PqK")}
         |    AS recall_micro
         |FROM pgrid g
         |LEFT JOIN (
         |  SELECT a.query_id, count(*) AS hits
         |  FROM ${tag}annp a JOIN ptr t
         |    ON a.query_id = t.query_id AND a.vec_id = t.vec_id
         |  GROUP BY 1
         |) h ON g.query_id = h.query_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$evCte,
       |$chains,
       |$anns,
       |ptmv AS (
       |  SELECT vec_id, CAST(floor(v * 1000.0) AS BIGINT) AS vm, i
       |  FROM ev
       |),
       |ptd AS (
       |  SELECT q.vec_id AS query_id, e.vec_id,
       |    CAST(sum(e.vm * q.vm) AS BIGINT) AS dot
       |  FROM ptmv e JOIN ptmv q
       |    ON e.i = q.i AND q.vec_id < $BatchQueryMax
       |  WHERE e.vec_id <> q.vec_id GROUP BY 1, 2
       |),
       |ptr AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY dot DESC, vec_id) AS rn
       |    FROM ptd
       |  ) WHERE rn <= $PqK
       |),
       |pgrid AS MATERIALIZED (
       |  SELECT DISTINCT vec_id AS query_id FROM embeddings
       |  WHERE vec_id < $BatchQueryMax
       |)
       |SELECT * FROM (
       |$branches
       |) ORDER BY n_cents, query_id""".stripMargin
  }

  /** V14 oracle: the trained chain's final score/assignment relations
    * give each vector its assigned-centroid score directly; hardness
    * ranks and the exact-integer keep verdict mirror the Spark
    * windows 1:1.
    */
  private val protoPruneOracle: String = {
    val r = SimilarityOps.KmRounds
    s"""$kmeansTrainedCtes,
       |psz AS (
       |  SELECT cid, CAST(count(*) AS BIGINT) AS n FROM a$r GROUP BY 1
       |),
       |prk AS (
       |  SELECT a.vec_id, a.cid, s.score,
       |    CAST(row_number() OVER (PARTITION BY a.cid
       |                            ORDER BY s.score ASC, a.vec_id)
       |      AS BIGINT) AS rk
       |  FROM a$r a JOIN sc$r s
       |    ON a.vec_id = s.vec_id AND a.cid = s.cid
       |)
       |SELECT p.vec_id, p.cid AS cluster,
       |  CAST(p.score AS BIGINT) AS proto_cos_micro,
       |  p.rk AS hardness_rank, z.n AS n_cluster,
       |  CAST(CASE WHEN p.rk * $ProtoKeepDen <= z.n * $ProtoKeepNum
       |       THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM prk p JOIN psz z ON p.cid = z.cid
       |ORDER BY p.vec_id""".stripMargin
  }

  /** V17 oracle: rank the trained chain's per-(vector, centroid)
    * scores per vector, join rank 1 to rank 2 — the kernel's two-leader
    * loop mirrored as row_number semantics.
    */
  private val clusterMarginOracle: String = {
    val r = SimilarityOps.KmRounds
    s"""$kmeansTrainedCtes,
       |mr AS (
       |  SELECT vec_id, cid, score,
       |    row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY score DESC, cid) AS rn
       |  FROM sc$r
       |)
       |SELECT s1.vec_id, s1.cid AS cluster,
       |  CAST(s1.score AS BIGINT) AS best_micro,
       |  CAST(s2.score AS BIGINT) AS second_micro,
       |  CAST(s1.score - s2.score AS BIGINT) AS margin_micro,
       |  CAST(CASE WHEN s1.score - s2.score <= $MarginBoundaryMax
       |       THEN 1 ELSE 0 END AS BIGINT) AS boundary
       |FROM (SELECT * FROM mr WHERE rn = 1) s1
       |JOIN (SELECT * FROM mr WHERE rn = 2) s2 USING (vec_id)
       |ORDER BY s1.vec_id""".stripMargin
  }

  /** V19 oracle: identical milli quantization, truncated integer-mean
    * centroids (`//` ≡ Java `div`, toward zero — the kmeans-refresh
    * contract), centroid-relation-sized pair cosines.
    */
  private val labelGeometryOracle: String =
    s"""WITH gev AS (
       |  SELECT label,
       |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000.0)
       |      AS BIGINT) AS vm,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings
       |),
       |gc AS (
       |  SELECT label, i, CAST(sum(vm) // count(*) AS BIGINT) AS c,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM gev GROUP BY 1, 2
       |),
       |gn AS (
       |  SELECT label, CAST(sum(c * c) AS BIGINT) AS ssq,
       |    CAST(max(n) AS BIGINT) AS n
       |  FROM gc GROUP BY 1
       |),
       |gd AS (
       |  SELECT a.label AS label_a, b.label AS label_b,
       |    CAST(sum(a.c * b.c) AS BIGINT) AS dot
       |  FROM gc a JOIN gc b ON a.i = b.i AND a.label < b.label
       |  GROUP BY 1, 2
       |)
       |SELECT d.label_a, d.label_b,
       |  CAST(CASE WHEN na.ssq = 0 OR nb.ssq = 0 THEN 0
       |       ELSE ${Hashing.microSql(
      "d.dot / (sqrt(CAST(na.ssq AS DOUBLE)) * sqrt(CAST(nb.ssq AS DOUBLE)))")}
       |       END AS BIGINT) AS cos_micro,
       |  na.n AS n_a, nb.n AS n_b
       |FROM gd d JOIN gn na ON d.label_a = na.label
       |          JOIN gn nb ON d.label_b = nb.label
       |ORDER BY d.label_a, d.label_b""".stripMargin

  /** V25 oracle: V19's CTEs with the parity half in the key; one
    * IEEE division per label.
    */
  private val centroidDriftOracle: String =
    s"""WITH gev AS (
       |  SELECT label, vec_id % 2 AS half,
       |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000.0)
       |      AS BIGINT) AS vm,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings
       |),
       |gc AS (
       |  SELECT label, half, i,
       |    CAST(sum(vm) // count(*) AS BIGINT) AS c,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM gev GROUP BY 1, 2, 3
       |),
       |gn AS (
       |  SELECT label, half, CAST(sum(c * c) AS BIGINT) AS ssq,
       |    CAST(max(n) AS BIGINT) AS n
       |  FROM gc GROUP BY 1, 2
       |),
       |gd AS (
       |  SELECT a.label, CAST(sum(a.c * b.c) AS BIGINT) AS dot
       |  FROM gc a JOIN gc b ON a.label = b.label AND a.i = b.i
       |   AND a.half = 0 AND b.half = 1
       |  GROUP BY 1
       |)
       |SELECT d.label, na.n AS n_a, nb.n AS n_b,
       |  CAST(CASE WHEN na.ssq = 0 OR nb.ssq = 0 THEN 0
       |       ELSE ${Hashing.microSql(
      "d.dot / (sqrt(CAST(na.ssq AS DOUBLE)) * sqrt(CAST(nb.ssq AS DOUBLE)))")}
       |       END AS BIGINT) AS cos_micro
       |FROM gd d JOIN gn na ON d.label = na.label AND na.half = 0
       |          JOIN gn nb ON d.label = nb.label AND nb.half = 1
       |ORDER BY d.label""".stripMargin

  /** V15 oracle: the identical milli quantization, per-(label, dim)
    * sums, and the same single IEEE division — the identity holds on
    * exact integers, so no tolerance is needed anywhere.
    */
  private val embedDiversityOracle: String =
    s"""WITH ev AS (
       |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
       |         generate_subscripts(embedding, 1) AS i
       |  FROM embeddings
       |),
       |dmv AS (
       |  SELECT vec_id, label,
       |    CAST(floor(v * 1000.0) AS BIGINT) AS vm, i
       |  FROM ev
       |),
       |per AS (
       |  SELECT label, i, CAST(sum(vm) AS BIGINT) AS s,
       |    CAST(sum(vm * vm) AS BIGINT) AS q,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM dmv GROUP BY 1, 2
       |),
       |agg AS (
       |  SELECT label, CAST(sum(s * s) AS BIGINT) AS ssum,
       |    CAST(sum(q) AS BIGINT) AS t, CAST(max(n) AS BIGINT) AS n
       |  FROM per GROUP BY 1
       |)
       |SELECT label, n AS n_vecs, t AS self_dot_sum,
       |  ssum AS sum_vec_dot,
       |  CAST(CASE WHEN n > 1
       |       THEN ${Hashing.microSql("(ssum - t) / ((n - 1) * t)")}
       |       ELSE 0 END AS BIGINT) AS coherence_micro
       |FROM agg ORDER BY label""".stripMargin

  /** V16 oracle: the batch-ANN oracle with the cross-label filter and
    * the negative's label carried through.
    */
  private val hardNegOracle: String =
    s"""$evCte,
       |lbl AS (SELECT DISTINCT vec_id, label FROM ev),
       |hdots AS (
       |  SELECT q.vec_id AS query_id, e.vec_id, sum(e.v * q.v) AS dot
       |  FROM ev e JOIN ev q ON e.i = q.i AND q.vec_id < $BatchQueryMax
       |  WHERE e.vec_id <> q.vec_id GROUP BY 1, 2
       |),
       |hscores AS (
       |  SELECT d.query_id, d.vec_id,
       |    ${Hashing.microSql("d.dot / (ne.nrm * nq.nrm)")} AS cos_micro,
       |    le.label AS neg_label
       |  FROM hdots d JOIN nrm ne ON d.vec_id = ne.vec_id
       |              JOIN nrm nq ON d.query_id = nq.vec_id
       |              JOIN lbl le ON d.vec_id = le.vec_id
       |              JOIN lbl lq ON d.query_id = lq.vec_id
       |  WHERE le.label <> lq.label
       |)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
       |  neg_label, cos_micro
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_micro DESC, vec_id) AS rank
       |  FROM hscores
       |) WHERE rank <= $HardNegK ORDER BY query_id, rank""".stripMargin

  private val quantizeOracle =
    s"""WITH ev AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
       |         generate_subscripts(embedding, 1) AS i
       |  FROM embeddings
       |),
       |am AS (SELECT vec_id, max(abs(v)) AS amax FROM ev GROUP BY 1)
       |SELECT e.vec_id, CAST(e.i AS BIGINT) AS i,
       |  CASE WHEN am.amax = 0 THEN CAST(0 AS BIGINT)
       |       ELSE CAST(floor(e.v * 127.0 / am.amax) AS BIGINT) END AS q,
       |  ${Hashing.microSql("am.amax")} AS amax_micro
       |FROM ev e JOIN am ON e.vec_id = am.vec_id
       |ORDER BY e.vec_id, i""".stripMargin

  /** SQ8 oracle: quantize per the q_quantize law, score int8 cosine
    * (integer dot — association-free — over code values, then one
    * division), rank, and flag against the exact-cosine truth.
    */
  /** V53 oracle: milli components × int8 codes, the three exact
    * integer sums per vector, the mirrored cosine tree, decade
    * buckets, min_by exemplar on the (fid, vec_id) composite.
    */
  private val sq8FidelityOracle =
    s"""$evCte,
       |am AS (SELECT vec_id, max(abs(v)) AS amax FROM ev GROUP BY 1),
       |mq AS (
       |  SELECT e.vec_id,
       |    CAST(floor(e.v * 1000.0) AS BIGINT) AS m,
       |    CASE WHEN am.amax = 0 THEN CAST(0 AS BIGINT)
       |         ELSE CAST(floor(e.v * 127.0 / am.amax) AS BIGINT) END
       |      AS q
       |  FROM ev e JOIN am ON e.vec_id = am.vec_id
       |),
       |parts AS (
       |  SELECT vec_id, CAST(sum(m * q) AS BIGINT) AS dot,
       |    CAST(sum(m * m) AS BIGINT) AS sm,
       |    CAST(sum(q * q) AS BIGINT) AS sq
       |  FROM mq GROUP BY 1
       |),
       |f AS (
       |  SELECT vec_id,
       |    ${Hashing.microSql("dot / (sqrt(sm) * sqrt(sq))")} AS fid
       |  FROM parts WHERE sm > 0 AND sq > 0
       |),
       |b AS (
       |  SELECT vec_id, fid, 1000000 - fid AS loss,
       |    CAST(CASE WHEN 1000000 - fid <= 0 THEN 0
       |         WHEN 1000000 - fid <= 10 THEN 1
       |         WHEN 1000000 - fid <= 100 THEN 2
       |         WHEN 1000000 - fid <= 1000 THEN 3
       |         WHEN 1000000 - fid <= 10000 THEN 4
       |         ELSE 5 END AS BIGINT) AS bucket
       |  FROM f
       |),
       |cen AS (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_vecs,
       |    min(fid) AS min_fid, max(fid) AS max_fid,
       |    CAST(sum(fid) AS BIGINT) AS sum_fid
       |  FROM b GROUP BY bucket
       |),
       |worst AS (
       |  SELECT c.bucket, min(b.vec_id) AS worst_vec
       |  FROM cen c JOIN b ON b.bucket = c.bucket AND b.fid = c.min_fid
       |  GROUP BY 1
       |)
       |SELECT c.bucket, c.n_vecs, c.min_fid, c.max_fid, c.sum_fid,
       |  w.worst_vec, c.sum_fid // c.n_vecs AS mean_fid
       |FROM cen c JOIN worst w ON c.bucket = w.bucket
       |ORDER BY c.bucket""".stripMargin

  private val sqSearchOracle =
    s"""$evCte,
       |am AS (SELECT vec_id, max(abs(v)) AS amax FROM ev GROUP BY 1),
       |q8 AS (
       |  SELECT e.vec_id, e.i,
       |    CASE WHEN am.amax = 0 THEN CAST(0 AS BIGINT)
       |         ELSE CAST(floor(e.v * 127.0 / am.amax) AS BIGINT) END AS q
       |  FROM ev e JOIN am ON e.vec_id = am.vec_id
       |),
       |n8 AS (SELECT vec_id, sqrt(sum(q * q)) AS nrm FROM q8 GROUP BY 1),
       |dots AS (
       |  SELECT q.vec_id AS query_id, e.vec_id, sum(e.v * q.v) AS dot
       |  FROM ev e JOIN ev q ON e.i = q.i AND q.vec_id < $BatchQueryMax
       |  WHERE e.vec_id <> q.vec_id GROUP BY 1, 2
       |),
       |d8 AS (
       |  SELECT q.vec_id AS query_id, e.vec_id, sum(e.q * q.q) AS dot8
       |  FROM q8 e JOIN q8 q ON e.i = q.i AND q.vec_id < $BatchQueryMax
       |  WHERE e.vec_id <> q.vec_id GROUP BY 1, 2
       |),
       |sc AS (
       |  SELECT d.query_id, d.vec_id,
       |    ${Hashing.microSql("d.dot / (ne.nrm * nq.nrm)")} AS cos_micro
       |  FROM dots d JOIN nrm ne ON d.vec_id = ne.vec_id
       |              JOIN nrm nq ON d.query_id = nq.vec_id
       |),
       |s8 AS (
       |  SELECT d.query_id, d.vec_id,
       |    ${Hashing.microSql("d.dot8 / (ne.nrm * nq.nrm)")} AS sq_micro
       |  FROM d8 d JOIN n8 ne ON d.vec_id = ne.vec_id
       |            JOIN n8 nq ON d.query_id = nq.vec_id
       |),
       |truth AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY cos_micro DESC, vec_id) AS rn
       |    FROM sc
       |  ) WHERE rn <= $TopK
       |),
       |ann AS (
       |  SELECT query_id, vec_id, sq_micro, rn FROM (
       |    SELECT query_id, vec_id, sq_micro,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY sq_micro DESC, vec_id) AS rn
       |    FROM s8
       |  ) WHERE rn <= $TopK
       |)
       |SELECT a.query_id, CAST(a.rn AS BIGINT) AS rank, a.vec_id,
       |  a.sq_micro, (t.vec_id IS NOT NULL) AS in_truth
       |FROM ann a LEFT JOIN truth t
       |  ON a.query_id = t.query_id AND a.vec_id = t.vec_id
       |ORDER BY a.query_id, rank""".stripMargin

  /** MRL oracle: per-dim norms and dots over the first `dim` elements
    * (position filter on the unnested relation), per-(query, dim)
    * top-k, recall vs the full-width truth on a dense grid.
    */
  private val mrlRecallOracle: String = {
    val dimVals = MrlDims.map(d => s"($d)").mkString(", ")
    val dMax = MrlDims.max
    s"""$evCte,
       |dims(dim) AS (SELECT CAST(v.c AS BIGINT) FROM (VALUES $dimVals) v(c)),
       |nd AS (
       |  SELECT vec_id, d.dim, sqrt(sum(v * v)) AS nrm
       |  FROM ev CROSS JOIN dims d WHERE ev.i <= d.dim GROUP BY 1, 2
       |),
       |dd AS (
       |  SELECT q.vec_id AS query_id, e.vec_id, d.dim,
       |         sum(e.v * q.v) AS dot
       |  FROM ev e JOIN ev q ON e.i = q.i AND q.vec_id < $BatchQueryMax
       |  CROSS JOIN dims d
       |  WHERE e.vec_id <> q.vec_id AND e.i <= d.dim
       |  GROUP BY 1, 2, 3
       |),
       |sc AS (
       |  SELECT d.query_id, d.vec_id, d.dim,
       |    ${Hashing.microSql("d.dot / (ne.nrm * nq.nrm)")} AS cos_micro
       |  FROM dd d
       |  JOIN nd ne ON d.vec_id = ne.vec_id AND d.dim = ne.dim
       |  JOIN nd nq ON d.query_id = nq.vec_id AND d.dim = nq.dim
       |),
       |tk AS (
       |  SELECT query_id, vec_id, dim FROM (
       |    SELECT query_id, vec_id, dim,
       |      row_number() OVER (PARTITION BY query_id, dim
       |                         ORDER BY cos_micro DESC, vec_id) AS rn
       |    FROM sc
       |  ) WHERE rn <= $TopK
       |),
       |truth AS (SELECT query_id, vec_id FROM tk WHERE dim = $dMax),
       |h AS (
       |  SELECT t.query_id, t.dim, count(*) AS hits
       |  FROM tk t JOIN truth u
       |    ON t.query_id = u.query_id AND t.vec_id = u.vec_id
       |  GROUP BY 1, 2
       |),
       |grid AS (
       |  SELECT q.query_id, d.dim
       |  FROM (SELECT DISTINCT vec_id AS query_id FROM embeddings
       |        WHERE vec_id < $BatchQueryMax) q CROSS JOIN dims d
       |)
       |SELECT g.query_id, g.dim,
       |  CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       |  ${Hashing.microSql(s"COALESCE(h.hits, 0) * 1.0 / $TopK")}
       |    AS recall_micro
       |FROM grid g LEFT JOIN h
       |  ON g.query_id = h.query_id AND g.dim = h.dim
       |ORDER BY g.query_id, g.dim""".stripMargin
  }

  /** V22 oracle: the window formulation — rank-1 same-label row per
    * query, its global rank recomputed by the same strictly-better
    * count. `1.0 / first_rank` is one IEEE division on both engines.
    */
  private val mrrOracle =
    s"""$evCte,
       |lbl AS (SELECT DISTINCT vec_id, label FROM ev),
       |dots AS (
       |  SELECT q.vec_id AS query_id, e.vec_id, sum(e.v * q.v) AS dot
       |  FROM ev e JOIN ev q ON e.i = q.i AND q.vec_id < $BatchQueryMax
       |  WHERE e.vec_id <> q.vec_id GROUP BY 1, 2
       |),
       |scl AS (
       |  SELECT d.query_id, ql.label AS q_label, d.vec_id,
       |    cl.label AS label,
       |    ${Hashing.microSql("d.dot / (ne.nrm * nq.nrm)")} AS cos_micro
       |  FROM dots d JOIN nrm ne ON d.vec_id = ne.vec_id
       |              JOIN nrm nq ON d.query_id = nq.vec_id
       |              JOIN lbl ql ON d.query_id = ql.vec_id
       |              JOIN lbl cl ON d.vec_id = cl.vec_id
       |),
       |best AS (
       |  SELECT query_id, q_label, vec_id AS best_vec_id,
       |         cos_micro AS best_cos_micro
       |  FROM (
       |    SELECT query_id, q_label, vec_id, cos_micro,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY cos_micro DESC, vec_id) AS rn
       |    FROM scl WHERE label = q_label
       |  ) WHERE rn = 1
       |),
       |bt AS (
       |  SELECT s.query_id, count(*) AS n_better
       |  FROM scl s JOIN best b ON s.query_id = b.query_id
       |  WHERE s.cos_micro > b.best_cos_micro
       |     OR (s.cos_micro = b.best_cos_micro
       |         AND s.vec_id < b.best_vec_id)
       |  GROUP BY 1
       |)
       |SELECT b.query_id, b.q_label, b.best_vec_id, b.best_cos_micro,
       |  CAST(COALESCE(bt.n_better, 0) + 1 AS BIGINT) AS first_rank,
       |  ${Hashing.microSql("1.0 / (COALESCE(bt.n_better, 0) + 1)")}
       |    AS rr_micro
       |FROM best b LEFT JOIN bt ON b.query_id = bt.query_id
       |ORDER BY b.query_id""".stripMargin

  /** V32 oracle: same scored relation as the MRR oracle; the discount
    * weights and their prefix sums are the SAME integer literals the
    * Spark plan broadcasts ([[SimilarityOps.ndcgWeightMicro]] is the
    * single source) — neither engine evaluates a logarithm.
    */
  private val ndcgOracle: String = {
    val wVals = (1 to TopK)
      .map(i => s"($i, ${SimilarityOps.ndcgWeightMicro(i)})")
      .mkString(", ")
    val cumVals = (1 to TopK)
      .map { m =>
        val c = (1 to m).map(SimilarityOps.ndcgWeightMicro).sum
        s"($m, $c)"
      }
      .mkString(", ")
    s"""$evCte,
       |lbl AS (SELECT DISTINCT vec_id, label FROM ev),
       |dots AS (
       |  SELECT q.vec_id AS query_id, e.vec_id, sum(e.v * q.v) AS dot
       |  FROM ev e JOIN ev q ON e.i = q.i AND q.vec_id < $BatchQueryMax
       |  WHERE e.vec_id <> q.vec_id GROUP BY 1, 2
       |),
       |scl AS (
       |  SELECT d.query_id, ql.label AS q_label, d.vec_id,
       |    cl.label AS label,
       |    ${Hashing.microSql("d.dot / (ne.nrm * nq.nrm)")} AS cos_micro
       |  FROM dots d JOIN nrm ne ON d.vec_id = ne.vec_id
       |              JOIN nrm nq ON d.query_id = nq.vec_id
       |              JOIN lbl ql ON d.query_id = ql.vec_id
       |              JOIN lbl cl ON d.vec_id = cl.vec_id
       |),
       |ntopk AS (
       |  SELECT query_id, q_label, label, rn FROM (
       |    SELECT query_id, q_label, label,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY cos_micro DESC, vec_id) AS rn
       |    FROM scl
       |  ) WHERE rn <= $TopK
       |),
       |wt(rk, w_micro) AS (VALUES $wVals),
       |cw(m, cum_micro) AS (VALUES $cumVals),
       |dcg AS (
       |  SELECT t.query_id, t.q_label,
       |    CAST(sum(CASE WHEN t.label = t.q_label THEN w.w_micro
       |             ELSE 0 END) AS BIGINT) AS dcg_micro,
       |    CAST(sum(CASE WHEN t.label = t.q_label THEN 1 ELSE 0 END)
       |         AS BIGINT) AS hits
       |  FROM ntopk t JOIN wt w ON t.rn = w.rk GROUP BY 1, 2
       |),
       |lc AS (SELECT label AS q_label, CAST(count(*) AS BIGINT)
       |         AS n_label
       |       FROM embeddings GROUP BY 1)
       |SELECT d.query_id, d.q_label,
       |  CAST(lc.n_label - 1 AS BIGINT) AS n_rel, d.hits, d.dcg_micro,
       |  CAST(c.cum_micro AS BIGINT) AS idcg_micro,
       |  CAST((d.dcg_micro * 1000000) // c.cum_micro AS BIGINT)
       |    AS ndcg_micro
       |FROM dcg d JOIN lc USING (q_label)
       |JOIN cw c ON c.m = least($TopK, lc.n_label - 1)
       |ORDER BY d.query_id""".stripMargin
  }

  /** V33 oracle: the V12 kNN graph verbatim (same k-means chain, same
    * pair CTEs), read as a k-occurrence histogram with antihubs via
    * the corpus left join.
    */
  private val hubnessOracle: String = {
    val rounds = SimilarityOps.KmRounds
    s"""$kmeansTrainedCtes,
       |kpr AS MATERIALIZED (
       |  SELECT a1.vec_id AS d1, a2.vec_id AS d2, sum(x.v * y.v) AS dot
       |  FROM a$rounds a1 JOIN a$rounds a2
       |    ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id
       |  JOIN ev x ON x.vec_id = a1.vec_id
       |  JOIN ev y ON y.vec_id = a2.vec_id AND y.i = x.i
       |  GROUP BY 1, 2
       |),
       |kcm AS MATERIALIZED (
       |  SELECT p.d1, p.d2,
       |    ${Hashing.microSql("p.dot / (n1.nrm * n2.nrm)")} AS cos_micro
       |  FROM kpr p JOIN nrm n1 ON p.d1 = n1.vec_id
       |             JOIN nrm n2 ON p.d2 = n2.vec_id
       |),
       |dcos AS (
       |  SELECT d1, d2, cos_micro FROM kcm
       |  UNION ALL
       |  SELECT d2 AS d1, d1 AS d2, cos_micro FROM kcm
       |),
       |htopk AS (
       |  SELECT d1, d2 FROM (
       |    SELECT d1, d2, row_number() OVER (PARTITION BY d1
       |      ORDER BY cos_micro DESC, d2) AS rk
       |    FROM dcos
       |  ) WHERE rk <= $KnnK
       |),
       |occ AS (SELECT d2 AS vec_id, CAST(count(*) AS BIGINT) AS c
       |        FROM htopk GROUP BY 1)
       |SELECT k_occ, CAST(count(*) AS BIGINT) AS n_vecs FROM (
       |  SELECT COALESCE(o.c, 0) AS k_occ
       |  FROM embeddings e LEFT JOIN occ o ON e.vec_id = o.vec_id
       |) GROUP BY 1 ORDER BY k_occ""".stripMargin
  }

  /** V44 oracle: the V33 kNN edge relation verbatim (htopk —
    * MATERIALIZED here because reciprocity references it twice; DuckDB
    * 1.0 inlines plain CTEs per reference), then the swapped-key
    * self-join and the corpus-left-join census.
    */
  private val knnRecipOracle: String = {
    val rounds = SimilarityOps.KmRounds
    s"""$kmeansTrainedCtes,
       |kpr AS MATERIALIZED (
       |  SELECT a1.vec_id AS d1, a2.vec_id AS d2, sum(x.v * y.v) AS dot
       |  FROM a$rounds a1 JOIN a$rounds a2
       |    ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id
       |  JOIN ev x ON x.vec_id = a1.vec_id
       |  JOIN ev y ON y.vec_id = a2.vec_id AND y.i = x.i
       |  GROUP BY 1, 2
       |),
       |kcm AS MATERIALIZED (
       |  SELECT p.d1, p.d2,
       |    ${Hashing.microSql("p.dot / (n1.nrm * n2.nrm)")} AS cos_micro
       |  FROM kpr p JOIN nrm n1 ON p.d1 = n1.vec_id
       |             JOIN nrm n2 ON p.d2 = n2.vec_id
       |),
       |dcos AS (
       |  SELECT d1, d2, cos_micro FROM kcm
       |  UNION ALL
       |  SELECT d2 AS d1, d1 AS d2, cos_micro FROM kcm
       |),
       |htopk AS MATERIALIZED (
       |  SELECT d1, d2 FROM (
       |    SELECT d1, d2, row_number() OVER (PARTITION BY d1
       |      ORDER BY cos_micro DESC, d2) AS rk
       |    FROM dcos
       |  ) WHERE rk <= $KnnK
       |),
       |rec AS (
       |  SELECT t1.d1 AS vec_id, CAST(count(*) AS BIGINT) AS c
       |  FROM htopk t1 JOIN htopk t2
       |    ON t1.d1 = t2.d2 AND t1.d2 = t2.d1
       |  GROUP BY 1
       |)
       |SELECT n_recip, CAST(count(*) AS BIGINT) AS n_vecs FROM (
       |  SELECT COALESCE(r.c, 0) AS n_recip
       |  FROM embeddings e LEFT JOIN rec r ON e.vec_id = r.vec_id
       |) GROUP BY 1 ORDER BY n_recip""".stripMargin
  }

  /** V45 oracle: the V33/V44 kNN edge relation verbatim, distances as
    * clamped micro dissimilarities, each ln term micro-floored from a
    * ratio of exact integers, the per-vector LID one positive integer
    * floor-division, and the census off the a-chain assignment.
    */
  private val lidOracle: String = {
    val rounds = SimilarityOps.KmRounds
    val term = Hashing.microSql("ln(CAST(p.dk AS DOUBLE) / t.dis)")
    s"""$kmeansTrainedCtes,
       |kpr AS MATERIALIZED (
       |  SELECT a1.vec_id AS d1, a2.vec_id AS d2, sum(x.v * y.v) AS dot
       |  FROM a$rounds a1 JOIN a$rounds a2
       |    ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id
       |  JOIN ev x ON x.vec_id = a1.vec_id
       |  JOIN ev y ON y.vec_id = a2.vec_id AND y.i = x.i
       |  GROUP BY 1, 2
       |),
       |kcm AS MATERIALIZED (
       |  SELECT p.d1, p.d2,
       |    ${Hashing.microSql("p.dot / (n1.nrm * n2.nrm)")} AS cos_micro
       |  FROM kpr p JOIN nrm n1 ON p.d1 = n1.vec_id
       |             JOIN nrm n2 ON p.d2 = n2.vec_id
       |),
       |dcos AS (
       |  SELECT d1, d2, cos_micro FROM kcm
       |  UNION ALL
       |  SELECT d2 AS d1, d1 AS d2, cos_micro FROM kcm
       |),
       |htopk AS MATERIALIZED (
       |  SELECT d1, greatest(1000000 - cos_micro, 1) AS dis FROM (
       |    SELECT d1, d2, cos_micro, row_number() OVER (PARTITION BY d1
       |      ORDER BY cos_micro DESC, d2) AS rk
       |    FROM dcos
       |  ) WHERE rk <= $KnnK
       |),
       |prof AS (
       |  SELECT d1, CAST(count(*) AS BIGINT) AS k_x,
       |    CAST(max(dis) AS BIGINT) AS dk
       |  FROM htopk GROUP BY 1),
       |lt AS (
       |  SELECT t.d1, max(p.k_x) AS k_x,
       |    CAST(sum($term) AS BIGINT) AS sum_ln
       |  FROM htopk t JOIN prof p USING (d1) GROUP BY 1),
       |lv AS (
       |  SELECT d1, CASE WHEN sum_ln > 0
       |      THEN (k_x * 1000000 * 1000000) // sum_ln
       |      ELSE CAST(0 AS BIGINT) END AS lid_micro
       |  FROM lt)
       |SELECT a.cid AS cluster, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(CASE WHEN COALESCE(l.lid_micro, 0) > 0
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
       |  CAST(sum(CASE WHEN COALESCE(l.lid_micro, 0) = 0
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_unscored,
       |  CAST(CASE WHEN sum(CASE WHEN COALESCE(l.lid_micro, 0) > 0
       |      THEN 1 ELSE 0 END) > 0
       |    THEN sum(CASE WHEN COALESCE(l.lid_micro, 0) > 0
       |        THEN l.lid_micro ELSE 0 END)
       |      // sum(CASE WHEN COALESCE(l.lid_micro, 0) > 0
       |        THEN 1 ELSE 0 END)
       |    ELSE 0 END AS BIGINT) AS lid_mean_micro,
       |  CAST(COALESCE(min(CASE WHEN l.lid_micro > 0
       |    THEN l.lid_micro END), 0) AS BIGINT) AS lid_min_micro,
       |  CAST(COALESCE(max(CASE WHEN l.lid_micro > 0
       |    THEN l.lid_micro END), 0) AS BIGINT) AS lid_max_micro
       |FROM a$rounds a LEFT JOIN lv l ON a.vec_id = l.d1
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** V23 oracle: same scored relation, pre-filter ranking vs
    * filtered unfiltered ranking, dense per-query grid.
    */
  private val annFilteredOracle =
    s"""$evCte,
       |lbl AS (SELECT DISTINCT vec_id, label FROM ev),
       |dots AS (
       |  SELECT q.vec_id AS query_id, e.vec_id, sum(e.v * q.v) AS dot
       |  FROM ev e JOIN ev q ON e.i = q.i AND q.vec_id < $BatchQueryMax
       |  WHERE e.vec_id <> q.vec_id GROUP BY 1, 2
       |),
       |sc AS (
       |  SELECT d.query_id, d.vec_id, l.label,
       |    ${Hashing.microSql("d.dot / (ne.nrm * nq.nrm)")} AS cos_micro
       |  FROM dots d JOIN nrm ne ON d.vec_id = ne.vec_id
       |              JOIN nrm nq ON d.query_id = nq.vec_id
       |              JOIN lbl l ON d.vec_id = l.vec_id
       |),
       |pre AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY cos_micro DESC, vec_id) AS rn
       |    FROM sc WHERE label < $FilterLabelMax
       |  ) WHERE rn <= $TopK
       |),
       |post AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, label,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY cos_micro DESC, vec_id) AS rn
       |    FROM sc
       |  ) WHERE rn <= $TopK AND label < $FilterLabelMax
       |),
       |np AS (SELECT query_id, count(*) AS n_post FROM post GROUP BY 1),
       |h AS (
       |  SELECT p.query_id, count(*) AS hits
       |  FROM post p JOIN pre r
       |    ON p.query_id = r.query_id AND p.vec_id = r.vec_id
       |  GROUP BY 1
       |)
       |SELECT q.query_id,
       |  CAST(COALESCE(np.n_post, 0) AS BIGINT) AS n_post,
       |  CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       |  ${Hashing.microSql(s"COALESCE(h.hits, 0) * 1.0 / $TopK")}
       |    AS recall_micro
       |FROM (SELECT DISTINCT vec_id AS query_id FROM embeddings
       |      WHERE vec_id < $BatchQueryMax) q
       |LEFT JOIN np ON q.query_id = np.query_id
       |LEFT JOIN h ON q.query_id = h.query_id
       |ORDER BY q.query_id""".stripMargin

  // ------------------------------------------------ graph ANN (V35)

  /** V35 dials: out-degree m, beam width, synchronous rounds. Small
    * enough that the unrolled oracle CTE chain stays tractable at
    * sf0.01; the operator takes them as parameters.
    */
  val GraphM = 8
  val GraphBeam = 16
  val GraphRounds = 4

  def qGraphAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    SimilarityOps.graphAnn(e, cents, BatchQueryMax, GraphM, GraphBeam,
      GraphRounds, TopK, NCentroids)
  }

  /** V46 dials: the swept beam widths — the widest is [[GraphBeam]],
    * so the sweep's top slice IS the V35 configuration (spec-pinned
    * equal).
    */
  val BeamSweep = Seq(4, 8, GraphBeam)

  def qBeamCost(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    SimilarityOps.graphAnnSweep(e, cents, BatchQueryMax, GraphM,
      BeamSweep, GraphRounds, TopK, NCentroids)
  }

  /** V35 oracle: trained CTEs give the assignment and the md5-ordered
    * seeds; the runner-up cluster is rank 2 of the same (score DESC,
    * cid) order; edges, entry, and the three beam rounds replay as
    * MATERIALIZED CTEs (the k-means/PCA iterative-oracle discipline);
    * truth and recall ride the same score relation.
    */
  private val graphAnnOracle: String = {
    val r = SimilarityOps.KmRounds
    val roundCtes = (1 to GraphRounds).map { t =>
      s"""gf$t AS (
         |  SELECT b.query_id, g.d2 AS vec_id
         |  FROM gb${t - 1} b JOIN gedges g ON b.vec_id = g.d1
         |  WHERE g.d2 <> b.query_id
         |),
         |gv$t AS MATERIALIZED (
         |  SELECT DISTINCT query_id, vec_id FROM (
         |    SELECT query_id, vec_id FROM gv${t - 1}
         |    UNION ALL SELECT query_id, vec_id FROM gf$t)
         |),
         |gb$t AS MATERIALIZED (
         |  SELECT query_id, vec_id FROM (
         |    SELECT v.query_id, v.vec_id,
         |      row_number() OVER (PARTITION BY v.query_id
         |        ORDER BY s.cos_micro DESC, v.vec_id) AS rn
         |    FROM gv$t v JOIN gqs s ON v.query_id = s.query_id
         |                          AND v.vec_id = s.vec_id
         |  ) WHERE rn <= $GraphBeam
         |)""".stripMargin
    }.mkString(",\n")
    s"""$kmeansTrainedCtes,
       |gmr AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY score DESC, cid) AS rn
       |  FROM sc$r
       |),
       |gpr AS (SELECT vec_id, cid FROM gmr WHERE rn <= 2),
       |gcd AS MATERIALIZED (
       |  SELECT p.vec_id AS d1, a.vec_id AS d2, sum(x.v * y.v) AS dot
       |  FROM gpr p JOIN a$r a ON a.cid = p.cid AND a.vec_id <> p.vec_id
       |  JOIN ev x ON x.vec_id = p.vec_id
       |  JOIN ev y ON y.vec_id = a.vec_id AND y.i = x.i
       |  GROUP BY 1, 2
       |),
       |gcm AS MATERIALIZED (
       |  SELECT c.d1, c.d2,
       |    ${Hashing.microSql("c.dot / (n1.nrm * n2.nrm)")} AS cos_micro
       |  FROM gcd c JOIN nrm n1 ON c.d1 = n1.vec_id
       |             JOIN nrm n2 ON c.d2 = n2.vec_id
       |),
       |gfwd AS (
       |  SELECT d1, d2 FROM (
       |    SELECT d1, d2, row_number() OVER (PARTITION BY d1
       |      ORDER BY cos_micro DESC, d2) AS rk FROM gcm
       |  ) WHERE rk <= $GraphM
       |),
       |gedges AS MATERIALIZED (
       |  SELECT DISTINCT d1, d2 FROM (
       |    SELECT d1, d2 FROM gfwd
       |    UNION ALL SELECT d2 AS d1, d1 AS d2 FROM gfwd)
       |),
       |gqd AS (
       |  SELECT q.vec_id AS query_id, e.vec_id, sum(e.v * q.v) AS dot
       |  FROM ev e JOIN ev q ON e.i = q.i AND q.vec_id < $BatchQueryMax
       |  WHERE e.vec_id <> q.vec_id GROUP BY 1, 2
       |),
       |gqs AS MATERIALIZED (
       |  SELECT d.query_id, d.vec_id,
       |    ${Hashing.microSql("d.dot / (ne.nrm * nq.nrm)")} AS cos_micro
       |  FROM gqd d JOIN nrm ne ON d.vec_id = ne.vec_id
       |             JOIN nrm nq ON d.query_id = nq.vec_id
       |),
       |gent AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT s.query_id, s.vec_id,
       |      row_number() OVER (PARTITION BY s.query_id
       |        ORDER BY s.cos_micro DESC, s.vec_id) AS rn
       |    FROM gqs s JOIN seeds se ON s.vec_id = se.vec_id
       |  ) WHERE rn = 1
       |),
       |gv0 AS MATERIALIZED (SELECT query_id, vec_id FROM gent),
       |gb0 AS MATERIALIZED (SELECT query_id, vec_id FROM gent),
       |$roundCtes,
       |gans AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT v.query_id, v.vec_id,
       |      row_number() OVER (PARTITION BY v.query_id
       |        ORDER BY s.cos_micro DESC, v.vec_id) AS rn
       |    FROM gv$GraphRounds v JOIN gqs s ON v.query_id = s.query_id
       |                                    AND v.vec_id = s.vec_id
       |  ) WHERE rn <= $TopK
       |),
       |gtr AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos_micro DESC, vec_id) AS rn
       |    FROM gqs
       |  ) WHERE rn <= $TopK
       |),
       |gh AS (
       |  SELECT a.query_id, CAST(count(*) AS BIGINT) AS hits
       |  FROM gans a JOIN gtr t ON a.query_id = t.query_id
       |                        AND a.vec_id = t.vec_id
       |  GROUP BY 1
       |),
       |gnv AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_visited
       |  FROM gv$GraphRounds GROUP BY 1
       |)
       |SELECT n.query_id, n.n_visited,
       |  COALESCE(h.hits, 0) AS hits,
       |  CAST((COALESCE(h.hits, 0) * 1000000) // $TopK AS BIGINT)
       |    AS recall_micro
       |FROM gnv n LEFT JOIN gh h USING (query_id)
       |ORDER BY n.query_id""".stripMargin
  }

  /** V46 oracle: the V35 oracle's shared prefix (edges, query scores,
    * entry, truth) built ONCE, then one _w-suffixed round chain per
    * swept beam width, finals UNION ALL'd with the beam literal.
    */
  private val beamCostOracle: String = {
    val r = SimilarityOps.KmRounds
    def chain(bw: Int): String = {
      val rounds = (1 to GraphRounds).map { t =>
        s"""gf${t}_w$bw AS (
           |  SELECT b.query_id, g.d2 AS vec_id
           |  FROM gb${t - 1}_w$bw b JOIN gedges g ON b.vec_id = g.d1
           |  WHERE g.d2 <> b.query_id
           |),
           |gv${t}_w$bw AS MATERIALIZED (
           |  SELECT DISTINCT query_id, vec_id FROM (
           |    SELECT query_id, vec_id FROM gv${t - 1}_w$bw
           |    UNION ALL SELECT query_id, vec_id FROM gf${t}_w$bw)
           |),
           |gb${t}_w$bw AS MATERIALIZED (
           |  SELECT query_id, vec_id FROM (
           |    SELECT v.query_id, v.vec_id,
           |      row_number() OVER (PARTITION BY v.query_id
           |        ORDER BY s.cos_micro DESC, v.vec_id) AS rn
           |    FROM gv${t}_w$bw v JOIN gqs s ON v.query_id = s.query_id
           |                                 AND v.vec_id = s.vec_id
           |  ) WHERE rn <= $bw
           |)""".stripMargin
      }.mkString(",\n")
      s"""gv0_w$bw AS MATERIALIZED (SELECT query_id, vec_id FROM gent),
         |gb0_w$bw AS MATERIALIZED (SELECT query_id, vec_id FROM gent),
         |$rounds,
         |gans_w$bw AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT v.query_id, v.vec_id,
         |      row_number() OVER (PARTITION BY v.query_id
         |        ORDER BY s.cos_micro DESC, v.vec_id) AS rn
         |    FROM gv${GraphRounds}_w$bw v
         |    JOIN gqs s ON v.query_id = s.query_id
         |              AND v.vec_id = s.vec_id
         |  ) WHERE rn <= $TopK
         |),
         |gh_w$bw AS (
         |  SELECT a.query_id, CAST(count(*) AS BIGINT) AS hits
         |  FROM gans_w$bw a JOIN gtr t ON a.query_id = t.query_id
         |                             AND a.vec_id = t.vec_id
         |  GROUP BY 1
         |),
         |gnv_w$bw AS (
         |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_visited
         |  FROM gv${GraphRounds}_w$bw GROUP BY 1
         |)""".stripMargin
    }
    val beamSelects = BeamSweep.map { bw =>
      s"""SELECT CAST($bw AS BIGINT) AS beam_w, n.query_id, n.n_visited,
         |  COALESCE(h.hits, 0) AS hits,
         |  CAST((COALESCE(h.hits, 0) * 1000000) // $TopK AS BIGINT)
         |    AS recall_micro
         |FROM gnv_w$bw n LEFT JOIN gh_w$bw h USING (query_id)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$kmeansTrainedCtes,
       |gmr AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY score DESC, cid) AS rn
       |  FROM sc$r
       |),
       |gpr AS (SELECT vec_id, cid FROM gmr WHERE rn <= 2),
       |gcd AS MATERIALIZED (
       |  SELECT p.vec_id AS d1, a.vec_id AS d2, sum(x.v * y.v) AS dot
       |  FROM gpr p JOIN a$r a ON a.cid = p.cid AND a.vec_id <> p.vec_id
       |  JOIN ev x ON x.vec_id = p.vec_id
       |  JOIN ev y ON y.vec_id = a.vec_id AND y.i = x.i
       |  GROUP BY 1, 2
       |),
       |gcm AS MATERIALIZED (
       |  SELECT c.d1, c.d2,
       |    ${Hashing.microSql("c.dot / (n1.nrm * n2.nrm)")} AS cos_micro
       |  FROM gcd c JOIN nrm n1 ON c.d1 = n1.vec_id
       |             JOIN nrm n2 ON c.d2 = n2.vec_id
       |),
       |gfwd AS (
       |  SELECT d1, d2 FROM (
       |    SELECT d1, d2, row_number() OVER (PARTITION BY d1
       |      ORDER BY cos_micro DESC, d2) AS rk FROM gcm
       |  ) WHERE rk <= $GraphM
       |),
       |gedges AS MATERIALIZED (
       |  SELECT DISTINCT d1, d2 FROM (
       |    SELECT d1, d2 FROM gfwd
       |    UNION ALL SELECT d2 AS d1, d1 AS d2 FROM gfwd)
       |),
       |gqd AS (
       |  SELECT q.vec_id AS query_id, e.vec_id, sum(e.v * q.v) AS dot
       |  FROM ev e JOIN ev q ON e.i = q.i AND q.vec_id < $BatchQueryMax
       |  WHERE e.vec_id <> q.vec_id GROUP BY 1, 2
       |),
       |gqs AS MATERIALIZED (
       |  SELECT d.query_id, d.vec_id,
       |    ${Hashing.microSql("d.dot / (ne.nrm * nq.nrm)")} AS cos_micro
       |  FROM gqd d JOIN nrm ne ON d.vec_id = ne.vec_id
       |             JOIN nrm nq ON d.query_id = nq.vec_id
       |),
       |gent AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT s.query_id, s.vec_id,
       |      row_number() OVER (PARTITION BY s.query_id
       |        ORDER BY s.cos_micro DESC, s.vec_id) AS rn
       |    FROM gqs s JOIN seeds se ON s.vec_id = se.vec_id
       |  ) WHERE rn = 1
       |),
       |gtr AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos_micro DESC, vec_id) AS rn
       |    FROM gqs
       |  ) WHERE rn <= $TopK
       |),
       |${BeamSweep.map(chain).mkString(",\n")}
       |$beamSelects
       |ORDER BY beam_w, query_id""".stripMargin
  }

  // -------------------------------------- reciprocal-rank fusion (V34)

  /** V34: hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    * SIGIR 2009) — the standard serving pattern the engine can now
    * express end-to-end: for each query, fuse the DENSE ranking (exact
    * brute-force cosine over the embedding column, the q_ann_batch
    * shape) with the LEXICAL ranking (X45's BM25, query-by-example:
    * the query document's own top-[[RrfQTerms]] terms) by
    * RRF(d) = Σ_lists 1e6 div (60 + rank_list(d)), the k = 60 constant
    * from the paper. Rank-based fusion needs no score calibration
    * between systems — exactly why serving stacks use it over score
    * interpolation.
    *
    * Exactness: both input rankings are integer ranks from already-
    * proven machinery (cosine micro + (cos desc, id) ties; BM25
    * integer-micro weights + (score desc, id) ties); the fusion score
    * is a SUM OF INTEGER DIVISIONS (1e6 div (60+r), both operands
    * positive so Spark div ≡ DuckDB //) — no doubles anywhere past the
    * two proven scoring trees. A doc absent from one list contributes
    * 0 and reports rank 0 (NULL-free output keeps the cross-engine
    * compare trivial).
    *
    * Scale shape: the query set is bounded and BROADCAST on both arms
    * (dense: query vectors vs corpus, the whitelisted q_ann_batch
    * BNLJ; lexical: ≤ Q·[[RrfQTerms]] (query, term) rows riding the
    * X45 broadcast-query discipline — tf is one corpus-keyed partial-
    * agg'd Exchange filtered by the broadcast term set). Both rank
    * windows partition BY QUERY over candidate sets and cut at
    * [[RrfDepth]] (WindowGroupLimit); the fusion joins two
    * ≤ Q·depth-row relations. Nothing downstream of the two scoring
    * Exchanges scales with the corpus.
    */
  val RrfQTerms = 8
  val RrfDepth = 20
  val RrfK = 10
  val RrfC = 60

  def qRrf(spark: SparkSession, dir: String): DataFrame =
    hybridRrf(Tables.documents(spark, dir), emb(spark, dir))

  def hybridRrf(docs: DataFrame, embs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Hashing.micro
    import graft.functions.vector.cosineSim
    // dense arm: exact cosine vs the broadcast query-vector set
    val qs = embs.filter(col("vec_id") < BatchQueryMax)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val wD = Window.partitionBy("query_id")
      .orderBy(col("cos_micro").desc, col("doc_id"))
    val dense = embs.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        micro(cosineSim(col("embedding"), col("qe"))).as("cos_micro"))
      .withColumn("rn", row_number().over(wD))
      .filter(col("rn") <= RrfDepth)
      .select(col("query_id"), col("doc_id"),
        col("rn").cast("long").as("dense_rank"))
    // lexical arm: BM25 (X45's exact tree) against each query doc's
    // own top terms
    val occ = TextOps.parallelized(docs).select(col("doc_id"),
      explode(TextOps.tokens(col("text"))).as("t"))
    val wq = Window.partitionBy("doc_id")
      .orderBy(col("c").desc, col("t"))
    val qt = occ.filter(col("doc_id") < BatchQueryMax)
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .withColumn("tr", row_number().over(wq))
      .filter(col("tr") <= RrfQTerms)
      .select(col("doc_id").as("query_id"), col("t"))
    val qTerms = qt.select("t").distinct()
    val lens = docs.select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("dl"))
    val totals = lens.agg(sum("dl").as("tot"),
      count(lit(1)).as("n_docs"))
    val tf = occ.join(broadcast(qTerms), Seq("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("t").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(totals))
      .select(col("t"),
        micro(log((col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)))).as("idf_micro"))
    val avg = totals.select((col("tot") / col("n_docs")).as("avgdl"))
    val wL = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id"))
    val lex = tf.join(broadcast(qt), Seq("t"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(dfc), Seq("t"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(avg))
      .select(col("query_id"), col("doc_id"),
        floor(col("idf_micro") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))))
          .cast("long").as("w"))
      .groupBy("query_id", "doc_id").agg(sum("w").as("score_micro"))
      .withColumn("rn", row_number().over(wL))
      .filter(col("rn") <= RrfDepth)
      .select(col("query_id"), col("doc_id"),
        col("rn").cast("long").as("lex_rank"))
    // fuse: integer RRF, absent-from-list reads rank 0 / contributes 0
    val fused = dense
      .join(lex, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("dense_rank"), lit(0L)).as("dense_rank"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"))
      .withColumn("rrf_score",
        when(col("dense_rank") > 0L,
          expr(s"1000000 div ($RrfC + dense_rank)")).otherwise(0L) +
        when(col("lex_rank") > 0L,
          expr(s"1000000 div ($RrfC + lex_rank)")).otherwise(0L))
    val wF = Window.partitionBy("query_id")
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rn", row_number().over(wF))
      .filter(col("rn") <= RrfK)
      .select(col("query_id"), col("rn").cast("long").as("rank"),
        col("doc_id"), col("dense_rank"), col("lex_rank"),
        col("rrf_score"))
      .orderBy("query_id", "rank")
  }

  private val rrfOracle: String = {
    val idfExpr = "ln((n_docs - df + CAST(0.5 AS DOUBLE)) / " +
      "(df + CAST(0.5 AS DOUBLE)))"
    s"""$evCte,
       |dots AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
       |    sum(e.v * q.v) AS dot
       |  FROM ev e JOIN ev q ON e.i = q.i AND q.vec_id < $BatchQueryMax
       |  WHERE e.vec_id <> q.vec_id GROUP BY 1, 2
       |),
       |dsc AS (
       |  SELECT d.query_id, d.doc_id,
       |    ${Hashing.microSql("d.dot / (ne.nrm * nq.nrm)")} AS cos_micro
       |  FROM dots d JOIN nrm ne ON d.doc_id = ne.vec_id
       |              JOIN nrm nq ON d.query_id = nq.vec_id
       |),
       |dense AS (
       |  SELECT query_id, doc_id, CAST(rn AS BIGINT) AS dense_rank
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_micro DESC, doc_id) AS rn FROM dsc
       |  ) WHERE rn <= $RrfDepth
       |),
       |tok AS (SELECT doc_id, string_split(text, ' ') AS toks
       |        FROM documents),
       |occ AS (SELECT doc_id, unnest(toks) AS t FROM tok),
       |qtc AS (
       |  SELECT doc_id, t, count(*) AS c FROM occ
       |  WHERE doc_id < $BatchQueryMax GROUP BY 1, 2
       |),
       |qt AS (
       |  SELECT doc_id AS query_id, t FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY c DESC, t) AS tr FROM qtc
       |  ) WHERE tr <= $RrfQTerms
       |),
       |qterms AS (SELECT DISTINCT t FROM qt),
       |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl
       |         FROM tok),
       |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS tot,
       |               count(*) AS n_docs FROM lens),
       |tf AS (
       |  SELECT o.doc_id, o.t, count(*) AS tf
       |  FROM occ o JOIN qterms USING (t) GROUP BY 1, 2
       |),
       |dfc AS (
       |  SELECT t, ${Hashing.microSql(idfExpr)} AS idf_micro
       |  FROM (SELECT t, count(*) AS df FROM tf GROUP BY 1), tot
       |),
       |avg AS (SELECT tot / n_docs AS avgdl FROM tot),
       |lw AS (
       |  SELECT q.query_id, tf.doc_id,
       |    CAST(floor(d.idf_micro * (tf.tf * CAST(2.2 AS DOUBLE)) /
       |         (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
       |          CAST(0.75 AS DOUBLE) * (l.dl / a.avgdl))))
       |         AS BIGINT) AS w
       |  FROM tf JOIN qt q USING (t) JOIN dfc d USING (t)
       |       JOIN lens l ON tf.doc_id = l.doc_id, avg a
       |  WHERE tf.doc_id <> q.query_id
       |),
       |ls AS (
       |  SELECT query_id, doc_id, CAST(sum(w) AS BIGINT) AS score_micro
       |  FROM lw GROUP BY 1, 2
       |),
       |lex AS (
       |  SELECT query_id, doc_id, CAST(rn AS BIGINT) AS lex_rank
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_micro DESC, doc_id) AS rn FROM ls
       |  ) WHERE rn <= $RrfDepth
       |),
       |fused AS (
       |  SELECT COALESCE(d.query_id, l.query_id) AS query_id,
       |         COALESCE(d.doc_id, l.doc_id) AS doc_id,
       |         COALESCE(d.dense_rank, 0) AS dense_rank,
       |         COALESCE(l.lex_rank, 0) AS lex_rank,
       |    (CASE WHEN d.dense_rank IS NOT NULL
       |          THEN 1000000 // ($RrfC + d.dense_rank) ELSE 0 END) +
       |    (CASE WHEN l.lex_rank IS NOT NULL
       |          THEN 1000000 // ($RrfC + l.lex_rank) ELSE 0 END)
       |      AS rrf_score
       |  FROM dense d FULL OUTER JOIN lex l
       |    ON d.query_id = l.query_id AND d.doc_id = l.doc_id
       |)
       |SELECT query_id, CAST(rn AS BIGINT) AS rank, doc_id,
       |  CAST(dense_rank AS BIGINT) AS dense_rank,
       |  CAST(lex_rank AS BIGINT) AS lex_rank,
       |  CAST(rrf_score AS BIGINT) AS rrf_score
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_score DESC, doc_id) AS rn FROM fused
       |) WHERE rn <= $RrfK
       |ORDER BY query_id, rank""".stripMargin
  }

  /** V36: DBSCAN neighborhood bar (micro cosine ≥ 0.3 within the
    * trained cell — the [[EmbedCosMin]] near-dup bar) and core density
    * (≥ 3 neighbors, self excluded). At the corpus's cosine
    * concentration (within-cell pairs center near 0) this yields the
    * genuine three-way split: dense cores, attached borders, and a
    * large noise majority — the "outlier candidate" read.
    */
  val DbscanCosMin = 300000L
  val DbscanMinPts = 3

  /** V36: deterministic cluster-blocked DBSCAN under the same trained
    * codebook as q_ann_ivf — per-vector density role + component.
    */
  def qDbscan(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    SimilarityOps.dbscan(e, cents, DbscanCosMin, DbscanMinPts)
      .orderBy("vec_id")
  }

  /** V36 oracle: the semDedup pair chain (threshold at the DBSCAN bar),
    * mirrored degrees, core set, and the D7 recursive-reachability
    * component chain over the core-core subgraph; border adoption is a
    * MIN over core-neighbor components. Every multiply-referenced CTE
    * is MATERIALIZED (the DuckDB 1.0 inline-expansion gotcha).
    */
  private val dbscanOracle: String = {
    val rounds = SimilarityOps.KmRounds
    s"""${kmeansTrainedCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |dd AS MATERIALIZED (
       |  SELECT a1.vec_id AS d1, a2.vec_id AS d2, sum(x.v * y.v) AS dot
       |  FROM a$rounds a1 JOIN a$rounds a2
       |    ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id
       |  JOIN ev x ON x.vec_id = a1.vec_id
       |  JOIN ev y ON y.vec_id = a2.vec_id AND y.i = x.i
       |  GROUP BY 1, 2
       |),
       |dpr AS MATERIALIZED (
       |  SELECT d1, d2 FROM (
       |    SELECT p.d1, p.d2,
       |      ${Hashing.microSql("p.dot / (n1.nrm * n2.nrm)")} AS cm
       |    FROM dd p JOIN nrm n1 ON p.d1 = n1.vec_id
       |               JOIN nrm n2 ON p.d2 = n2.vec_id
       |  ) WHERE cm >= $DbscanCosMin
       |),
       |mir AS MATERIALIZED (
       |  SELECT d1 AS v, d2 AS u FROM dpr
       |  UNION ALL SELECT d2, d1 FROM dpr
       |),
       |dg AS MATERIALIZED (
       |  SELECT v, CAST(count(*) AS BIGINT) AS n_neighbors
       |  FROM mir GROUP BY 1
       |),
       |cores AS MATERIALIZED (
       |  SELECT v FROM dg WHERE n_neighbors >= $DbscanMinPts
       |),
       |cedges AS MATERIALIZED (
       |  SELECT m.v AS a, m.u AS b FROM mir m
       |  WHERE m.v IN (SELECT v FROM cores)
       |    AND m.u IN (SELECT v FROM cores)
       |),
       |reach(a, b) AS (
       |  SELECT a, b FROM cedges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN cedges e ON r.b = e.a
       |),
       |comp AS MATERIALIZED (
       |  SELECT a AS v, least(a, min(b)) AS component
       |  FROM reach GROUP BY a
       |),
       |corelbl AS MATERIALIZED (
       |  SELECT c.v AS vec_id, COALESCE(k.component, c.v) AS core_cluster
       |  FROM cores c LEFT JOIN comp k ON c.v = k.v
       |),
       |blbl AS MATERIALIZED (
       |  SELECT m.v, min(cl.core_cluster) AS border_cluster
       |  FROM mir m JOIN corelbl cl ON m.u = cl.vec_id
       |  GROUP BY 1
       |),
       |ids AS (SELECT DISTINCT vec_id FROM embeddings)
       |SELECT i.vec_id,
       |  CAST(COALESCE(dg.n_neighbors, 0) AS BIGINT) AS n_neighbors,
       |  CAST(CASE WHEN cl.vec_id IS NOT NULL THEN 2
       |            WHEN bl.v IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS role,
       |  CAST(COALESCE(cl.core_cluster, bl.border_cluster, -1) AS BIGINT)
       |    AS cluster
       |FROM ids i
       |LEFT JOIN dg ON i.vec_id = dg.v
       |LEFT JOIN corelbl cl ON i.vec_id = cl.vec_id
       |LEFT JOIN blbl bl ON i.vec_id = bl.v
       |ORDER BY i.vec_id""".stripMargin
  }

  /** V37: codebook sizes the elbow curve is measured at. */
  val ElbowKs: Seq[Int] = Seq(2, 5, 10)

  /** V37: spherical-k-means objective + balance per codebook size. */
  def qElbow(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.kmeansElbow(emb(spark, dir), ElbowKs,
      SimilarityOps.KmRounds).orderBy("k")

  /** V37 oracle: one full training-trajectory replay per k (prefixed
    * CTE chains, the q_pq_recall discipline), then the assigned-score
    * rollup per k unioned into the curve.
    */
  private val elbowOracle: String = {
    val rounds = SimilarityOps.KmRounds
    val chains = ElbowKs.map(k =>
      kmeansCtesFor(s"e$k", k, 1, 1 << 20)).mkString(",\n")
    val rowCtes = ElbowKs.map { k =>
      s"""e${k}cl AS (
         |  SELECT a.vec_id, a.cid, s.score
         |  FROM e${k}a$rounds a JOIN e${k}sc$rounds s
         |    ON a.vec_id = s.vec_id AND a.cid = s.cid
         |),
         |e${k}by AS (
         |  SELECT cid, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(score) AS BIGINT) AS ssc
         |  FROM e${k}cl GROUP BY 1
         |),
         |e${k}row AS (
         |  SELECT CAST($k AS BIGINT) AS k,
         |    CAST(sum(n) AS BIGINT) AS n_vectors,
         |    CAST(sum(ssc) AS BIGINT) AS sum_score_micro,
         |    CAST(count(*) AS BIGINT) AS n_clusters_used,
         |    CAST(max(n) AS BIGINT) AS max_cluster_n
         |  FROM e${k}by
         |)""".stripMargin
    }.mkString(",\n")
    val union = ElbowKs.map(k => s"SELECT * FROM e${k}row")
      .mkString("\nUNION ALL\n")
    s"""$evCte,
       |$chains,
       |$rowCtes
       |$union
       |ORDER BY k""".stripMargin
  }

  /** V38: the IVF cost-vs-recall knee plot under the same trained
    * codebook and probe grid as q_ann_recall — what each probe depth
    * COSTS (visited corpus fraction) next to what it BUYS (recall@k).
    */
  def qIvfCost(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    SimilarityOps.ivfCostCurve(e, BatchQueryMax, cents, RecallProbes,
      TopK).orderBy("query_id", "nprobe")
  }

  /** V38 oracle: the q_ann_recall chain plus a visited census over the
    * same candidate relation and the corpus-size ppm division.
    */
  private val ivfCostOracle: String = {
    val rounds = SimilarityOps.KmRounds
    val npVals = RecallProbes.map(p => s"($p)").mkString(", ")
    s"""$kmeansTrainedCtes,
       |probes AS (
       |  SELECT vec_id AS query_id, cid,
       |    CAST(row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY score DESC, cid) AS BIGINT)
       |      AS prank
       |  FROM sc$rounds WHERE vec_id < $BatchQueryMax
       |),
       |qd AS (
       |  SELECT q.vec_id AS query_id, e.vec_id, sum(e.v * q.v) AS dot
       |  FROM ev e JOIN ev q ON e.i = q.i AND q.vec_id < $BatchQueryMax
       |  WHERE e.vec_id <> q.vec_id GROUP BY 1, 2
       |),
       |qcm AS (
       |  SELECT d.query_id, d.vec_id,
       |    ${Hashing.microSql("d.dot / (ne.nrm * nq.nrm)")} AS cos_micro
       |  FROM qd d JOIN nrm ne ON d.vec_id = ne.vec_id
       |             JOIN nrm nq ON d.query_id = nq.vec_id
       |),
       |truth AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY cos_micro DESC, vec_id) AS rn
       |    FROM qcm
       |  ) WHERE rn <= $TopK
       |),
       |np(nprobe) AS (SELECT CAST(v.c AS BIGINT)
       |               FROM (VALUES $npVals) v(c)),
       |cand AS MATERIALIZED (
       |  SELECT n.nprobe, q.query_id, q.vec_id, q.cos_micro
       |  FROM qcm q
       |  JOIN a$rounds a ON q.vec_id = a.vec_id
       |  JOIN probes p ON p.query_id = q.query_id AND p.cid = a.cid
       |  CROSS JOIN np n
       |  WHERE p.prank <= n.nprobe
       |),
       |vis AS (
       |  SELECT query_id, nprobe, CAST(count(*) AS BIGINT) AS visited
       |  FROM cand GROUP BY 1, 2
       |),
       |ann AS (
       |  SELECT nprobe, query_id, vec_id FROM (
       |    SELECT nprobe, query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id, nprobe
       |                         ORDER BY cos_micro DESC, vec_id) AS rn
       |    FROM cand
       |  ) WHERE rn <= $TopK
       |),
       |h AS (
       |  SELECT a.query_id, a.nprobe, count(*) AS hits
       |  FROM ann a JOIN truth t
       |    ON a.query_id = t.query_id AND a.vec_id = t.vec_id
       |  GROUP BY 1, 2
       |),
       |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus
       |       FROM embeddings),
       |grid AS (
       |  SELECT q.query_id, n.nprobe
       |  FROM (SELECT DISTINCT vec_id AS query_id FROM embeddings
       |        WHERE vec_id < $BatchQueryMax) q CROSS JOIN np n
       |)
       |SELECT g.query_id, g.nprobe,
       |  CAST(COALESCE(v.visited, 0) AS BIGINT) AS visited,
       |  (1000000 * CAST(COALESCE(v.visited, 0) AS BIGINT))
       |    // (nc.n_corpus - 1) AS visited_ppm,
       |  CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       |  ${Hashing.microSql(s"COALESCE(h.hits, 0) / $TopK")}
       |    AS recall_micro
       |FROM grid g
       |LEFT JOIN vis v ON g.query_id = v.query_id
       |  AND g.nprobe = v.nprobe
       |LEFT JOIN h ON g.query_id = h.query_id AND g.nprobe = h.nprobe
       |CROSS JOIN nc
       |ORDER BY g.query_id, g.nprobe""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_elbow"          -> (qElbow _),
    "q_ivf_cost"       -> (qIvfCost _),
    "q_dbscan"         -> (qDbscan _),
    "q_graph_ann"      -> (qGraphAnn _),
    "q_rrf"            -> (qRrf _),
    "q_sq_search"      -> (qSqSearch _),
    "q_sq8_fidelity"   -> (qSq8Fidelity _),
    "q_mrl_recall"     -> (qMrlRecall _),
    "q_mrr"            -> (qMrr _),
    "q_ndcg"           -> (qNdcg _),
    "q_hubness"        -> (qHubness _),
    "q_knn_recip"      -> (qKnnRecip _),
    "q_lid"            -> (qLid _),
    "q_beam_cost"      -> (qBeamCost _),
    "q_ann_filtered"   -> (qAnnFiltered _),
    "q_mmr"            -> (qMmr _),
    "q_kcenter"        -> (qKcenter _),
    "q_kcenter_cover"  -> (qKcenterCover _),
    "q_silhouette"     -> (qSilhouette _),
    "q_pq_distortion"  -> (qPqDistortion _),
    "q_cluster_stability" -> (qClusterStability _),
    "q_centroid_drift" -> (qCentroidDrift _),
    "q_quantize"       -> (qQuantize _),
    "q_embed_lsh"      -> (qEmbedLsh _),
    "q_embed_pairs"    -> (qEmbedPairs _),
    "q_ann_topk"       -> (qAnnTopK _),
    "q_mips"           -> (qMips _),
    "q_label_balance"  -> (qLabelBalance _),
    "q_dim_variance"   -> (qDimVariance _),
    "q_anisotropy"     -> (qAnisotropy _),
    "q_dim_corr"       -> (qDimCorr _),
    "q_pq_block_corr"  -> (qPqBlockCorr _),
    "q_effective_dim"  -> (qEffectiveDim _),
    "q_norm_census"    -> (qNormCensus _),
    "q_pca"            -> (qPca _),
    "q_ann_batch"      -> (qAnnBatch _),
    "q_ann_ivf"        -> (qAnnIvf _),
    "q_ann_recall"     -> (qAnnRecall _),
    "q_ann_recall_sampled" -> (qAnnRecallSampled _),
    "q_cluster_mix"    -> (qClusterMix _),
    "q_semdedup"       -> (qSemDedup _),
    "q_semdedup_sweep" -> (qSemdedupSweep _),
    "q_cos_census"     -> (qCosCensus _),
    "q_knn_label"      -> (qKnnLabel _),
    "q_pq_encode"      -> (qPqEncode _),
    "q_pq_adc"         -> (qPqAdc _),
    "q_pq_recall"      -> (qPqRecall _),
    "q_pq_ivf"         -> (qPqIvf _),
    "q_pq_rerank"      -> (qPqRerank _),
    "q_pq_serve"       -> (qPqServe _),
    "q_pq_residual"    -> (qPqResidual _),
    "q_proto_prune"    -> (qProtoPrune _),
    "q_cluster_margin" -> (qClusterMargin _),
    "q_embed_diversity" -> (qEmbedDiversity _),
    "q_label_geometry" -> (qLabelGeometry _),
    "q_hard_neg"       -> (qHardNeg _),
    "q_topk_per_label" -> (qTopkPerLabel _))

  val oracles: Map[String, String] = Map(
    "q_elbow"          -> elbowOracle,
    "q_ivf_cost"       -> ivfCostOracle,
    "q_dbscan"         -> dbscanOracle,
    "q_graph_ann"      -> graphAnnOracle,
    "q_rrf"            -> rrfOracle,
    "q_sq_search"      -> sqSearchOracle,
    "q_sq8_fidelity"   -> sq8FidelityOracle,
    "q_mrl_recall"     -> mrlRecallOracle,
    "q_mrr"            -> mrrOracle,
    "q_ndcg"           -> ndcgOracle,
    "q_hubness"        -> hubnessOracle,
    "q_knn_recip"      -> knnRecipOracle,
    "q_lid"            -> lidOracle,
    "q_beam_cost"      -> beamCostOracle,
    "q_ann_filtered"   -> annFilteredOracle,
    "q_mmr"            -> mmrOracle,
    "q_kcenter"        -> kcenterOracle,
    "q_kcenter_cover"  -> kcenterCoverOracle,
    "q_silhouette"     -> silhouetteOracle,
    "q_pq_distortion"  -> pqDistortionOracle,
    "q_cluster_stability" -> clusterStabilityOracle,
    "q_centroid_drift" -> centroidDriftOracle,
    "q_quantize"       -> quantizeOracle,
    "q_embed_lsh"      -> embedLshOracle,
    "q_embed_pairs"    -> embedPairsOracle,
    "q_ann_topk"       -> annTopKOracle,
    "q_mips"           -> mipsOracle,
    "q_label_balance"  -> labelBalanceOracle,
    "q_dim_variance"   -> dimVarianceOracle,
    "q_anisotropy"     -> anisotropyOracle,
    "q_dim_corr"       -> dimCorrOracle,
    "q_pq_block_corr"  -> pqBlockCorrOracle,
    "q_effective_dim"  -> effectiveDimOracle,
    "q_norm_census"    -> normCensusOracle,
    "q_pca"            -> pcaOracle,
    "q_ann_batch"      -> annBatchOracle,
    "q_ann_ivf"        -> annIvfOracle,
    "q_ann_recall"     -> annRecallOracle,
    "q_ann_recall_sampled" -> annRecallSampledOracle,
    "q_cluster_mix"    -> clusterMixOracle,
    "q_semdedup"       -> semDedupOracle,
    "q_semdedup_sweep" -> semdedupSweepOracle,
    "q_cos_census"     -> cosCensusOracle,
    "q_knn_label"      -> knnLabelOracle,
    "q_pq_encode"      -> pqEncodeOracle,
    "q_pq_adc"         -> pqAdcOracle,
    "q_pq_recall"      -> pqRecallOracle,
    "q_pq_ivf"         -> pqIvfOracle,
    "q_pq_rerank"      -> pqRerankOracle,
    "q_pq_serve"       -> pqServeOracle,
    "q_pq_residual"    -> pqResidualOracle,
    "q_proto_prune"    -> protoPruneOracle,
    "q_cluster_margin" -> clusterMarginOracle,
    "q_embed_diversity" -> embedDiversityOracle,
    "q_label_geometry" -> labelGeometryOracle,
    "q_hard_neg"       -> hardNegOracle,
    "q_topk_per_label" -> topkPerLabelOracle)
}
