package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.Tables

/** Driver-contract queries + oracles for [[MultimodalOps]].
  *
  * `q_media_meta` / `q_media_frames` are fully oracle-checked (payload
  * bytes are the UTF-8 text, so DuckDB can mirror every byte-level value
  * through string functions). `q_media_features` is the real-decoder
  * differential: the Spark side synthesizes genuine BMP/WAV containers
  * and parses them back through the header-walking decoder; the oracle
  * recomputes the decoded statistics from the generative closed form
  * (`unnest(range(...))` over the pixel/sample recurrence) WITHOUT
  * parsing bytes — the two agree only if the encode→decode roundtrip
  * recovers every unit exactly.
  */
object MultimodalQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    // NOT parallelized family-wide: r16's sweep repartitioned the table
    // under all 23 M queries on a stage-profile rationale; a paired
    // 80-query family window this round (r17, same-day back-to-back,
    // OPTIMIZATION_r17.md §parallelized-rollback) measured it a
    // 0.53x geomean LOSS for the family — the added round-robin
    // exchange (plus its sort-before-repartition) costs more than the
    // single-split parallelism it buys everywhere except the truly
    // CPU-dense JPEG codec kernels, which keep the treatment at their
    // own call sites below.
    Tables.documents(spark, dir)

  /** The codec decode queries ARE kernel-bound, the one place the extra
    * exchange provably pays. JPEG (full entropy decode + IDCT per blob;
    * one task ran 1.6 CPU-s unparallelized): paired family window,
    * parallelized 1.9x on q_jpeg_decode, 1.3x on q_jpeg_phash. PNG
    * (inflate + unfilter per blob): q_png_decode at sf0.1 on 4 cores, 10
    * alternating pairs in one session, median wall 0.54 s vs 0.69 s
    * without (faster in 10 of 10) for 0.50 vs 0.41 executor CPU-s;
    * fresh-JVM Bench runs (warm-up + min of 2) split 2-2 over 4 pairs.
    */
  private def docsForCodec(spark: SparkSession, dir: String): DataFrame =
    TextOps.parallelized(Tables.documents(spark, dir))

  def qMediaMeta(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.mediaMeta(docs(spark, dir)).orderBy("doc_id")

  def qMediaFrames(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.mediaFrames(docs(spark, dir))
      .orderBy("doc_id", "frame_idx")

  def qMediaFeatures(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.mediaFeatures(docs(spark, dir)).orderBy("doc_id")

  def qMediaDedup(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.mediaDedupCensus(docs(spark, dir)).orderBy("format")

  def qMediaEnergy(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.wavEnergyWindows(
      MultimodalOps.mediaBinary(docs(spark, dir)))
      .toDF().orderBy("doc_id", "window_idx")

  def qMediaZcr(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.wavZeroCrossings(
      MultimodalOps.mediaBinary(docs(spark, dir)))
      .toDF().orderBy("doc_id")

  /** M12: |s| ≥ ClipAbs counts as clipped — 1900 sits inside the
    * generative sample range [−2048, 2047] so the synthetic corpus
    * exercises both branches (≈ 7 % of residues clip).
    */
  val ClipAbs = 1900L

  def qMediaClipping(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr, lit, sqrt, when}
    import graft.functions.Hashing.micro
    MultimodalOps.wavClippingStats(
        MultimodalOps.mediaBinary(docs(spark, dir)), ClipAbs)
      .toDF()
      .select(col("doc_id"), col("n_samples"), col("max_abs"),
        col("n_clip"), col("sum_sq"),
        expr("(1000000 * n_clip) div n_samples").as("clip_ppm"),
        when(col("sum_sq") === 0L, lit(0L))
          .otherwise(micro(col("max_abs") /
            sqrt(col("sum_sq") / col("n_samples"))))
          .as("crest_micro"))
      .orderBy("doc_id")
  }

  /** M20: the decoder's clipped-run integers at the M12 bar, plus the
    * share of clipped mass sitting in the longest run — high means
    * one squared-off stretch (hard clipping), low means isolated
    * peaks.
    */
  def qMediaClipRuns(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    MultimodalOps.wavClipRuns(
        MultimodalOps.mediaBinary(docs(spark, dir)), ClipAbs)
      .toDF()
      .select(col("doc_id"), col("n_samples"), col("n_clip"),
        col("n_runs"), col("max_run"),
        expr("CASE WHEN n_clip > 0 THEN " +
          "(1000000 * max_run) div n_clip " +
          "ELSE CAST(0 AS BIGINT) END").as("max_run_ppm"))
      .orderBy("doc_id")
  }

  /** M20 oracle: the generative sample stream through the classic
    * gaps-and-islands formulation — i − row_number() over clipped
    * rows groups each maximal run. Lazy: wavSampleCte is declared
    * further down the object body.
    */
  private lazy val mediaClipRunsOracle =
    s"""$wavSampleCte,
       |clipped AS (
       |  SELECT doc_id, i,
       |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i)
       |      AS grp
       |  FROM s WHERE abs(v) >= $ClipAbs
       |),
       |runs AS (
       |  SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS run_len
       |  FROM clipped GROUP BY 1, 2
       |),
       |agg AS (
       |  SELECT doc_id, CAST(sum(run_len) AS BIGINT) AS n_clip,
       |    CAST(count(*) AS BIGINT) AS n_runs,
       |    CAST(max(run_len) AS BIGINT) AS max_run
       |  FROM runs GROUP BY 1
       |),
       |base AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples
       |  FROM s GROUP BY 1
       |)
       |SELECT b.doc_id, b.n_samples,
       |  CAST(COALESCE(a.n_clip, 0) AS BIGINT) AS n_clip,
       |  CAST(COALESCE(a.n_runs, 0) AS BIGINT) AS n_runs,
       |  CAST(COALESCE(a.max_run, 0) AS BIGINT) AS max_run,
       |  CASE WHEN COALESCE(a.n_clip, 0) > 0 THEN
       |    CAST((1000000 * a.max_run) // a.n_clip AS BIGINT)
       |  ELSE CAST(0 AS BIGINT) END AS max_run_ppm
       |FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
       |ORDER BY b.doc_id""".stripMargin

  def qMediaHist(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.mediaHistogram(docs(spark, dir)).orderBy("doc_id")

  def qMediaChannels(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.channelCensus(docs(spark, dir)).orderBy("doc_id")

  def qMediaMotion(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.frameMotion(docs(spark, dir)).orderBy("doc_id")

  def qMediaTrim(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.wavTrimCensus(
      MultimodalOps.mediaBinary(docs(spark, dir)))
      .orderBy("doc_id")

  def qMediaTv(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.mediaTotalVariation(docs(spark, dir))
      .orderBy("doc_id")

  /** M17: the decoder's five integer Pearson sums over the lag-1
    * pairing, r derived as the mirrored X48 integer-column tree.
    */
  def qMediaAutocorr(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{sqrt, when, lit}
    import graft.functions.Hashing.micro
    MultimodalOps.wavAutocorrStats(
        MultimodalOps.mediaBinary(docs(spark, dir)))
      .toDF()
      .select(col("doc_id"), col("n_pairs"),
        (col("n_pairs") * col("sxy") - col("sx") * col("sy"))
          .as("cov_num"),
        (col("n_pairs") * col("sxx") - col("sx") * col("sx"))
          .as("var_x"),
        (col("n_pairs") * col("syy") - col("sy") * col("sy"))
          .as("var_y"))
      .withColumn("r_micro",
        when(col("var_x") > 0L && col("var_y") > 0L,
          micro(col("cov_num") /
            (sqrt(col("var_x")) * sqrt(col("var_y")))))
          .otherwise(lit(0L)))
      .orderBy("doc_id")
  }

  /** M18 statistic trees — shared verbatim with the oracle. */
  private val dcTree =
    "CAST(sum_all AS DOUBLE) / CAST(n_samples AS DOUBLE)"
  private val driftTree =
    "(CAST(sum_second AS DOUBLE) / CAST(n_samples - n_first AS DOUBLE))" +
      " - (CAST(sum_first AS DOUBLE) / CAST(n_first AS DOUBLE))"

  def qMediaDc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    MultimodalOps.wavDcStats(
        MultimodalOps.mediaBinary(docs(spark, dir)))
      .toDF()
      .withColumn("n_first", expr("n_samples div 2"))
      .select(col("doc_id"), col("n_samples"), col("n_first"),
        col("sum_all"), col("sum_first"), col("sum_second"),
        // n_samples > 0 guard matches the drift guard below: a
        // zero-sample WAV would read 0.0/0.0 = NaN, which Spark's
        // non-ANSI BIGINT cast silently zeroes while DuckDB errors —
        // the one cross-engine divergence in the family's tree
        // discipline (unreachable on the synthetic corpus, guarded
        // for the contract)
        expr(s"CASE WHEN n_samples > 0 THEN " +
          s"CAST(floor(1000000.0 * ($dcTree)) AS BIGINT) " +
          s"ELSE CAST(0 AS BIGINT) END").as("dc_micro"),
        expr(s"CASE WHEN n_first > 0 THEN " +
          s"CAST(floor(1000000.0 * ($driftTree)) AS BIGINT) " +
          s"ELSE CAST(0 AS BIGINT) END").as("drift_micro"))
      .orderBy("doc_id")
  }

  private val wavSampleCte =
    """WITH wav AS (
      |  SELECT doc_id, 64 + doc_id % 64 AS n
      |  FROM documents WHERE doc_id % 2 = 1
      |),
      |s AS (
      |  SELECT w.doc_id, w.n, g.i,
      |    ((w.doc_id * 31 + g.i * 17) % 4096) - 2048 AS v
      |  FROM wav w, unnest(range(0, w.n)) AS g(i)
      |)""".stripMargin

  /** M17 oracle: the lag pairing replayed over the generative sample
    * recurrence, the same integer five-sum census and guarded tree.
    */
  private val mediaAutocorrOracle =
    s"""$wavSampleCte,
       |p AS (
       |  SELECT a.doc_id, a.v AS x, b.v AS y
       |  FROM s a JOIN s b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |),
       |c AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy
       |  FROM p GROUP BY 1
       |),
       |f AS (
       |  SELECT doc_id, n_pairs,
       |    CAST(n_pairs * sxy - sx * sy AS BIGINT) AS cov_num,
       |    CAST(n_pairs * sxx - sx * sx AS BIGINT) AS var_x,
       |    CAST(n_pairs * syy - sy * sy AS BIGINT) AS var_y
       |  FROM c
       |)
       |SELECT doc_id, n_pairs, cov_num, var_x, var_y,
       |  CASE WHEN var_x > 0 AND var_y > 0
       |       THEN ${graft.functions.Hashing.microSql(
                  "cov_num / (sqrt(var_x) * sqrt(var_y))")}
       |       ELSE CAST(0 AS BIGINT) END AS r_micro
       |FROM f ORDER BY doc_id""".stripMargin

  /** M18 oracle: the same three integer sums off the recurrence, the
    * shared micro trees.
    */
  private val mediaDcOracle =
    s"""$wavSampleCte,
       |c AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
       |    CAST(sum(v) AS BIGINT) AS sum_all,
       |    CAST(sum(CASE WHEN i < n // 2 THEN v ELSE 0 END)
       |         AS BIGINT) AS sum_first
       |  FROM s GROUP BY 1
       |),
       |d AS (
       |  SELECT doc_id, n_samples, n_samples // 2 AS n_first,
       |    sum_all, sum_first, sum_all - sum_first AS sum_second
       |  FROM c
       |)
       |SELECT doc_id, n_samples, CAST(n_first AS BIGINT) AS n_first,
       |  sum_all, sum_first, sum_second,
       |  CASE WHEN n_samples > 0 THEN
       |    CAST(floor(1000000.0 * ($dcTree)) AS BIGINT)
       |  ELSE CAST(0 AS BIGINT) END AS dc_micro,
       |  CASE WHEN n_first > 0 THEN
       |    CAST(floor(1000000.0 * ($driftTree)) AS BIGINT)
       |  ELSE CAST(0 AS BIGINT) END AS drift_micro
       |FROM d ORDER BY doc_id""".stripMargin

  /** M19: the decoder's five exact integer Goertzel bin energies,
    * unpivoted to (doc_id, bin) rows with the per-doc energy share —
    * pure projection, zero windows (the share reads the pre-unpivot
    * row total). Column is `energy`/`bin_idx` (not `power`/`bin` —
    * both are DuckDB function names).
    */
  def qMediaGoertzel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    MultimodalOps.wavGoertzelStats(
        MultimodalOps.mediaBinary(docs(spark, dir)))
      .toDF()
      .withColumn("tot",
        col("p0") + col("p1") + col("p2") + col("p3") + col("p4"))
      .selectExpr("doc_id", "n_samples", "tot",
        "stack(5, CAST(0 AS BIGINT), p0, CAST(1 AS BIGINT), p1, " +
          "CAST(2 AS BIGINT), p2, CAST(3 AS BIGINT), p3, " +
          "CAST(4 AS BIGINT), p4) AS (bin_idx, energy)")
      .select(col("doc_id"), col("bin_idx"),
        expr("CAST(CASE bin_idx WHEN 0 THEN 2 WHEN 1 THEN 1 " +
          "WHEN 2 THEN 0 WHEN 3 THEN -1 ELSE -2 END AS BIGINT)")
          .as("coef"),
        col("n_samples"), col("energy"),
        expr("CASE WHEN tot > 0 THEN (1000000 * energy) div tot " +
          "ELSE CAST(0 AS BIGINT) END").as("energy_ppm"))
      .orderBy("doc_id", "bin_idx")
  }

  /** M19 oracle: the generative sample recurrence scored by the DFT
    * CLOSED FORM 4·|X(ω)|² = C² + w·S² (integer conditional sums over
    * the n-mod-{1,6,4,3,2} sign patterns; w = 3 where sin carries
    * √3/2) — the engine runs the Goertzel RECURRENCE, so the compare
    * passes only if recurrence ≡ closed form ≡ decode (the
    * q_media_features differential discipline).
    */
  private val mediaGoertzelOracle =
    s"""$wavSampleCte,
       |cen AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
       |    CAST(sum(2 * v) AS BIGINT) AS c0,
       |    CAST(sum(v * (CASE i % 6 WHEN 0 THEN 2 WHEN 1 THEN 1
       |      WHEN 2 THEN -1 WHEN 3 THEN -2 WHEN 4 THEN -1
       |      ELSE 1 END)) AS BIGINT) AS c1,
       |    CAST(sum(v * (CASE i % 6 WHEN 1 THEN 1 WHEN 2 THEN 1
       |      WHEN 4 THEN -1 WHEN 5 THEN -1 ELSE 0 END))
       |      AS BIGINT) AS s1,
       |    CAST(sum(v * (CASE i % 4 WHEN 0 THEN 2 WHEN 2 THEN -2
       |      ELSE 0 END)) AS BIGINT) AS c2,
       |    CAST(sum(v * (CASE i % 4 WHEN 1 THEN 2 WHEN 3 THEN -2
       |      ELSE 0 END)) AS BIGINT) AS s2,
       |    CAST(sum(v * (CASE i % 3 WHEN 0 THEN 2 ELSE -1 END))
       |      AS BIGINT) AS c3,
       |    CAST(sum(v * (CASE i % 3 WHEN 1 THEN 1 WHEN 2 THEN -1
       |      ELSE 0 END)) AS BIGINT) AS s3,
       |    CAST(sum(v * (CASE i % 2 WHEN 0 THEN 2 ELSE -2 END))
       |      AS BIGINT) AS c4
       |  FROM s GROUP BY 1
       |),
       |e AS (
       |  SELECT doc_id, n_samples,
       |    CAST((c0 * c0) // 4 AS BIGINT) AS p0,
       |    CAST((c1 * c1 + 3 * s1 * s1) // 4 AS BIGINT) AS p1,
       |    CAST((c2 * c2 + s2 * s2) // 4 AS BIGINT) AS p2,
       |    CAST((c3 * c3 + 3 * s3 * s3) // 4 AS BIGINT) AS p3,
       |    CAST((c4 * c4) // 4 AS BIGINT) AS p4
       |  FROM cen
       |),
       |t AS (SELECT *, p0 + p1 + p2 + p3 + p4 AS tot FROM e),
       |u AS (
       |  SELECT doc_id, CAST(0 AS BIGINT) AS bin_idx,
       |    CAST(2 AS BIGINT) AS coef, n_samples, p0 AS energy, tot
       |  FROM t
       |  UNION ALL SELECT doc_id, CAST(1 AS BIGINT),
       |    CAST(1 AS BIGINT), n_samples, p1, tot FROM t
       |  UNION ALL SELECT doc_id, CAST(2 AS BIGINT),
       |    CAST(0 AS BIGINT), n_samples, p2, tot FROM t
       |  UNION ALL SELECT doc_id, CAST(3 AS BIGINT),
       |    CAST(-1 AS BIGINT), n_samples, p3, tot FROM t
       |  UNION ALL SELECT doc_id, CAST(4 AS BIGINT),
       |    CAST(-2 AS BIGINT), n_samples, p4, tot FROM t
       |)
       |SELECT doc_id, bin_idx, coef, n_samples, energy,
       |  CASE WHEN tot > 0 THEN CAST((1000000 * energy) // tot
       |    AS BIGINT) ELSE CAST(0 AS BIGINT) END AS energy_ppm
       |FROM u ORDER BY doc_id, bin_idx""".stripMargin

  def qMediaResize(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.bmpResizeStats(
      MultimodalOps.mediaBinary(docs(spark, dir)))
      .toDF().orderBy("doc_id")

  val PhashMaxHamming = 3

  def qMediaPhash(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.phashCensus(docs(spark, dir), PhashMaxHamming)
      .orderBy("h1", "h2")

  /** M21: decode census over real baseline-JFIF payloads — the Spark
    * side synthesizes genuine 4:2:0 entropy-coded JPEGs
    * ([[JpegCodec.encode]]) and decodes them through the full codec
    * path (Huffman → dequant → IDCT → upsample → fixed-point RGB); the
    * oracle recomputes every integer from the flat-MCU generative
    * closed form WITHOUT parsing a byte. The two agree only if the
    * lossy roundtrip recovers every pixel exactly — which the
    * quantizer-aligned fixture guarantees by construction (see the
    * codec scaladoc). The RGB terms mirror libjpeg's fixed-point
    * conversion as floor((k·c + 32768)/65536) — double floor is exact
    * at these magnitudes (< 2²⁵) and Java's arithmetic `>> 16` is the
    * same floor.
    */
  def qJpegDecode(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.jpegDecodeStats(
      MultimodalOps.jpegBinary(docsForCodec(spark, dir)))
      .toDF().orderBy("doc_id")

  /** M21: perceptual near-dup census over DECODED JPEGs — the MCU-grid
    * dHash through the SAME [[MultimodalOps.phashCensusOf]] statistics
    * stage as q_media_phash (shared code, not a parallel census).
    */
  def qJpegPhash(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.phashCensusOf(
      MultimodalOps.jpegMcuDHash(
        MultimodalOps.jpegBinary(docsForCodec(spark, dir))).toDF(),
      PhashMaxHamming)
      .orderBy("h1", "h2")

  /** M23: decode census over real PNG payloads — chunk walk, CRC32
    * verification, DEFLATE inflate, all five unfilter paths (the
    * fixture cycles filter types per row). PNG is lossless, so unlike
    * M21 no fixture construction is needed for exactness: the oracle's
    * closed form IS the decoded image, and any divergence anywhere in
    * the container/compression/filter path breaks the hash.
    */
  def qPngDecode(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.pngDecodeStats(
      MultimodalOps.pngBinary(docsForCodec(spark, dir)))
      .toDF().orderBy("doc_id")

  def qMediaMagic(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.magicCensus(
      MultimodalOps.mediaBinaryDeclared(docs(spark, dir)))
      .orderBy("declared", "sniffed")

  def qMediaIntegrity(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.integrityCensus(
      MultimodalOps.mediaBinaryTruncated(docs(spark, dir)).toDF())
      .orderBy("kind")

  private val fmtCase =
    """CASE source WHEN 'src0' THEN 'png' WHEN 'src1' THEN 'jpeg'
      |            WHEN 'src2' THEN 'wav' WHEN 'src3' THEN 'mp4'
      |            ELSE 'bin' END""".stripMargin

  // byte_len / frame counts are BYTE math on both sides:
  // octet_length(encode(text)) is the UTF-8 byte count, mirroring the
  // engine's length(payload). The frame-slice oracle below still slices
  // characters (this DuckDB build cannot substring BLOBs), which equals
  // byte slicing only for ASCII — a limitation of the TEST ORACLE, not
  // of the engine; the test corpus is ASCII-only by construction.
  private val byteLenSql = "octet_length(encode(text))"

  private val nFramesSql =
    s"CASE WHEN $byteLenSql >= 16 THEN ($byteLenSql - 16) // 32 + 1 ELSE 0 END"

  private val mediaMetaOracle =
    s"""SELECT doc_id,
       |  $fmtCase AS format,
       |  CAST(16 + (doc_id & 63) * 4 AS BIGINT) AS width,
       |  CAST(16 + ((doc_id >> 3) & 63) * 4 AS BIGINT) AS height,
       |  CAST(greatest(1, (16 + (doc_id & 63) * 4) >> 1) AS BIGINT)
       |    AS resized_width,
       |  CAST(greatest(1, (16 + ((doc_id >> 3) & 63) * 4) >> 1) AS BIGINT)
       |    AS resized_height,
       |  CAST($byteLenSql AS BIGINT) AS byte_len,
       |  sha256(text) AS sha,
       |  CAST($nFramesSql AS BIGINT) AS n_frames
       |FROM documents ORDER BY doc_id""".stripMargin

  private val mediaFramesOracle =
    s"""SELECT doc_id, CAST(g.i AS BIGINT) AS frame_idx,
       |  sha256(substr(text, CAST(g.i * 32 + 1 AS BIGINT), 16)) AS frame_sha
       |FROM documents, unnest(range(0, $nFramesSql)) AS g(i)
       |ORDER BY doc_id, frame_idx""".stripMargin

  /** M11 oracle: every bin recomputed from the generative closed form
    * (id·7 + k·13) mod 256 — the per-bin encode→decode differential.
    */
  private val mediaHistOracle: String = {
    val binCols = (0 until 8).map(i =>
      s"    CAST(sum(CASE WHEN bin = $i THEN 1 ELSE 0 END) AS BIGINT)" +
        s" AS b$i").mkString(",\n")
    val bs = (0 until 8).map(i => s"b$i").mkString(", ")
    s"""WITH bmp AS (
       |  SELECT doc_id, 4 + doc_id % 5 AS w, 2 + doc_id % 3 AS h
       |  FROM documents WHERE doc_id % 2 = 0
       |),
       |px AS (
       |  SELECT b.doc_id, b.w, b.h,
       |    ((b.doc_id * 7 + g.k * 13) % 256) // 32 AS bin
       |  FROM bmp b, unnest(range(0, 3 * b.w * b.h)) AS g(k)
       |),
       |hs AS (
       |  SELECT doc_id,
       |    CAST(max(w) AS BIGINT) AS width,
       |    CAST(max(h) AS BIGINT) AS height,
       |    CAST(count(*) AS BIGINT) AS n_pixels,
       |$binCols
       |  FROM px GROUP BY doc_id
       |)
       |SELECT doc_id, width, height, n_pixels, $bs,
       |  (1000000 * greatest($bs)) // n_pixels AS dom_ppm
       |FROM hs ORDER BY doc_id""".stripMargin
  }

  /** M3 oracle: the decoder's output recomputed from the generative
    * model. Even doc_ids are 24-bpp BMPs of w=4+id%5, h=2+id%3 with
    * pixel byte k valued (id*7+k*13)%256 over the 3wh pixel bytes; odd
    * doc_ids are PCM16 WAVs of n=64+id%64 samples valued
    * ((id*31+i*17)%4096)-2048 at 8 kHz. The oracle never sees the
    * bytes — stride padding, header layout, and chunk walking are
    * exactly what the differential exercises.
    */
  private val mediaFeaturesOracle =
    """WITH bmp AS (
      |  SELECT doc_id, 4 + doc_id % 5 AS w, 2 + doc_id % 3 AS h
      |  FROM documents WHERE doc_id % 2 = 0
      |),
      |bmp_bytes AS (
      |  SELECT b.doc_id, b.w, b.h, (b.doc_id * 7 + g.k * 13) % 256 AS v
      |  FROM bmp b, unnest(range(0, 3 * b.w * b.h)) AS g(k)
      |),
      |bmp_f AS (
      |  SELECT doc_id, 'bmp' AS kind,
      |    CAST(max(w) AS BIGINT) AS width,
      |    CAST(max(h) AS BIGINT) AS height,
      |    CAST(NULL AS BIGINT) AS sample_rate,
      |    CAST(count(*) AS BIGINT) AS n_units,
      |    CAST(sum(v) AS BIGINT) AS sum_units,
      |    CAST(min(v) AS BIGINT) AS min_unit,
      |    CAST(max(v) AS BIGINT) AS max_unit
      |  FROM bmp_bytes GROUP BY doc_id
      |),
      |wav AS (
      |  SELECT doc_id, 64 + doc_id % 64 AS n
      |  FROM documents WHERE doc_id % 2 = 1
      |),
      |wav_samples AS (
      |  SELECT w.doc_id,
      |    ((w.doc_id * 31 + g.i * 17) % 4096) - 2048 AS s
      |  FROM wav w, unnest(range(0, w.n)) AS g(i)
      |),
      |wav_f AS (
      |  SELECT doc_id, 'wav' AS kind,
      |    CAST(NULL AS BIGINT) AS width,
      |    CAST(NULL AS BIGINT) AS height,
      |    CAST(8000 AS BIGINT) AS sample_rate,
      |    CAST(count(*) AS BIGINT) AS n_units,
      |    CAST(sum(s) AS BIGINT) AS sum_units,
      |    CAST(min(s) AS BIGINT) AS min_unit,
      |    CAST(max(s) AS BIGINT) AS max_unit
      |  FROM wav_samples GROUP BY doc_id
      |)
      |SELECT * FROM bmp_f UNION ALL SELECT * FROM wav_f
      |ORDER BY doc_id""".stripMargin

  /** M4: blob-level CTE (count + len per (format, sha)), then the
    * per-format census UNION the ALL row, which re-groups by sha so a
    * cross-format duplicate counts once distinct.
    */
  private val mediaDedupOracle =
    s"""WITH blobs AS (
       |  SELECT $fmtCase AS format, sha256(text) AS sha,
       |    count(*) AS c, max(CAST($byteLenSql AS BIGINT)) AS len
       |  FROM documents GROUP BY 1, 2
       |),
       |fmt AS (
       |  SELECT format, CAST(sum(c) AS BIGINT) AS n_blobs,
       |    count(*) AS n_distinct_blobs,
       |    CAST(sum(c) - count(*) AS BIGINT) AS dup_blobs,
       |    CAST(sum(c * len) AS BIGINT) AS total_bytes,
       |    CAST(sum((c - 1) * len) AS BIGINT) AS reclaim_bytes
       |  FROM blobs GROUP BY 1
       |),
       |g AS (
       |  SELECT sha, CAST(sum(c) AS BIGINT) AS c, max(len) AS len
       |  FROM blobs GROUP BY 1
       |),
       |allrow AS (
       |  SELECT 'ALL' AS format, CAST(sum(c) AS BIGINT) AS n_blobs,
       |    count(*) AS n_distinct_blobs,
       |    CAST(sum(c) - count(*) AS BIGINT) AS dup_blobs,
       |    CAST(sum(c * len) AS BIGINT) AS total_bytes,
       |    CAST(sum((c - 1) * len) AS BIGINT) AS reclaim_bytes
       |  FROM g
       |)
       |SELECT * FROM fmt UNION ALL SELECT * FROM allrow
       |ORDER BY format""".stripMargin

  /** M5 oracle: the per-frame energy features recomputed from the WAV
    * generative closed form — `i // 16` is the frame index, every
    * aggregate integer-exact. The Spark side computed these in the
    * decoder's scalar loop from the PARSED bytes; agreement proves the
    * frame segmentation and the sample recovery simultaneously.
    */
  private val mediaEnergyOracle =
    s"""WITH wav AS (
       |  SELECT doc_id, 64 + doc_id % 64 AS n
       |  FROM documents WHERE doc_id % 2 = 1
       |),
       |s AS (
       |  SELECT w.doc_id, g.i,
       |    ((w.doc_id * 31 + g.i * 17) % 4096) - 2048 AS v
       |  FROM wav w, unnest(range(0, w.n)) AS g(i)
       |)
       |SELECT doc_id,
       |  CAST(i // ${MultimodalOps.EnergyWindow} AS BIGINT) AS window_idx,
       |  count(*) AS n_samples,
       |  CAST(sum(v) AS BIGINT) AS sum_amp,
       |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
       |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
       |  CAST(max(abs(v)) AS BIGINT) AS max_abs
       |FROM s GROUP BY 1, 2 ORDER BY doc_id, window_idx""".stripMargin

  /** M16 oracle: per-pixel channel triples recomputed from the BMP
    * generative closed form (byte j of pixel p is channel j mod 3 —
    * padding is excluded from the generative index, so the mapping
    * needs no stride term); moments CAST (the HUGEINT lesson), each
    * correlation the R53 moment tree mirrored, grayscale an integer
    * witness.
    */
  private val mediaChannelsOracle: String = {
    def corr(sxy: String, sx: String, sy: String,
             sxx: String, syy: String): String = {
      val num = s"CAST(n_px AS DOUBLE) * $sxy - CAST($sx AS DOUBLE) * $sy"
      val vx = s"(CAST(n_px AS DOUBLE) * $sxx - CAST($sx AS DOUBLE) * $sx)"
      val vy = s"(CAST(n_px AS DOUBLE) * $syy - CAST($sy AS DOUBLE) * $sy)"
      s"""CASE WHEN $vx <= 0 OR $vy <= 0
         |     THEN CAST(0 AS BIGINT)
         |     ELSE ${graft.functions.Hashing.microSql(
                  s"($num) / sqrt($vx * $vy)")} END""".stripMargin
    }
    s"""WITH bmp AS (
       |  SELECT doc_id, 4 + doc_id % 5 AS w, 2 + doc_id % 3 AS h
       |  FROM documents WHERE doc_id % 2 = 0
       |),
       |pix AS (
       |  SELECT b.doc_id,
       |    (b.doc_id * 7 + (3 * g.p) * 13) % 256 AS vb,
       |    (b.doc_id * 7 + (3 * g.p + 1) * 13) % 256 AS vg,
       |    (b.doc_id * 7 + (3 * g.p + 2) * 13) % 256 AS vr
       |  FROM bmp b, unnest(range(0, b.w * b.h)) AS g(p)
       |),
       |mo AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_px,
       |    CAST(sum(vb) AS BIGINT) AS sb,
       |    CAST(sum(vg) AS BIGINT) AS sg,
       |    CAST(sum(vr) AS BIGINT) AS sr,
       |    CAST(sum(vb * vb) AS BIGINT) AS sbb,
       |    CAST(sum(vg * vg) AS BIGINT) AS sgg,
       |    CAST(sum(vr * vr) AS BIGINT) AS srr,
       |    CAST(sum(vb * vg) AS BIGINT) AS sbg,
       |    CAST(sum(vb * vr) AS BIGINT) AS sbr,
       |    CAST(sum(vg * vr) AS BIGINT) AS sgr,
       |    CAST(sum(abs(vb - vg)) AS BIGINT) AS gap_bg,
       |    CAST(sum(abs(vb - vr)) AS BIGINT) AS gap_br
       |  FROM pix GROUP BY 1
       |)
       |SELECT doc_id, n_px, sb, sg, sr, sbb, sgg, srr, sbg, sbr, sgr,
       |  gap_bg, gap_br,
       |  ${corr("sbg", "sb", "sg", "sbb", "sgg")} AS corr_bg_micro,
       |  ${corr("sbr", "sb", "sr", "sbb", "srr")} AS corr_br_micro,
       |  ${corr("sgr", "sg", "sr", "sgg", "srr")} AS corr_gr_micro,
       |  CAST(CASE WHEN gap_bg = 0 AND gap_br = 0 THEN 1 ELSE 0 END
       |    AS BIGINT) AS is_gray
       |FROM mo ORDER BY doc_id""".stripMargin
  }

  /** M15 oracle: both motion sums recomputed from the payload text via
    * ord(substr(·)) — byte = char on the ASCII test corpus (the M1
    * oracle caveat); frame pairing over the same stride walk.
    */
  private val mediaMotionOracle =
    s"""WITH m AS (
       |  SELECT doc_id, text, $byteLenSql AS len FROM documents
       |),
       |fr AS (
       |  SELECT doc_id, text,
       |    CASE WHEN len >= ${MultimodalOps.FrameLen}
       |         THEN (len - ${MultimodalOps.FrameLen})
       |              // ${MultimodalOps.FrameStride} + 1
       |         ELSE 0 END AS n
       |  FROM m
       |),
       |pd AS (
       |  SELECT f.doc_id, g.i,
       |    abs(ord(substr(f.text,
       |          CAST(g.i * ${MultimodalOps.FrameStride} + p.p AS BIGINT),
       |          1))
       |      - ord(substr(f.text,
       |          CAST((g.i + 1) * ${MultimodalOps.FrameStride} + p.p
       |            AS BIGINT), 1))) AS d
       |  FROM fr f,
       |    unnest(range(0, f.n - 1)) AS g(i),
       |    unnest(range(1, ${MultimodalOps.FrameLen} + 1)) AS p(p)
       |),
       |ps AS (
       |  SELECT doc_id, i, CAST(sum(d) AS BIGINT) AS s
       |  FROM pd GROUP BY 1, 2
       |),
       |ag AS (
       |  SELECT doc_id, CAST(sum(s) AS BIGINT) AS motion_sum,
       |    CAST(max(s) AS BIGINT) AS max_pair_sum
       |  FROM ps GROUP BY 1
       |)
       |SELECT f.doc_id, CAST(f.n AS BIGINT) AS n_frames,
       |  CAST(greatest(f.n - 1, 0) AS BIGINT) AS n_pairs,
       |  CAST(COALESCE(a.motion_sum, 0) AS BIGINT) AS motion_sum,
       |  CAST(COALESCE(a.max_pair_sum, 0) AS BIGINT) AS max_pair_sum,
       |  CAST(CASE WHEN f.n - 1 > 0
       |       THEN (1000000 * COALESCE(a.motion_sum, 0))
       |            // ((f.n - 1) * ${MultimodalOps.FrameLen})
       |       ELSE 0 END AS BIGINT) AS motion_mean_micro
       |FROM fr f LEFT JOIN ag a USING (doc_id)
       |ORDER BY f.doc_id""".stripMargin

  /** M14 oracle: the M5 window framing recomputed from the WAV
    * generative closed form, the low-energy verdict an integer
    * compare, run bounds conditional min/max, trim_ppm a positive
    * integer floor-division.
    */
  private val mediaTrimOracle =
    s"""WITH wav AS (
       |  SELECT doc_id, 64 + doc_id % 64 AS n
       |  FROM documents WHERE doc_id % 2 = 1
       |),
       |s AS (
       |  SELECT w.doc_id, g.i,
       |    ((w.doc_id * 31 + g.i * 17) % 4096) - 2048 AS v
       |  FROM wav w, unnest(range(0, w.n)) AS g(i)
       |),
       |f AS (
       |  SELECT doc_id, CAST(i // ${MultimodalOps.EnergyWindow} AS BIGINT)
       |      AS window_idx,
       |    CAST(count(*) AS BIGINT) AS n_samples,
       |    CAST(sum(abs(v)) AS BIGINT) AS sum_abs
       |  FROM s GROUP BY 1, 2
       |),
       |w2 AS (
       |  SELECT doc_id, window_idx, n_samples,
       |    (sum_abs < ${MultimodalOps.LowMeanAbs} * n_samples) AS is_low
       |  FROM f
       |),
       |a AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
       |    CAST(sum(n_samples) AS BIGINT) AS n_samples,
       |    min(CASE WHEN NOT is_low THEN window_idx END) AS first_loud,
       |    max(CASE WHEN NOT is_low THEN window_idx END) AS last_loud
       |  FROM w2 GROUP BY 1
       |),
       |t AS (
       |  SELECT w2.doc_id, CAST(sum(w2.n_samples) AS BIGINT)
       |      AS trim_samples
       |  FROM w2 JOIN a USING (doc_id)
       |  WHERE a.first_loud IS NULL OR w2.window_idx < a.first_loud
       |     OR w2.window_idx > a.last_loud
       |  GROUP BY 1
       |)
       |SELECT a.doc_id, a.n_windows, a.n_samples,
       |  CAST(COALESCE(a.first_loud, -1) AS BIGINT) AS first_loud,
       |  CAST(COALESCE(a.last_loud, -1) AS BIGINT) AS last_loud,
       |  CAST(COALESCE(t.trim_samples, 0) AS BIGINT) AS trim_samples,
       |  CAST((1000000 * COALESCE(t.trim_samples, 0)) // a.n_samples
       |    AS BIGINT) AS trim_ppm
       |FROM a LEFT JOIN t USING (doc_id) ORDER BY a.doc_id""".stripMargin

  /** M13 oracle: both directional total-variation sums recomputed from
    * the BMP generative closed form (pixel byte k = (id·7 + k·13) mod
    * 256 in FILE row-major order, padding excluded) — the adjacency
    * set is flip-invariant, so the oracle never needs the header's
    * orientation; the per-pair mean is a positive integer
    * floor-division.
    */
  private val mediaTvOracle =
    """WITH bmp AS (
      |  SELECT doc_id, 4 + doc_id % 5 AS w, 2 + doc_id % 3 AS h
      |  FROM documents WHERE doc_id % 2 = 0
      |),
      |px AS MATERIALIZED (
      |  SELECT b.doc_id, g.j // b.w AS r, g.j % b.w AS c,
      |    (((b.doc_id * 7 + (3 * g.j) * 13) % 256)
      |     + ((b.doc_id * 7 + (3 * g.j + 1) * 13) % 256)
      |     + ((b.doc_id * 7 + (3 * g.j + 2) * 13) % 256)) // 3 AS gy
      |  FROM bmp b, unnest(range(0, b.w * b.h)) AS g(j)
      |),
      |tvh AS (
      |  SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_h,
      |    CAST(sum(abs(b.gy - a.gy)) AS BIGINT) AS tv_h
      |  FROM px a JOIN px b ON a.doc_id = b.doc_id AND a.r = b.r
      |    AND b.c = a.c + 1
      |  GROUP BY 1),
      |tvv AS (
      |  SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_v,
      |    CAST(sum(abs(b.gy - a.gy)) AS BIGINT) AS tv_v
      |  FROM px a JOIN px b ON a.doc_id = b.doc_id AND b.r = a.r + 1
      |    AND b.c = a.c
      |  GROUP BY 1)
      |SELECT m.doc_id, CAST(m.w AS BIGINT) AS width,
      |  CAST(m.h AS BIGINT) AS height, h.n_h, v.n_v, h.tv_h, v.tv_v,
      |  CAST((1000000 * (h.tv_h + v.tv_v)) // (h.n_h + v.n_v)
      |    AS BIGINT) AS tv_pair_micro
      |FROM bmp m JOIN tvh h USING (doc_id) JOIN tvv v USING (doc_id)
      |ORDER BY m.doc_id""".stripMargin

  /** M10 oracle: crossings recomputed from the WAV generative closed
    * form via a per-doc lag window — zero counted NON-NEGATIVE on both
    * sides (the decoder's `>= 0` sign class), ppm an integer division
    * of exact integers.
    */
  private val mediaZcrOracle =
    """WITH wav AS (
      |  SELECT doc_id, 64 + doc_id % 64 AS n
      |  FROM documents WHERE doc_id % 2 = 1
      |),
      |s AS (
      |  SELECT w.doc_id, g.i,
      |    ((w.doc_id * 31 + g.i * 17) % 4096) - 2048 AS v
      |  FROM wav w, unnest(range(0, w.n)) AS g(i)
      |),
      |x AS (
      |  SELECT doc_id, v,
      |    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
      |  FROM s
      |),
      |c AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
      |    CAST(sum(CASE WHEN pv IS NOT NULL
      |                    AND ((v >= 0) <> (pv >= 0))
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_cross
      |  FROM x GROUP BY 1
      |)
      |SELECT doc_id, n_samples, n_cross,
      |  CASE WHEN n_samples > 1
      |       THEN (1000000 * n_cross) // (n_samples - 1)
      |       ELSE CAST(0 AS BIGINT) END AS zcr_ppm
      |FROM c ORDER BY doc_id""".stripMargin

  /** M12 oracle: clipping + crest recomputed from the WAV generative
    * closed form; the integer moments CAST (the HUGEINT lesson), the
    * ppm a positive integer floor-division, crest ONE double tree
    * (max_abs / sqrt(sum_sq / n) — `/` on BIGINTs is double division
    * in both engines, sqrt IEEE) mirrored verbatim, zero-energy
    * guarded to 0.
    */
  private val mediaClippingOracle =
    s"""WITH wav AS (
       |  SELECT doc_id, 64 + doc_id % 64 AS n
       |  FROM documents WHERE doc_id % 2 = 1
       |),
       |s AS (
       |  SELECT w.doc_id,
       |    ((w.doc_id * 31 + g.i * 17) % 4096) - 2048 AS v
       |  FROM wav w, unnest(range(0, w.n)) AS g(i)
       |),
       |c AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
       |    CAST(max(abs(v)) AS BIGINT) AS max_abs,
       |    CAST(sum(CASE WHEN abs(v) >= ${MultimodalQueries.ClipAbs}
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_clip,
       |    CAST(sum(v * v) AS BIGINT) AS sum_sq
       |  FROM s GROUP BY 1
       |)
       |SELECT doc_id, n_samples, max_abs, n_clip, sum_sq,
       |  CAST((1000000 * n_clip) // n_samples AS BIGINT) AS clip_ppm,
       |  CASE WHEN sum_sq = 0 THEN CAST(0 AS BIGINT)
       |       ELSE ${graft.functions.Hashing.microSql(
                  "max_abs / sqrt(sum_sq / n_samples)")}
       |  END AS crest_micro
       |FROM c ORDER BY doc_id""".stripMargin

  /** M6 oracle: the 2× box filter replayed over the generative pixel
    * grid in IMAGE coordinates — the byte index of image row r is
    * `(h-1-r)·3w + 3c + ch` (bottom-up storage), so a decoder that
    * pools in file order without flipping fails on every odd-height
    * image. `sum // count` mirrors the engine's positive integer
    * division.
    */
  /** M7 oracle: dHash recomputed from the generative closed form
    * (gray = channel-sum // 3 over the pixel recurrence, gradient
    * bits summed at index r·(w−1)+c), classes paired by an explicit
    * hash-level join with `bit_count(xor)` — the pigeonhole-banded
    * Spark candidates are exactly the Hamming ≤ 3 pairs, so the plain
    * join mirrors the result set.
    */
  private val mediaPhashOracle =
    """WITH bmp AS (
      |  SELECT doc_id, 4 + doc_id % 5 AS w, 2 + doc_id % 3 AS h
      |  FROM documents WHERE doc_id % 2 = 0
      |),
      |g AS (
      |  SELECT b.doc_id, b.w, gr.r, gc.c,
      |    ((b.doc_id * 7 +
      |      ((b.h - 1 - gr.r) * 3 * b.w + gc.c * 3 + 0) * 13) % 256 +
      |     (b.doc_id * 7 +
      |      ((b.h - 1 - gr.r) * 3 * b.w + gc.c * 3 + 1) * 13) % 256 +
      |     (b.doc_id * 7 +
      |      ((b.h - 1 - gr.r) * 3 * b.w + gc.c * 3 + 2) * 13) % 256)
      |    // 3 AS g
      |  FROM bmp b,
      |       unnest(range(0, b.h)) AS gr(r),
      |       unnest(range(0, b.w)) AS gc(c)
      |),
      |dh AS (
      |  SELECT a.doc_id,
      |    CAST(sum(CASE WHEN bn.g > a.g THEN CAST(1 AS BIGINT)
      |                  ELSE CAST(0 AS BIGINT) END
      |             << (a.r * (a.w - 1) + a.c)) AS BIGINT) AS dhash
      |  FROM g a JOIN g bn ON a.doc_id = bn.doc_id AND a.r = bn.r
      |       AND bn.c = a.c + 1
      |  GROUP BY 1
      |),
      |cls AS (
      |  SELECT dhash, count(*) AS n, min(doc_id) AS exemplar
      |  FROM dh GROUP BY 1
      |),
      |near AS (
      |  SELECT a.dhash AS h1, b.dhash AS h2,
      |    CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming,
      |    a.n AS n1, b.n AS n2, a.n * b.n AS n_pairs,
      |    a.exemplar AS exemplar1, b.exemplar AS exemplar2
      |  FROM cls a JOIN cls b ON a.dhash < b.dhash
      |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
      |),
      |selfp AS (
      |  SELECT dhash AS h1, dhash AS h2, CAST(0 AS BIGINT) AS hamming,
      |    n AS n1, n AS n2, n * (n - 1) // 2 AS n_pairs,
      |    exemplar AS exemplar1, exemplar AS exemplar2
      |  FROM cls WHERE n >= 2
      |)
      |SELECT * FROM selfp UNION ALL SELECT * FROM near
      |ORDER BY h1, h2""".stripMargin

  /** M21 oracle CTE prefix: per-doc MCU grid with the generative
    * (y, cb, cr) and the fixed-point RGB mirror. Every mod argument is
    * non-negative, so `%` agrees across engines; the conversion's
    * arithmetic shift mirrors as an exact double floor.
    */
  private val jpegMcuCte =
    """WITH j AS (
      |  SELECT doc_id, 16 * (1 + doc_id % 3) AS w,
      |         16 * (1 + (doc_id // 4) % 2) AS h
      |  FROM documents
      |),
      |mcu AS (
      |  SELECT j.doc_id, j.w, j.h, g.m,
      |    128 + 16 * ((j.doc_id + 3 * g.m) % 9 - 4) AS y,
      |    128 + 17 * ((5 * j.doc_id + 7 * g.m) % 5 - 2) AS cb,
      |    128 + 17 * ((11 * j.doc_id + 13 * g.m) % 5 - 2) AS cr
      |  FROM j, unnest(range(0, (j.w // 16) * (j.h // 16))) AS g(m)
      |),
      |px AS (
      |  SELECT doc_id, w, h, m, y, cb, cr,
      |    y + CAST(floor((91881 * (cr - 128) + 32768) / 65536.0)
      |        AS BIGINT) AS r,
      |    y - CAST(floor((22554 * (cb - 128) + 46802 * (cr - 128)
      |        + 32768) / 65536.0) AS BIGINT) AS gg,
      |    y + CAST(floor((116130 * (cb - 128) + 32768) / 65536.0)
      |        AS BIGINT) AS b
      |  FROM mcu
      |)""".stripMargin

  /** M23 oracle: the generative byte stream (7·id + 13·k mod 256 over
    * the 3wh interleaved samples) aggregated per doc and per channel —
    * never a byte of container parsed.
    */
  private val pngDecodeOracle =
    """WITH p AS (
      |  SELECT doc_id, 8 + doc_id % 9 AS w, 6 + (doc_id // 3) % 7 AS h
      |  FROM documents
      |),
      |px AS (
      |  SELECT p.doc_id, p.w, p.h, g.k,
      |    (7 * p.doc_id + 13 * g.k) % 256 AS v
      |  FROM p, unnest(range(0, 3 * p.w * p.h)) AS g(k)
      |)
      |SELECT doc_id,
      |  CAST(max(w) AS BIGINT) AS width,
      |  CAST(max(h) AS BIGINT) AS height,
      |  CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(sum(v) AS BIGINT) AS sum_px,
      |  CAST(min(v) AS BIGINT) AS min_px,
      |  CAST(max(v) AS BIGINT) AS max_px,
      |  CAST(sum(CASE WHEN k % 3 = 0 THEN v ELSE 0 END) AS BIGINT)
      |    AS sum_r,
      |  CAST(sum(CASE WHEN k % 3 = 1 THEN v ELSE 0 END) AS BIGINT)
      |    AS sum_g,
      |  CAST(sum(CASE WHEN k % 3 = 2 THEN v ELSE 0 END) AS BIGINT)
      |    AS sum_b
      |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val jpegDecodeOracle =
    s"""$jpegMcuCte
       |SELECT doc_id,
       |  CAST(max(w) AS BIGINT) AS width,
       |  CAST(max(h) AS BIGINT) AS height,
       |  CAST(count(*) AS BIGINT) AS n_mcus,
       |  CAST(sum(256 * y) AS BIGINT) AS sum_y,
       |  CAST(min(y) AS BIGINT) AS min_y,
       |  CAST(max(y) AS BIGINT) AS max_y,
       |  CAST(sum(256 * cb) AS BIGINT) AS sum_cb,
       |  CAST(sum(256 * cr) AS BIGINT) AS sum_cr,
       |  CAST(sum(256 * r) AS BIGINT) AS sum_r,
       |  CAST(sum(256 * gg) AS BIGINT) AS sum_g,
       |  CAST(sum(256 * b) AS BIGINT) AS sum_b
       |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val jpegPhashOracle =
    s"""$jpegMcuCte,
       |gry AS (
       |  SELECT doc_id, w // 16 AS gw, m // (w // 16) AS gr,
       |    m % (w // 16) AS gc, (r + gg + b) // 3 AS g
       |  FROM px
       |),
       |dh AS (
       |  SELECT a.doc_id,
       |    CAST(coalesce(sum(CASE WHEN bn.g > a.g THEN CAST(1 AS BIGINT)
       |                  ELSE CAST(0 AS BIGINT) END
       |             << (a.gr * (a.gw - 1) + a.gc)), 0) AS BIGINT) AS dhash
       |  FROM gry a LEFT JOIN gry bn ON a.doc_id = bn.doc_id
       |       AND a.gr = bn.gr AND bn.gc = a.gc + 1
       |  WHERE a.gc < a.gw - 1 OR a.gw = 1
       |  GROUP BY 1
       |),
       |cls AS (
       |  SELECT dhash, count(*) AS n, min(doc_id) AS exemplar
       |  FROM dh GROUP BY 1
       |),
       |near AS (
       |  SELECT a.dhash AS h1, b.dhash AS h2,
       |    CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming,
       |    a.n AS n1, b.n AS n2, a.n * b.n AS n_pairs,
       |    a.exemplar AS exemplar1, b.exemplar AS exemplar2
       |  FROM cls a JOIN cls b ON a.dhash < b.dhash
       |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
       |),
       |selfp AS (
       |  SELECT dhash AS h1, dhash AS h2, CAST(0 AS BIGINT) AS hamming,
       |    n AS n1, n AS n2, n * (n - 1) // 2 AS n_pairs,
       |    exemplar AS exemplar1, exemplar AS exemplar2
       |  FROM cls WHERE n >= 2
       |)
       |SELECT * FROM selfp UNION ALL SELECT * FROM near
       |ORDER BY h1, h2""".stripMargin

  private val mediaResizeOracle =
    """WITH bmp AS (
      |  SELECT doc_id, 4 + doc_id % 5 AS w, 2 + doc_id % 3 AS h
      |  FROM documents WHERE doc_id % 2 = 0
      |),
      |px AS (
      |  SELECT b.doc_id, b.w, b.h, gr.r, gc.c, gk.ch,
      |    (b.doc_id * 7 +
      |     ((b.h - 1 - gr.r) * 3 * b.w + gc.c * 3 + gk.ch) * 13) % 256
      |      AS v
      |  FROM bmp b,
      |       unnest(range(0, b.h)) AS gr(r),
      |       unnest(range(0, b.w)) AS gc(c),
      |       unnest(range(0, 3)) AS gk(ch)
      |),
      |boxes AS (
      |  SELECT doc_id, w, h, r // 2 AS r2, c // 2 AS c2, ch,
      |    CAST(sum(v) // count(*) AS BIGINT) AS pv
      |  FROM px GROUP BY 1, 2, 3, 4, 5, 6
      |)
      |SELECT doc_id,
      |  CAST(max(w) AS BIGINT) AS src_w,
      |  CAST(max(h) AS BIGINT) AS src_h,
      |  CAST((max(w) + 1) // 2 AS BIGINT) AS out_w,
      |  CAST((max(h) + 1) // 2 AS BIGINT) AS out_h,
      |  count(*) AS n_px,
      |  CAST(sum(pv) AS BIGINT) AS sum_px,
      |  min(pv) AS min_px, max(pv) AS max_px
      |FROM boxes GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** M8 oracle: the Spark side SNIFFS real bytes; the oracle recomputes
    * ground truth from the generator's closed form — payload format is
    * doc_id parity, the declared tag flips on the id ≡ 3 (mod 7)
    * mislabel subset. Agreement means the byte-level sniff recovered
    * exactly the planted truth.
    */
  private val mediaMagicOracle =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS actual,
       |    CASE WHEN doc_id % 7 = 3
       |         THEN CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'bmp' END
       |         ELSE CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END
       |    END AS declared
       |  FROM documents
       |),
       |cells AS (
       |  SELECT declared, actual AS sniffed,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM m GROUP BY 1, 2
       |),
       |tot AS (SELECT declared, CAST(sum(n) AS BIGINT) AS t
       |        FROM cells GROUP BY 1)
       |SELECT c.declared, c.sniffed, c.n,
       |  ${graft.functions.Hashing.microSql("c.n / t.t")} AS frac_micro
       |FROM cells c JOIN tot t USING (declared)
       |ORDER BY c.declared, c.sniffed""".stripMargin

  /** M9 oracle: ground truth from the generator closed form — BMP
    * declared = 54 + stride·h, WAV declared = 44 + 2n, the id ≡ 5
    * (mod 11) subset is 10 bytes short. Agreement means the header
    * size-field reads recovered exactly the planted truth.
    */
  private val mediaIntegrityOracle =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS kind,
       |    CASE WHEN doc_id % 2 = 0
       |         THEN 54 + ((3 * (4 + doc_id % 5) + 3) // 4) * 4
       |              * (2 + doc_id % 3)
       |         ELSE 44 + 2 * (64 + doc_id % 64)
       |    END AS declared
       |  FROM documents
       |),
       |w AS (
       |  SELECT kind, CAST(declared AS BIGINT) AS declared,
       |    CAST(CASE WHEN doc_id % 11 = 5 THEN declared - 10
       |              ELSE declared END AS BIGINT) AS actual
       |  FROM m
       |)
       |SELECT kind, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN actual = declared THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_ok,
       |  CAST(sum(CASE WHEN actual < declared THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_truncated,
       |  CAST(sum(CASE WHEN actual > declared THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_trailing,
       |  CAST(sum(CASE WHEN actual < declared THEN declared - actual
       |                ELSE 0 END) AS BIGINT) AS missing_bytes
       |FROM w GROUP BY 1 ORDER BY kind""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_media_magic"    -> (qMediaMagic _),
    "q_media_integrity" -> (qMediaIntegrity _),
    "q_media_meta"     -> (qMediaMeta _),
    "q_media_frames"   -> (qMediaFrames _),
    "q_media_features" -> (qMediaFeatures _),
    "q_media_dedup"    -> (qMediaDedup _),
    "q_media_energy"   -> (qMediaEnergy _),
    "q_media_zcr"      -> (qMediaZcr _),
    "q_media_clipping" -> (qMediaClipping _),
    "q_media_hist"     -> (qMediaHist _),
    "q_media_tv"       -> (qMediaTv _),
    "q_media_autocorr" -> (qMediaAutocorr _),
    "q_media_dc"       -> (qMediaDc _),
    "q_media_goertzel" -> (qMediaGoertzel _),
    "q_media_clip_runs" -> (qMediaClipRuns _),
    "q_media_trim"     -> (qMediaTrim _),
    "q_media_motion"   -> (qMediaMotion _),
    "q_media_channels" -> (qMediaChannels _),
    "q_media_resize"   -> (qMediaResize _),
    "q_media_phash"    -> (qMediaPhash _),
    "q_jpeg_decode"    -> (qJpegDecode _),
    "q_png_decode"     -> (qPngDecode _),
    "q_jpeg_phash"     -> (qJpegPhash _))

  val oracles: Map[String, String] = Map(
    "q_media_meta"     -> mediaMetaOracle,
    "q_media_frames"   -> mediaFramesOracle,
    "q_media_features" -> mediaFeaturesOracle,
    "q_media_dedup"    -> mediaDedupOracle,
    "q_media_energy"   -> mediaEnergyOracle,
    "q_media_zcr"      -> mediaZcrOracle,
    "q_media_clipping" -> mediaClippingOracle,
    "q_media_hist"     -> mediaHistOracle,
    "q_media_tv"       -> mediaTvOracle,
    "q_media_autocorr" -> mediaAutocorrOracle,
    "q_media_dc"       -> mediaDcOracle,
    "q_media_goertzel" -> mediaGoertzelOracle,
    "q_media_clip_runs" -> mediaClipRunsOracle,
    "q_media_trim"     -> mediaTrimOracle,
    "q_media_motion"   -> mediaMotionOracle,
    "q_media_channels" -> mediaChannelsOracle,
    "q_media_resize"   -> mediaResizeOracle,
    "q_media_phash"    -> mediaPhashOracle,
    "q_jpeg_decode"    -> jpegDecodeOracle,
    "q_png_decode"     -> pngDecodeOracle,
    "q_jpeg_phash"     -> jpegPhashOracle,
    "q_media_magic"    -> mediaMagicOracle,
    "q_media_integrity" -> mediaIntegrityOracle)
}
