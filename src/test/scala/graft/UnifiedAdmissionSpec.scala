package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sources.{FingerprintStore, GramStore, Tables, VectorStore}
import graft.streaming.UnifiedAdmission

/** The unified three-signal admission gate end-to-end: documents
  * admitted in batch N are rejected in batch N+1 by EACH signal
  * independently — textual near-copy (winnow), exact shared span
  * (substring), embedding doppelgänger (vector) — under one quarantine
  * schema.
  */
class UnifiedAdmissionSpec extends SparkSpec {
  import sqlImplicits._

  private val cfg = UnifiedAdmission.Config(
    winnowK = 8, winnowW = 4, winnowMaxDf = 1000L,
    winnowRatioMicroMin = 200000L,
    gramK = 32, gramMaxDf = 50L, gramMinShared = 1L,
    cosMicroMin = 900000L)

  test("each signal independently rejects its batch-N+1 doppelgänger") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val fpTable = "uni_fp_store"
    val gramTable = "uni_gram_store"
    val vecPath = Files.createTempDirectory("graft-uni-vec").toString

    // deterministic embeddings orthogonal to the trained codebook span
    // (cos ~0 against everything stored) — the VectorAdmissionSpec
    // construction
    VectorStore.save(emb, vecPath, 10)
    val meta = VectorStore.readMeta(spark, vecPath)
    val cents0 = meta.cents.map(_.map(_.toDouble))
    val dims = cents0.head.length
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val basis = cents0.foldLeft(Vector.empty[Array[Double]]) { (bs, c) =>
      val r = c.clone()
      bs.foreach { b => val d = dot(r, b)
        (0 until dims).foreach(i => r(i) -= d * b(i)) }
      val n = math.sqrt(dot(r, r))
      if (n > 1e-9) bs :+ r.map(_ / n) else bs
    }
    def orthVec(seed: Int): Array[Float] = {
      val x = new Array[Double](dims)
      x(seed % dims) = 1.0
      basis.foreach { b => val d = dot(x, b)
        (0 until dims).foreach(i => x(i) -= d * b(i)) }
      val n = math.sqrt(dot(x, x))
      x.map(v => (v / n).toFloat)
    }

    // seed the text stores with one long already-admitted document
    val seedText = "seed document about structured streaming micro " +
      "batches checkpoint recovery and exactly once sinks in spark " +
      "engines with watermarked stateful aggregation everywhere"
    val seed = Seq((1L, seedText)).toDF("doc_id", "text")
    FingerprintStore.save(seed, cfg.winnowK, cfg.winnowW, 80, 10, fpTable)
    GramStore.save(seed, cfg.gramK, gramTable)

    // batch-1 texts — fresh, long enough to winnow and gram
    val ta = "alpha " + (0 until 8).map(i =>
      s"segment$i aviation telemetry parsing rollout").mkString(" ")
    val tb = "bravo " + (0 until 8).map(i =>
      s"unit$i catalyst expression codegen planning stage").mkString(" ")
    // batch-2 constructions:
    // near-copy of ta with every 25th char mutated — shares many
    // >=11-char runs (winnow fires) but no 32-char exact run
    // (substring cannot fire)
    val nearTa = ta.zipWithIndex.map { case (c, i) =>
      if (i % 25 == 24) 'q' else c }.mkString
    assert(!nearTa.sliding(cfg.gramK).exists(ta.contains _),
      "near-copy must not contain any exact 32-char span of ta")
    // fresh 600-char text carrying ONE 40-char exact span of tb —
    // substring fires; winnow ratio ~40/600 stays under 20%
    val span = tb.substring(10, 50)
    val filler = (0 until 14).map(i =>
      s"filler$i independent prose about unrelated topics").mkString(" ")
    val spanThief = filler.take(300) + " " + span + " " + filler.drop(300)
    val tc = "charlie completely unrelated text about winnowing and " +
      "shingles plus locality sensitive hashing for deduplication work"
    val td = "delta yet another unrelated piece about bucketed join " +
      "layouts partition pruning and broadcast hash joins in engines"

    val corpusDir = Files.createTempDirectory("graft-uni-corpus").toString
    val quarDir = Files.createTempDirectory("graft-uni-quar").toString
    val ckpt = Files.createTempDirectory("graft-uni-ckpt").toString
    try {
      val ms = MemoryStream[(Long, String, Array[Float])](spark)
      val q = UnifiedAdmission.admission(fpTable, gramTable, vecPath,
          corpusDir, quarDir, cfg)
        .start(ms.toDF().toDF("doc_id", "text", "embedding"), ckpt)
      try {
        // batch 1: two fresh docs — admitted, appended to all stores
        ms.addData((9100L, ta, orthVec(0)), (9101L, tb, orthVec(1)))
        q.processAllAvailable()
        // batch 2: one doppelgänger per signal + one fresh doc
        ms.addData(
          (9200L, nearTa, orthVec(2)),            // winnow-only vs 100
          (9201L, spanThief, orthVec(3)),         // substring-only vs 101
          (9202L, tc, orthVec(0)),                // vector-only vs 100
          (9203L, td, orthVec(4)))                // fresh
        q.processAllAvailable()
      } finally q.stop()

      val admitted = spark.read.parquet(corpusDir).collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(admitted === Set(9100L, 9101L, 9203L),
        s"batch-1 docs + the fresh batch-2 doc: $admitted")

      val quar = spark.read.parquet(quarDir).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("signal"),
          r.getAs[Long]("matched_id"), r.getAs[Long]("score")))
      val bySignalSets = quar.groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      // each doppelgänger is caught by EXACTLY its one signal — the
      // independence claim — and matches the batch-1 doc it shadows
      assert(bySignalSets === Map(
        9200L -> Set("winnow"), 9201L -> Set("substring"),
        9202L -> Set("vector")), s"signals: ${quar.toSeq}")
      val matched = quar.map(t => (t._1, t._2) -> t._3).toMap
      assert(matched((9200L, "winnow")) === 9100L)
      assert(matched((9201L, "substring")) === 9101L)
      assert(matched((9202L, "vector")) === 9100L)
      // scores carry the per-signal semantics
      val score = quar.map(t => (t._1, t._2) -> t._4).toMap
      assert(score((9200L, "winnow")) >= cfg.winnowRatioMicroMin)
      assert(score((9201L, "substring")) >= cfg.gramMinShared)
      assert(score((9202L, "vector")) === 1000000L, "exact embedding copy")

      // all three stores grew by exactly the admitted docs
      val fpDocs = FingerprintStore.load(spark, fpTable)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(fpDocs === Set(1L, 9100L, 9101L, 9203L))
      val gramDocs = GramStore.load(spark, gramTable)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(gramDocs === Set(1L, 9100L, 9101L, 9203L))
      val vecIds = spark.read.parquet(vecPath)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(Set(9100L, 9101L, 9203L).subsetOf(vecIds))
      assert(!vecIds.contains(9200L) && !vecIds.contains(9202L))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $fpTable")
      spark.sql(s"DROP TABLE IF EXISTS $gramTable")
    }
  }

  test("eval_overlap signal quarantines benchmark copies; silent when " +
    "no protected set is configured") {
    val fpTable = "uni_fp_ev"
    val gramTable = "uni_gram_ev"
    val evalTable = "uni_eval_grams"
    val vecPath = Files.createTempDirectory("graft-uni-vece").toString
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    VectorStore.save(emb, vecPath, 10)
    val seed = Seq((1L, "seed text long enough to populate the gram " +
      "store with thirty-two character spans")).toDF("doc_id", "text")
    FingerprintStore.save(seed, 8, 4, 80, 10, fpTable)
    GramStore.save(seed, 32, gramTable)
    // the protected benchmark suite: one eval question, its grams saved
    val benchText = (0 until 12).map(i =>
      s"question$i what is the capital of country$i region").mkString(" ")
    graft.sources.WordGramStore.saveDocs(
      Seq((500L, benchText)).toDF("doc_id", "text"), 8, evalTable)
    try {
      // duplicate + quality signals silenced: only eval_overlap can fire
      val cfg = UnifiedAdmission.Config(
        winnowRatioMicroMin = 1000001L, gramMinShared = Long.MaxValue,
        cosMicroMin = 1000001L,
        overlapN = 8, evalOverlapMicroMin = 700000L)
      val vec = Array.fill(64)(0.1f)
      val leak = "prefix words " + benchText // carries the benchmark verbatim
      val clean = (0 until 12).map(i =>
        s"article$i about unrelated engineering topic$i details").mkString(" ")
      val batch = Seq((8100L, leak, vec), (8101L, clean, vec))
        .toDF("doc_id", "text", "embedding")
      val (admitted, quarantined) = UnifiedAdmission.admitBatch(
        batch, fpTable, gramTable, vecPath, cfg, Some(evalTable))
      assert(admitted.select("doc_id").collect().map(_.getLong(0))
        .toSet === Set(8101L))
      val quar = quarantined.collect().map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[String]("signal"),
          r.getAs[Long]("matched_id"), r.getAs[Long]("score")))
      assert(quar.length === 1 && quar.head._1 === 8100L &&
        quar.head._2 === "eval_overlap" && quar.head._3 === -1L,
        s"got ${quar.toSeq}")
      assert(quar.head._4 >= 700000L,
        "score carries the overlap fraction")
      // without a protected set the same batch sails through
      val (admAll, quarNone) = UnifiedAdmission.admitBatch(batch,
        fpTable, gramTable, vecPath, cfg, None)
      assert(admAll.count() === 2L && quarNone.isEmpty,
        "eval_overlap is strictly opt-in")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $fpTable")
      spark.sql(s"DROP TABLE IF EXISTS $gramTable")
      spark.sql(s"DROP TABLE IF EXISTS $evalTable")
    }
  }

  test("quality signal quarantines intrinsically bad docs with a rule " +
    "bitmask; permissive defaults never fire") {
    val fpTable = "uni_fp_q"
    val gramTable = "uni_gram_q"
    val vecPath = Files.createTempDirectory("graft-uni-vecq").toString
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    VectorStore.save(emb, vecPath, 10)
    val seed = Seq((1L, "seed text long enough to populate the gram " +
      "store with thirty-two character spans")).toDF("doc_id", "text")
    FingerprintStore.save(seed, 8, 4, 80, 10, fpTable)
    GramStore.save(seed, 32, gramTable)
    try {
      // duplicate signals silenced (bars above their score ceilings) —
      // only quality can fire
      val qCfg = UnifiedAdmission.Config(
        winnowRatioMicroMin = 1000001L, gramMinShared = Long.MaxValue,
        cosMicroMin = 1000001L,
        qMinTok = 8L, qMaxTok = 1000L, qTtrMinMicro = 300000L,
        qTopMaxMicro = 500000L, qMinStops = 1L)
      val vec = Array.fill(64)(0.1f)
      val batch = Seq(
        (7100L, "the quick brown fox jumps over every lazy fence post",
          vec),
        (7101L, "spam spam spam spam", vec))
        .toDF("doc_id", "text", "embedding")
      val (admitted, quarantined) = UnifiedAdmission.admitBatch(
        batch, fpTable, gramTable, vecPath, qCfg)
      assert(admitted.select("doc_id").collect().map(_.getLong(0))
        .toSet === Set(7100L))
      val quar = quarantined.collect().map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[String]("signal"),
          r.getAs[Long]("matched_id"), r.getAs[Long]("score")))
      // 4 tokens (<8: bit 1), ttr 1/4 (bit 4), top share 4/4 (bit 8),
      // zero stopwords (bit 16); mean word length 4 passes -> 29
      assert(quar.toSeq === Seq((7101L, "quality", -1L, 29L)))

      // the same batch under default (permissive) quality bars sails
      // through — quality is opt-in
      val (admAll, quarNone) = UnifiedAdmission.admitBatch(batch,
        fpTable, gramTable, vecPath, UnifiedAdmission.Config(
          winnowRatioMicroMin = 1000001L,
          gramMinShared = Long.MaxValue, cosMicroMin = 1000001L))
      assert(admAll.count() === 2L && quarNone.isEmpty)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $fpTable")
      spark.sql(s"DROP TABLE IF EXISTS $gramTable")
    }
  }

  test("one decision per batch: the corpus sink and all three stores " +
    "receive the same admitted set") {
    // An in-batch near-duplicate pair is fresh w.r.t. the stores when
    // the batch is decided, so both are admitted. Once the first store
    // append lands, the pair matches each other in that store: a
    // decision re-evaluated after that append would drop both from the
    // later appends. Every write of the batch must see the one decision.
    val fpTable = "uni_fp_pin"
    val gramTable = "uni_gram_pin"
    val vecPath = Files.createTempDirectory("graft-uni-vecp").toString
    VectorStore.save(Tables.embeddings(spark, AdmissionFixtures.sf),
      vecPath, 10)
    val orthVec = AdmissionFixtures.orthogonal(spark, vecPath)
    val seed = Seq((1L, "seed document about structured streaming micro " +
      "batches checkpoint recovery and exactly once sinks in spark " +
      "engines with watermarked stateful aggregation everywhere"))
      .toDF("doc_id", "text")
    FingerprintStore.save(seed, cfg.winnowK, cfg.winnowW, 80, 10, fpTable)
    GramStore.save(seed, cfg.gramK, gramTable)
    val ta = "alpha " + (0 until 8).map(i =>
      s"segment$i aviation telemetry parsing rollout").mkString(" ")
    val nearTa = ta.zipWithIndex.map { case (c, i) =>
      if (i % 25 == 24) 'q' else c }.mkString
    val tc = "charlie completely unrelated text about winnowing and " +
      "shingles plus locality sensitive hashing for deduplication work"
    val corpusDir = Files.createTempDirectory("graft-uni-pin").toString
    val quarDir = Files.createTempDirectory("graft-uni-pinq").toString
    val ckpt = Files.createTempDirectory("graft-uni-pinc").toString
    val batchIds = Set(9300L, 9301L, 9302L)
    try {
      val ms = MemoryStream[(Long, String, Array[Float])](spark)
      val q = UnifiedAdmission.admission(fpTable, gramTable, vecPath,
          corpusDir, quarDir, cfg)
        .start(ms.toDF().toDF("doc_id", "text", "embedding"), ckpt)
      try {
        ms.addData((9300L, ta, orthVec(0)), (9301L, nearTa, orthVec(1)),
          (9302L, tc, orthVec(2)))
        q.processAllAvailable()
      } finally q.stop()

      def ids(df: org.apache.spark.sql.DataFrame, c: String): Set[Long] =
        df.select(c).distinct().collect().map(_.getLong(0)).toSet
          .intersect(batchIds)
      val corpus = ids(spark.read.parquet(corpusDir), "doc_id")
      assert(corpus === batchIds, "the pair is fresh at decision time")
      assert(ids(FingerprintStore.load(spark, fpTable), "doc_id") === corpus,
        "fingerprint store")
      assert(ids(GramStore.load(spark, gramTable), "doc_id") === corpus,
        "gram store")
      assert(ids(spark.read.parquet(vecPath), "vec_id") === corpus,
        "vector store")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $fpTable")
      spark.sql(s"DROP TABLE IF EXISTS $gramTable")
    }
  }
}
