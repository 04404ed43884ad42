package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.operators.TextOps
import graft.sources.{PairStore, ShingleStore, Tables}
import graft.streaming.IncrementalCuration

/** The composed daily-increment loop, end-to-end (VERDICT r15 item 1):
  * ingest → admission → fingerprint/shingle appends → incremental pair
  * derivation → PairStore merge → waterfall/card refresh, driven over
  * OUT-OF-ORDER batches with one batch REPLAYED — pinned bit-for-bit
  * against a from-scratch recompute over the realized admitted corpus.
  * The stores were each individually proven; this proves the loop a
  * deployment actually runs.
  */
class IncrementalPipelineSpec extends SparkSpec {

  private val base = "incpipe_test"
  private val cfg = IncrementalCuration.Config()

  private def dropAll(): Unit = Seq(
    s"${base}_fp", s"${base}_sh", s"${base}_sizes",
    s"${base}_pairs", s"${base}_components", s"${base}_docstats")
    .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("increment ≡ recompute: out-of-order batches + one replay " +
    "converge every store and serving output to the from-scratch state") {
    dropAll()
    val corpusDir = Files.createTempDirectory("incpipe-corpus").toString
    val quarDir = Files.createTempDirectory("incpipe-quar").toString
    try {
      val all = Tables.documents(spark, "/root/testdata/sf0.001")
        .select("doc_id", "source", "text")
      // four shards by doc_id stripe, DELIVERED OUT OF ORDER: the
      // admitted set is path-dependent (first-arrival wins), but every
      // derived artifact must equal the recompute over the REALIZED
      // corpus regardless of delivery order
      def shard(i: Int) = all.filter(
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.lit(4L)) === i.toLong)
      val order = Seq(2, 0, 3, 1)

      IncrementalCuration.init(spark, base, cfg)
      order.zipWithIndex.foreach { case (s, bid) =>
        IncrementalCuration.runIncrement(shard(s), bid.toLong,
          base, corpusDir, quarDir, cfg)
      }

      // ---- the from-scratch recompute over the realized corpus
      val admitted = IncrementalCuration.corpus(spark, corpusDir)
        .select("doc_id", "source", "text").cache()
      val nAdmitted = admitted.count()
      assert(nAdmitted > 0L && nAdmitted < 500L,
        s"fixture must admit some and quarantine some docs " +
          s"(admitted $nAdmitted of 500)")
      assert(spark.read.parquet(quarDir).count() > 0L,
        "fixture must exercise real quarantining")
      val full = TextOps.ngramJaccardPairs(admitted, cfg.n, cfg.maxDf,
        cfg.jacMicroMin).cache()
      assert(full.count() > 0L, "fixture must exercise real pairs")

      // (a) the persisted pair relation, metadata included
      assert(rowSet(PairStore.pairs(spark, base)) === rowSet(full))
      // (b) the persisted transitive closure
      assert(rowSet(PairStore.components(spark, base)) ===
        rowSet(TextOps.connectedComponents(full)))
      // (c) the served X80 waterfall vs the self-contained recompute
      val servedWf = IncrementalCuration
        .waterfall(spark, base, cfg).collect().map(_.toSeq)
      assert(servedWf.toSeq === TextOps.curationWaterfall(admitted,
        cfg.n, cfg.maxDf, cfg.jacMicroMin, cfg.qualityMicroMin)
        .collect().map(_.toSeq).toSeq)
      // (d) the corpus card
      val servedCard = rowSet(IncrementalCuration.card(spark, base))
      assert(servedCard === rowSet(TextOps.corpusCard(admitted)))

      // ---- replay fixed point: redeliver the LAST increment (its
      // fingerprints/shingles/pairs are all already stored) — every
      // readable store and every serving output must be byte-identical
      val before = Seq(
        rowSet(PairStore.pairs(spark, base)),
        rowSet(PairStore.components(spark, base)),
        rowSet(ShingleStore.shingles(spark, base)),
        rowSet(ShingleStore.sizes(spark, base)),
        rowSet(spark.table(IncrementalCuration.fpTable(base))
          .dropDuplicates("doc_id", "fingerprint")),
        rowSet(graft.sources.DocStatsStore.load(spark, base)))
      IncrementalCuration.runIncrement(shard(order.last),
        (order.size - 1).toLong, base, corpusDir, quarDir, cfg)
      val after = Seq(
        rowSet(PairStore.pairs(spark, base)),
        rowSet(PairStore.components(spark, base)),
        rowSet(ShingleStore.shingles(spark, base)),
        rowSet(ShingleStore.sizes(spark, base)),
        rowSet(spark.table(IncrementalCuration.fpTable(base))
          .dropDuplicates("doc_id", "fingerprint")),
        rowSet(graft.sources.DocStatsStore.load(spark, base)))
      assert(after === before,
        "a replayed increment must be a fixed point of every store")
      assert(IncrementalCuration.waterfall(spark, base, cfg)
        .collect().map(_.toSeq).toSeq === servedWf.toSeq)
      assert(rowSet(IncrementalCuration.card(spark, base)) ===
        servedCard)
      // the corpus sink replay OVERWROTE the same rows, not appended
      assert(IncrementalCuration.corpus(spark, corpusDir)
        .count() === nAdmitted)
      admitted.unpersist(); full.unpersist()
    } finally dropAll()
  }

  test("T30 composed: the eval-decontamination gate inside the " +
    "increment loop — contaminating docs never reach any store, the " +
    "final corpus audits clean, and increment ≡ recompute still holds") {
    val base3 = "incpipe_eval"
    val evalTable = s"${base3}_evalidx"
    def dropAll3(): Unit = (Seq(s"${base3}_fp", s"${base3}_sh",
      s"${base3}_sizes", s"${base3}_pairs", s"${base3}_components",
      s"${base3}_docstats", evalTable))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    dropAll3()
    import sqlImplicits._
    val corpusDir = Files.createTempDirectory("incpipe-e-corpus").toString
    val quarDir = Files.createTempDirectory("incpipe-e-quar").toString
    try {
      val cfg3 = cfg.copy(evalFpTable = Some(evalTable))
      // a curated eval suite: two docs drawn from the real corpus, so
      // their near-copies genuinely arrive in the stream shards
      val docs = Tables.documents(spark, "/root/testdata/sf0.001")
        .select("doc_id", "source", "text")
      val evalDocs = docs.filter(org.apache.spark.sql.functions
        .col("doc_id").isin(7L, 13L))
        .select(org.apache.spark.sql.functions.col("doc_id") + 900000L
          as "doc_id", org.apache.spark.sql.functions.col("text"))
      graft.sources.FingerprintStore.save(evalDocs, cfg3.k, cfg3.w,
        0, 0, evalTable)
      IncrementalCuration.init(spark, base3, cfg3)
      def shard(i: Int) = docs.filter(
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.lit(2L)) === i.toLong)
      Seq(1, 0).zipWithIndex.foreach { case (s, bid) =>
        IncrementalCuration.runIncrement(shard(s), bid.toLong,
          base3, corpusDir, quarDir, cfg3)
      }
      val admitted = IncrementalCuration.corpus(spark, corpusDir)
        .select("doc_id", "source", "text").cache()
      // (a) the verbatim eval sources were gated out (doc 7 and 13 ARE
      // their own eval twins at ratio 1.0)
      val ids = admitted.collect().map(_.getAs[Long]("doc_id")).toSet
      assert(!ids.contains(7L) && !ids.contains(13L),
        "docs identical to eval members must be quarantined")
      // (b) the final corpus audits CLEAN against the eval index
      assert(graft.sources.FingerprintStore.auditAgainstEval(spark,
        evalTable, admitted, cfg3.k, cfg3.w, cfg3.evalMaxDf,
        cfg3.evalRatioMicroMin).count() === 0L,
        "nothing in the admitted corpus may contaminate the eval suite")
      // (c) every decontam-quarantined doc is genuinely flagged by the
      // batch kernel (quarantine rows carry the eval doc as stored_doc)
      val quar = spark.read.parquet(quarDir)
        .filter(org.apache.spark.sql.functions.col("stored_doc")
          >= 900000L)
      assert(quar.count() > 0L, "fixture must exercise the eval gate")
      val flaggedIds = quar.collect().map(_.getAs[Long]("doc_id")).toSet
      val batchFlagged = graft.sources.FingerprintStore
        .auditAgainstEval(spark, evalTable,
          admitted.unionByName(quar.select("doc_id", "source", "text")),
          cfg3.k, cfg3.w, cfg3.evalMaxDf, cfg3.evalRatioMicroMin)
        .collect().map(_.getAs[Long]("new_doc")).toSet
      assert(flaggedIds === batchFlagged,
        "the gate's verdicts must be the batch kernel's")
      // (d) the dedup stores still satisfy increment ≡ recompute over
      // the (now eval-clean) realized corpus
      val full = TextOps.ngramJaccardPairs(admitted, cfg3.n, cfg3.maxDf,
        cfg3.jacMicroMin)
      assert(rowSet(PairStore.pairs(spark, base3)) === rowSet(full))
      admitted.unpersist()
    } finally dropAll3()
  }

  test("streaming form: the foreachBatch loop reaches the same " +
    "fixed point as the batch-driven increments") {
    dropAll()
    val base2 = "incpipe_stream"
    def dropAll2(): Unit = Seq(
      s"${base2}_fp", s"${base2}_sh", s"${base2}_sizes",
      s"${base2}_pairs", s"${base2}_components", s"${base2}_docstats")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    dropAll2()
    import sqlImplicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val corpusDir = Files.createTempDirectory("incpipe-s-corpus").toString
    val quarDir = Files.createTempDirectory("incpipe-s-quar").toString
    val ckpt = Files.createTempDirectory("incpipe-s-ckpt").toString
    try {
      IncrementalCuration.init(spark, base2, cfg)
      val ms = MemoryStream[(Long, String, String)](spark)
      val q = IncrementalCuration.admission(base2, corpusDir, quarDir, cfg)
        .start(ms.toDF().toDF("doc_id", "source", "text"), ckpt)
      try {
        ms.addData(
          (1L, "web", "alpha beta gamma delta epsilon zeta eta theta " +
            "iota kappa lambda mu"),
          (2L, "web", "completely unrelated words about spark " +
            "catalyst expressions and banded joins over buckets"))
        q.processAllAvailable()
        // batch 2: an in-batch D2 near-dup pair (13 tokens, last word
        // differs -> 9 shingles, 8 shared, jac = 8/10 exactly at the
        // 0.8 bar — the batch boundary is admission's consistency
        // unit, so BOTH admit and the pair must surface through the
        // store-backed incremental derivation), plus an exact copy of
        // batch 1's doc 1 (the cross-batch winnow gate quarantines it)
        ms.addData(
          (3L, "books", "one two three four five six seven eight " +
            "nine ten eleven twelve thirteen"),
          (4L, "books", "one two three four five six seven eight " +
            "nine ten eleven twelve fourteen"),
          (5L, "web", "alpha beta gamma delta epsilon zeta eta theta " +
            "iota kappa lambda mu"))
        q.processAllAvailable()
      } finally q.stop()
      val admitted = IncrementalCuration.corpus(spark, corpusDir)
        .select("doc_id", "source", "text")
      assert(admitted.collect().map(_.getAs[Long]("doc_id")).toSet ===
        Set(1L, 2L, 3L, 4L),
        "5 must be quarantined by the cross-batch winnow gate")
      val full = TextOps.ngramJaccardPairs(admitted, cfg.n, cfg.maxDf,
        cfg.jacMicroMin)
      assert(rowSet(PairStore.pairs(spark, base2)) === rowSet(full))
      assert(PairStore.pairs(spark, base2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
        Set((3L, 4L)),
        "the in-batch near-dup pair (3,4) must be found through the " +
          "shingle store")
      assert(IncrementalCuration.waterfall(spark, base2, cfg)
        .collect().map(_.toSeq).toSeq ===
        TextOps.curationWaterfall(admitted, cfg.n, cfg.maxDf,
          cfg.jacMicroMin, cfg.qualityMicroMin)
          .collect().map(_.toSeq).toSeq)
    } finally dropAll2()
  }
}
