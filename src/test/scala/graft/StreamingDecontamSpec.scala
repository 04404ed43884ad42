package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.Hashing.md5Long
import graft.operators.{TextOps, TextQueries}
import graft.sources.{FingerprintStore, GramStore, Tables, VectorStore}
import graft.streaming.UnifiedAdmission

/** T30 — streaming decontamination admission: the X30 batch
  * decontaminator's live twin, gating incoming train candidates
  * against a PROTECTED eval winnow-fingerprint index at ingest
  * (VERDICT r15 item 6). Three pins:
  *  1. the gate's verdicts are TIME-INVARIANT: sharded audits in any
  *     order union to the one-shot batch audit bit-for-bit, and a
  *     replayed shard re-derives exactly its original rows — the
  *     property [[TextOps.evalGatePairs]]'s eval-side-only df cap buys;
  *  2. the streaming form (UnifiedAdmission's `decontam` signal)
  *     quarantines contaminating docs with the eval doc as matched_id
  *     and reaches the same verdicts as the batch kernel over the
  *     union of all streamed batches;
  *  3. on a corpus where no fingerprint crosses either rule's df cap,
  *     the gate's flagged pairs ARE q_contamination's pairs and its
  *     drop set IS q_decontam's train-side drop count — the admission
  *     rule and the release-note audit agree.
  */
class StreamingDecontamSpec extends SparkSpec {
  import sqlImplicits._

  private def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("shard-invariance + replay: unioned per-shard audits ≡ the " +
    "one-shot batch audit, bit-for-bit, in any delivery order") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val evalDocs = docs.filter(pmod(col("doc_id"), lit(7L)) === 0L)
    val train = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 0L)
    val evalTable = "sdc_eval_fp"
    val (k, w) = (TextQueries.WinnowK, TextQueries.WinnowW)
    val (maxDf, bar) = (TextQueries.ContamMaxDf, 200000L)
    // trainPct=0/valPct=0 → every eval doc lands split 'test'; the
    // gate ignores the split column, the store layout is what matters
    FingerprintStore.save(evalDocs, k, w, 0, 0, evalTable)
    try {
      val oneShot = FingerprintStore.auditAgainstEval(spark, evalTable,
        train, k, w, maxDf, bar)
      assert(oneShot.count() > 0L,
        "fixture must exercise real contamination")
      def shard(i: Int) = train.filter(
        pmod(col("doc_id"), lit(3L)) === i.toLong)
      val order = Seq(2, 0, 1)
      val sharded = order.map(i =>
        FingerprintStore.auditAgainstEval(spark, evalTable, shard(i),
          k, w, maxDf, bar))
      assert(sharded.map(rowSet).reduce(_ ++ _) === rowSet(oneShot),
        "out-of-order shard audits must union to the one-shot audit")
      // replay fixed point: a shard re-audited verbatim re-derives
      // exactly its original rows (nothing about the decision depends
      // on what was admitted in between — the eval index is static)
      assert(rowSet(FingerprintStore.auditAgainstEval(spark, evalTable,
          shard(order.head), k, w, maxDf, bar)) ===
        rowSet(sharded.head))
    } finally spark.sql(s"DROP TABLE IF EXISTS $evalTable")
  }

  test("streaming gate: a train candidate covering an eval doc is " +
    "quarantined at ingest with signal decontam; verdicts match the " +
    "batch kernel over the union of batches") {
    val fpTable = "sdc_fp_store"
    val gramTable = "sdc_gram_store"
    val evalTable = "sdc_eval_store"
    val vecPath = Files.createTempDirectory("sdc-vec").toString
    val corpusDir = Files.createTempDirectory("sdc-corpus").toString
    val quarDir = Files.createTempDirectory("sdc-quar").toString
    val ckpt = Files.createTempDirectory("sdc-ckpt").toString
    // config isolates the decontam signal: winnow/substring/vector
    // bars sit ABOVE their domain maxima (micro ratios top out at 1e6)
    // so only the eval gate can fire
    val cfg = UnifiedAdmission.Config(
      winnowRatioMicroMin = 1000001L, gramMinShared = Long.MaxValue,
      cosMicroMin = 1000001L,
      evalFpMaxDf = 1000L, evalFpRatioMicroMin = 500000L)
    val evalText = "the quick brown fox jumps over the lazy dog while " +
      "seventy benchmark questions probe reading comprehension depth"
    val contamText = evalText + " extra trailing words appended"
    val freshText = "completely independent prose about catalyst " +
      "optimizer rules bucketed joins and adaptive query execution"
    val fresh2Text = "another unrelated document concerning parquet " +
      "row groups min max statistics and predicate pushdown behavior"
    val dims = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(size(col("embedding"))).first().getInt(0)
    def vec(seed: Int): Array[Float] = {
      val a = new Array[Float](dims); a(seed % dims) = 1.0f; a
    }
    try {
      val seed = Seq((1L, "seed store document about streaming state " +
        "management and watermark propagation semantics in engines"))
        .toDF("doc_id", "text")
      FingerprintStore.save(seed, cfg.winnowK, cfg.winnowW, 80, 10,
        fpTable)
      GramStore.save(seed, cfg.gramK, gramTable)
      VectorStore.save(
        Tables.embeddings(spark, "/root/testdata/sf0.001"), vecPath, 10)
      FingerprintStore.save(Seq((9000L, evalText)).toDF("doc_id", "text"),
        cfg.winnowK, cfg.winnowW, 0, 0, evalTable)

      val ms = MemoryStream[(Long, String, Array[Float])](spark)
      val q = UnifiedAdmission.admission(fpTable, gramTable, vecPath,
          corpusDir, quarDir, cfg, evalFpTable = Some(evalTable))
        .start(ms.toDF().toDF("doc_id", "text", "embedding"), ckpt)
      try {
        ms.addData((100L, contamText, vec(0)), (101L, freshText, vec(1)))
        q.processAllAvailable()
        // batch 2: the SAME contaminating text under a new id — the
        // verdict must be identical (the eval index never grew with
        // batch 1's admissions), plus one fresh doc
        ms.addData((200L, contamText, vec(2)), (201L, fresh2Text, vec(3)))
        q.processAllAvailable()
      } finally q.stop()

      val admitted = spark.read.parquet(corpusDir).collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(admitted === Set(101L, 201L),
        s"only the fresh docs pass the gate: $admitted")
      val quar = spark.read.parquet(quarDir)
        .select("doc_id", "signal", "matched_id", "score").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(quar.map(_._2) === Set("decontam"),
        s"only the decontam signal may fire under this config: $quar")
      assert(quar.map(q => (q._1, q._3)) ===
        Set((100L, 9000L), (200L, 9000L)),
        "matched_id must name the contaminated eval doc")
      // batch-order invariance, bit-for-bit: the streamed quarantine
      // rows ARE the batch kernel's audit of the union of all batches
      val union = Seq((100L, contamText), (101L, freshText),
        (200L, contamText), (201L, fresh2Text)).toDF("doc_id", "text")
      val batchAudit = FingerprintStore.auditAgainstEval(spark,
          evalTable, union, cfg.winnowK, cfg.winnowW, cfg.evalFpMaxDf,
          cfg.evalFpRatioMicroMin)
        .select(col("new_doc"), lit("decontam").as("signal"),
          col("eval_doc"), col("ratio_micro"))
      assert(quar === batchAudit.collect().map(r => (r.getLong(0),
        r.getString(1), r.getLong(2), r.getLong(3))).toSet)
    } finally {
      Seq(fpTable, gramTable, evalTable)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("X30 agreement: with no fingerprint past either df cap, the " +
    "gate's pairs ARE q_contamination's and its drop set IS " +
    "q_decontam's train-side drop count") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val (k, w) = (TextQueries.WinnowK, TextQueries.WinnowW)
    val (tp, vp) = (TextQueries.TrainPct, TextQueries.ValPct)
    val (maxDf, bar) = (TextQueries.ContamMaxDf, TextQueries.ContamRatioMin)
    // the precondition that makes the two rules coincide exactly:
    // df caps over the combined and the eval-side relations are both
    // inactive on this corpus (the common case the equivalence window
    // is defined by — boilerplate-free winnow fingerprints)
    val fs = TextOps.winnowFingerprints(docs, k, w)
    val maxObservedDf = fs.groupBy("fingerprint")
      .agg(count(lit(1)).as("df")).agg(max("df")).first().getLong(0)
    assert(maxObservedDf <= maxDf,
      s"fixture precondition: max df $maxObservedDf must be ≤ $maxDf")
    val gate = TextQueries.qEvalGate(spark, dir)
      .select(col("eval_doc").as("test_doc"),
        col("new_doc").as("train_doc"), col("shared_fps"),
        col("ratio_micro"))
    val contam = TextOps.contamination(docs, tp, vp, k, w, maxDf, bar)
    assert(rowSet(gate) === rowSet(contam),
      "cap-free: the admission rule and the audit flag identical pairs")
    val dropped = TextOps.decontaminate(docs, tp, vp, k, w, maxDf, bar)
      .filter(col("split") === "train").select("n_dropped")
      .first().getLong(0)
    assert(gate.select("train_doc").distinct().count() === dropped,
      "the gate's drop set must be q_decontam's train-side drop count")
  }
}
