package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sources.FingerprintStore
import graft.streaming.CorpusAdmission

/** Streaming corpus admission end-to-end: a doc admitted in batch N
  * rejects its near-copies in batch N+1, because admission appends the
  * doc's fingerprints to the same store the audit reads.
  */
class CorpusAdmissionSpec extends SparkSpec {
  import sqlImplicits._

  private val (k, w, maxDf, ratioMin) = (8, 4, 1000L, 500000L)

  test("admission loop: fresh docs admitted, later copies quarantined") {
    val store = "fp_admission_test"
    // seed the store with one already-admitted document
    val seed = Seq((1L, "the original corpus document about aviation " +
      "telemetry and message parsing pipelines")).toDF("doc_id", "text")
    FingerprintStore.save(seed, k, w, 80, 10, store)
    val corpusDir = Files.createTempDirectory("graft-corpus").toString
    val quarantineDir = Files.createTempDirectory("graft-quar").toString
    val ckpt = Files.createTempDirectory("graft-adm-ckpt").toString
    try {
      val ms = MemoryStream[(Long, String)](spark)
      val q = CorpusAdmission.admission(store, corpusDir, quarantineDir,
          k, w, maxDf, ratioMin)
        .start(ms.toDF().toDF("doc_id", "text"), ckpt)
      try {
        // batch 1: a copy of the seeded doc + a fresh doc
        ms.addData(
          (10L, "the original corpus document about aviation " +
            "telemetry and message parsing pipelines"),
          (11L, "a completely different text on winnowing fingerprints " +
            "and locality sensitive hashing for deduplication"))
        q.processAllAvailable()
        // batch 2: a copy of the doc admitted in batch 1, one exact
        // in-batch duplicate pair, and one fresh doc
        ms.addData(
          (20L, "a completely different text on winnowing fingerprints " +
            "and locality sensitive hashing for deduplication"),
          (21L, "twin rows arriving together in one single micro batch"),
          (22L, "twin rows arriving together in one single micro batch"),
          (23L, "yet another unrelated piece of text about spark " +
            "catalyst expressions and code generation"))
        q.processAllAvailable()
      } finally q.stop()

      val corpus = spark.read.parquet(corpusDir).collect()
        .map(_.getAs[Long]("doc_id")).toSet
      val quarantined = spark.read.parquet(quarantineDir).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("stored_doc"))
        .toMap
      // 11 fresh in batch 1; 21 wins its in-batch twin; 23 fresh
      assert(corpus === Set(11L, 21L, 23L))
      // 10 matches the seeded doc 1; 20 matches 11 ADMITTED IN BATCH 1
      assert(quarantined === Map(10L -> 1L, 20L -> 11L))
      // the store grew by the admitted docs' fingerprints
      val storedDocs = FingerprintStore.load(spark, store)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(storedDocs === Set(1L, 11L, 21L, 23L))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $store")
    }
  }

  test("replayed batch re-derives its original admission decisions") {
    // foreachBatch is at-least-once: after a crash between the corpus
    // write and restart, the SAME batch runs again — against a store
    // that may already hold that batch's fingerprints. The audit's
    // (doc_id, fingerprint) dedup + self-pair exclusion must make the
    // second run reach the identical verdicts.
    val store = "fp_replay_test"
    val seed = Seq((1L, "the original corpus document about aviation " +
      "telemetry and message parsing pipelines")).toDF("doc_id", "text")
    FingerprintStore.save(seed, k, w, 80, 10, store)
    try {
      val batch = Seq(
        (10L, "the original corpus document about aviation " +
          "telemetry and message parsing pipelines"), // copy → quarantine
        (11L, "a completely different text on winnowing fingerprints " +
          "and locality sensitive hashing for deduplication")) // fresh
        .toDF("doc_id", "text")
      def decide() = {
        val (adm, quar) = CorpusAdmission.admitBatch(batch, store,
          k, w, maxDf, ratioMin)
        (adm.select("doc_id").collect().map(_.getLong(0)).toSet,
          quar.select("doc_id", "stored_doc").collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap)
      }
      val first = decide()
      assert(first === (Set(11L), Map(10L -> 1L)))
      // the crash point: fingerprints appended, then the batch replays —
      // twice, covering double-appended stores too
      CorpusAdmission.appendToStore(
        batch.filter($"doc_id" === 11L), store, k, w)
      assert(decide() === first, "replay after one append must agree")
      CorpusAdmission.appendToStore(
        batch.filter($"doc_id" === 11L), store, k, w)
      assert(decide() === first, "replay after a duplicate append must agree")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $store")
    }
  }
}
