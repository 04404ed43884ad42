package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TextOps
import graft.sources.{Bucketed, FingerprintStore}

/** Streaming corpus admission: the incremental ingestion loop of a
  * growing training corpus, run by the [[Admission]] loop (its
  * at-least-once contract holds here). Each micro-batch of
  * (doc_id, text) rows is deduplicated exactly in-batch, then audited
  * against the persisted winnowing-fingerprint store
  * ([[FingerprintStore.auditIncoming]]); near-duplicates of stored
  * documents are quarantined with the stored doc they matched best,
  * fresh documents go to the corpus sink and their fingerprints to the
  * store, so a document admitted in batch N rejects its copies in
  * batch N+1.
  *
  * Scale: the audit never shuffles the store (bucketed fingerprint
  * join; only the batch's fingerprints are hashed in), and the append
  * keeps the bucket layout, so audits stay Exchange-free as the corpus
  * grows; compaction is [[Maintenance.compactPartition]]'s. A replayed
  * append can duplicate (doc_id, fingerprint) rows, which the audit
  * drops on read.
  */
object CorpusAdmission {

  /** One micro-batch through the admission decision. Returns
    * (admitted, quarantined) — admitted rows are the batch schema;
    * quarantined rows add (stored_doc, shared_fps, ratio_micro).
    */
  def admitBatch(batch: DataFrame, storeTable: String, k: Int, w: Int,
                 maxDf: Long, ratioMicroMin: Long): (DataFrame, DataFrame) = {
    val distinctBatch = Admission.distinctTexts(batch)
    val matches = FingerprintStore.auditIncoming(batch.sparkSession,
      storeTable, distinctBatch, k, w, maxDf, ratioMicroMin)
    // max overlap, stored_doc tiebreak
    val best = Admission.strongest(matches, col("new_doc"),
      col("ratio_micro").desc, col("stored_doc"))
    Admission.verdict(distinctBatch, "doc_id", best, "new_doc")
  }

  /** Append the fingerprints of newly admitted docs to the bucketed
    * store (split fixed to "train": admission feeds the training
    * corpus; eval sets are curated, not streamed), in the store
    * table's own bucket spec.
    */
  def appendToStore(admitted: DataFrame, storeTable: String, k: Int,
                    w: Int): Unit =
    Bucketed.write(
      TextOps.winnowFingerprints(admitted.select("doc_id", "text"), k, w)
        .withColumn("split", lit("train")),
      storeTable, FingerprintStore.layout, "append")

  /** The gate as an [[Admission]]: corpus and quarantine sinks, then
    * the fingerprint append; stream it with [[Admission.start]].
    */
  def admission(storeTable: String, corpusDir: String,
                quarantineDir: String, k: Int, w: Int, maxDf: Long,
                ratioMicroMin: Long): Admission =
    Admission(Some(corpusDir), quarantineDir,
      admitBatch(_, storeTable, k, w, maxDf, ratioMicroMin),
      (_, admitted) => appendToStore(admitted, storeTable, k, w))
}
