package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.PhashStore

/** T10: streaming MEDIA admission — the [[Admission]] loop (its
  * at-least-once contract holds here) for image payloads, gated on the
  * perceptual hash instead of text fingerprints: each micro-batch of
  * incoming documents (whose even doc_ids carry the corpus's BMP
  * payloads) is audited against the persisted [[PhashStore]] class
  * census; an image within Hamming `maxHamming` of a stored class is
  * quarantined with the class it matched (hash, exemplar, population),
  * fresh images are admitted (doc_id only) and their classes MERGED
  * into the store — an image admitted in batch N rejects its re-encodes
  * in batch N+1.
  *
  * Replay: a replayed batch's own classes are already in the store, so
  * matches whose stored exemplar sits in the current batch are excluded
  * (a class this batch created must not quarantine the batch that
  * created it). Class POPULATION COUNTS are at-least-once upper bounds —
  * a replayed merge re-adds its batch's counts; verdicts read class
  * existence only. Two copies of one image in one batch are both
  * admitted; their class enters the census with n = 2.
  */
object MediaAdmission {

  /** One micro-batch through the gate. Returns (admitted,
    * quarantined) doc_id relations; quarantined rows carry the match.
    */
  def admitBatch(batch: DataFrame, storeTable: String,
                 maxHamming: Int): (DataFrame, DataFrame) = {
    val bmpIds = batch.filter(col("doc_id") % 2 === 0)
      .select("doc_id")
    // class-level self-exclusion: a stored class whose exemplar is in
    // THIS batch was created by this batch (a replay) — not a dup
    val matches = PhashStore.auditIncoming(batch.sparkSession, storeTable,
        batch, maxHamming)
      .join(bmpIds.select(col("doc_id").as("exemplar")),
        Seq("exemplar"), "left_anti")
    // lowest hamming, then largest stored class, then exemplar id
    val best = Admission.strongest(matches, col("doc_id"), col("hamming"),
      col("n_stored").desc, col("exemplar"))
    val admitted = bmpIds.join(best.select("doc_id"), Seq("doc_id"),
      "left_anti")
    (admitted, best)
  }

  /** The gate as an [[Admission]]: admitted and quarantine sinks, then
    * the admitted images' classes merged into the store; stream it with
    * [[Admission.start]].
    */
  def admission(storeTable: String, admittedDir: String,
                quarantineDir: String, maxHamming: Int): Admission =
    Admission(Some(admittedDir), quarantineDir,
      admitBatch(_, storeTable, maxHamming),
      (batch, admitted) => PhashStore.mergeAdmitted(batch.sparkSession,
        batch.join(admitted, Seq("doc_id"), "left_semi"), storeTable))
}
