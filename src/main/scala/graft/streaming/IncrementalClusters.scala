package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Hashing.micro
import graft.operators.TextOps
import graft.sources.{ComponentStore, FingerprintStore}

/** T12: streaming incremental dedup CLUSTERING — the stateful twin of
  * the D7 batch components: [[CorpusAdmission]] rejects per-batch
  * near-dups at the door, but cluster MEMBERSHIP (which docs form one
  * duplicate group, D7's output) was batch-only; this loop admits
  * every document, appends its winnow fingerprints to the
  * [[FingerprintStore]], derives the batch's verified near-dup pairs
  * (in-batch + batch-vs-store, one Exchange of the batch side, zero
  * of the corpus — the auditIncoming asymmetry), and merges them into
  * the persisted [[ComponentStore]] — so after any number of
  * micro-batches the store holds exactly the components a batch D7
  * pass over the full corpus would compute.
  *
  * Pair semantics (ARRIVAL-ORDERED, the T11 at-arrival discipline):
  * edge (a, b) for arrival order b before a iff
  * shared_fingerprints / n_fp(a) ≥ `ratioMicroMin` — the LATER doc's
  * fingerprint count is the denominator, matching what the admission
  * audit computes at a's arrival. For in-order streams (doc_id order,
  * the spec fixture) the batch twin [[batchTwinPairs]] reproduces the
  * relation exactly, and the spec pins store ≡ batch components after
  * N micro-batches REGARDLESS of where the batch boundaries fall. No
  * df cap in the pair derivation: clustering wants every edge
  * (admission's boilerplate cap is a different dial), which also
  * removes the one df-drift source that would break cross-batch
  * parity.
  *
  * Replay convergence (at-least-once foreachBatch): the store append
  * may duplicate (doc_id, fingerprint) rows — both pair paths
  * deduplicate the store side and exclude stored copies of the
  * current batch's own docs, so a replayed batch re-derives exactly
  * its original pairs; the component merge is a fixed point on
  * replay ([[ComponentStore.mergeBatch]]).
  */
object IncrementalClusters {

  /** The batch-side replayable truth: every arrival-ordered verified
    * pair over the whole corpus (d1 < d2 = arrival order for the
    * in-order fixture), ratio against the LATER doc's fingerprint
    * count. The spec runs D7's [[TextOps.connectedComponents]] over
    * this relation as the parity target.
    */
  def batchTwinPairs(docs: DataFrame, k: Int, w: Int,
                     ratioMicroMin: Long): DataFrame = {
    val fp = TextOps.winnowFingerprints(docs, k, w)
    val nf = fp.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    fp.select(col("doc_id").as("d1"), col("fingerprint"))
      .join(fp.select(col("doc_id").as("d2"), col("fingerprint")),
        Seq("fingerprint"))
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("shared_fps"))
      .join(nf.select(col("doc_id").as("d2"), col("n_fp")), Seq("d2"))
      .withColumn("ratio_micro", micro(col("shared_fps") / col("n_fp")))
      .filter(col("ratio_micro") >= ratioMicroMin)
      .select("d1", "d2", "shared_fps", "ratio_micro")
  }

  /** One micro-batch: derive pairs, append fingerprints, merge
    * components.
    */
  def processBatch(batch: DataFrame, fpTable: String, compTable: String,
                   k: Int, w: Int, ratioMicroMin: Long): Unit = {
    val spark = batch.sparkSession
    val docs = batch.select("doc_id", "text")
    FingerprintStore.ensure(spark, fpTable)
    val batchIds = docs.select("doc_id").distinct()
    // in-batch pairs: the batch twin on the batch alone
    val inBatch = batchTwinPairs(docs, k, w, ratioMicroMin)
      .select("d1", "d2")
    // batch-vs-store pairs: batch fingerprints against the
    // deduplicated store, EXCLUDING stored copies of this batch's own
    // docs (replay safety — those pairs belong to the in-batch path)
    val store = FingerprintStore.load(spark, fpTable)
      .dropDuplicates("doc_id", "fingerprint")
      .select(col("doc_id").as("stored_doc"), col("fingerprint"))
      .join(batchIds.select(col("doc_id").as("stored_doc")),
        Seq("stored_doc"), "left_anti")
    val inc = TextOps.winnowFingerprints(docs, k, w)
      .select(col("doc_id").as("new_doc"), col("fingerprint"))
    val nf = inc.groupBy("new_doc").agg(count(lit(1)).as("n_fp"))
    val vsStore = inc.join(store, Seq("fingerprint"))
      .groupBy("new_doc", "stored_doc")
      .agg(count(lit(1)).as("shared_fps"))
      .join(nf, Seq("new_doc"))
      .withColumn("ratio_micro", micro(col("shared_fps") / col("n_fp")))
      .filter(col("ratio_micro") >= ratioMicroMin)
      .select(col("stored_doc").as("d1"), col("new_doc").as("d2"))
    val pairs = inBatch.union(vsStore)
    CorpusAdmission.appendToStore(docs, fpTable, k, w)
    ComponentStore.mergeBatch(compTable, pairs, batchIds)
  }
}
