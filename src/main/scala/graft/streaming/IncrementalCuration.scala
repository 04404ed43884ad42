package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextOps
import graft.sources.{DocStatsStore, FingerprintStore, PairStore,
  ShingleStore}

/** The composed daily-increment curation pipeline — ingest → admission
  * → pair-store append → component merge → waterfall/corpus-card
  * refresh, wired end-to-end: each store is specified on its own, and
  * this is the one loop that composes them, so an increment never
  * recomputes history.
  *
  * One increment ([[runIncrement]]):
  *  1. ADMISSION — [[CorpusAdmission.admitBatch]]: in-batch exact
  *     dedup, winnow near-dup gate against the fingerprint store;
  *     then (opt-in via [[Config.evalFpTable]]) the T30
  *     eval-decontamination gate on the survivors
  *     ([[graft.sources.FingerprintStore.auditAgainstEval]] — a
  *     curated benchmark's winnow index, static, so the stage is
  *     order/replay-invariant unconditionally). Admitted rows land in
  *     a `batch_id`-keyed OVERWRITE partition of the corpus sink,
  *     quarantined rows likewise (replay replaces, never duplicates).
  *  2. STORE APPENDS — fingerprints ([[CorpusAdmission.appendToStore]])
  *     and shingles + sizes ([[ShingleStore.append]]): batch N's docs
  *     reject their copies and pair with their near-dups in batch N+1.
  *     History is never re-scanned — both appends read only the shard.
  *  3. PAIR REFRESH — [[ShingleStore.incrementalPairs]] derives the
  *     verified D2 pairs touching the shard (store-side Exchange-free),
  *     and [[PairStore.append]] merges them into the persisted pair
  *     relation + transitive closure (union-find bounded by the new
  *     pairs' component fan-out).
  *  4. SERVING — [[waterfall]] / [[card]] read ONLY stores (T32):
  *     per-doc stats from [[graft.sources.DocStatsStore]] (appended at
  *     admission — a doc's stats never change) and dup targets from
  *     the PERSISTED pair relation, through the batch queries' own
  *     factored census stages — the X80 release-note table and the
  *     corpus card refresh with neither candidate generation nor a
  *     corpus text scan (the audit/deployment split every 3–5 s audit
  *     query documents, taken to its end state).
  *
  * The capstone equivalence (IncrementalPipelineSpec, run over
  * replayed AND out-of-order batches): after N increments, while no
  * supporting shingle has crossed the df cap,
  *
  *  - `PairStore.pairs` ≡ [[TextOps.ngramJaccardPairs]] recomputed
  *    from scratch over the realized admitted corpus, bit-for-bit
  *    (metadata included);
  *  - `PairStore.components` ≡ [[TextOps.connectedComponents]] of that
  *    recompute;
  *  - [[waterfall]] ≡ the self-contained
  *    [[TextOps.curationWaterfall]] over the admitted corpus;
  *  - [[card]] ≡ [[TextOps.corpusCard]] over the admitted corpus;
  *  - a REPLAYED increment is a fixed point: every store's readable
  *    content and every serving output is byte-identical before and
  *    after the replay.
  *
  * Past the cap boundary the increments keep their decision-time
  * verdicts (the [[ShingleStore.incrementalPairs]] contract — pairs
  * once verified are never unfound); the recompute-equivalence window
  * is exactly "no supporting shingle crossed maxDf", which at daily
  * grain is the common case and is auditable from the store's own df
  * census.
  *
  * Steps 1–3 are one [[Admission]] run, so its at-least-once contract
  * holds: sinks are batch-id OVERWRITE, fingerprint/shingle appends
  * dedup on read, and [[PairStore.append]] is replay-idempotent — a
  * crash anywhere in the five writes converges on redelivery.
  */
object IncrementalCuration {

  /** The pipeline's policy knobs, one value object (the
    * [[UnifiedAdmission.Config]] shape). Defaults mirror the batch
    * query family's constants: winnow k=8/w=4 with the 0.5
    * shared-ratio bar; D2 5-gram shingles, df cap 1000, Jaccard 0.8;
    * X80's 0.4 quality bar.
    */
  final case class Config(
      k: Int = 8, w: Int = 4, winnowMaxDf: Long = 1000L,
      ratioMicroMin: Long = 500000L,
      n: Int = 5, maxDf: Long = 1000L, jacMicroMin: Long = 800000L,
      qualityMicroMin: Long = 400000L,
      // T30 composed in: gate admitted docs against a PROTECTED eval
      // fingerprint index before anything persists (opt-in — eval sets
      // are curated per deployment). Decontam runs AFTER the near-dup
      // gate: sequential attribution, the X80 waterfall discipline (a
      // doc failing both gates counts against the first).
      evalFpTable: Option[String] = None,
      evalMaxDf: Long = 1000L, evalRatioMicroMin: Long = 500000L)

  def fpTable(base: String): String = s"${base}_fp"

  /** Cold start: empty fingerprint + shingle stores (the pair store
    * is created by the first increment's [[PairStore.save]] — its
    * schema carries the pair metadata, so it is defined by data).
    */
  def init(spark: SparkSession, base: String, cfg: Config = Config()): Unit = {
    FingerprintStore.ensure(spark, fpTable(base))
    ShingleStore.ensure(spark, base)
    DocStatsStore.ensure(spark, base)
  }

  /** One daily increment (steps 1–3 above). `batch` must carry
    * (doc_id, source, text); extra columns ride into the corpus sink
    * untouched. Returns (nAdmitted, nQuarantined) for the caller's
    * monitoring.
    */
  def runIncrement(batch: DataFrame, batchId: Long,
                   base: String, corpusDir: String, quarantineDir: String,
                   cfg: Config = Config()): (Long, Long) = {
    val (keep, quar) = admission(base, corpusDir, quarantineDir, cfg)
      .run(batch, batchId)
    (keep.count(), quar.count())
  }

  /** Steps 1–3 as an [[Admission]]; streamed with [[Admission.start]],
    * every micro-batch is one increment.
    */
  def admission(base: String, corpusDir: String, quarantineDir: String,
                cfg: Config = Config()): Admission =
    Admission(Some(corpusDir), quarantineDir, batch => {
      val sp = batch.sparkSession
      // the clone's relation cache may still pin batch N-1's listing of
      // tables a different driver session wrote between increments
      Seq(fpTable(base), s"${base}_sh", s"${base}_sizes", s"${base}_pairs",
          s"${base}_components", s"${base}_docstats")
        .filter(sp.catalog.tableExists)
        .foreach(sp.catalog.refreshTable)
      val (admitted0, quarantined0) = CorpusAdmission.admitBatch(batch,
        fpTable(base), cfg.k, cfg.w, cfg.winnowMaxDf, cfg.ratioMicroMin)
      // T30 stage: the eval-decontamination gate on the near-dup
      // survivors. The eval index is STATIC, so this stage is
      // order/replay-invariant by construction (TextOps.evalGatePairs);
      // quarantine rows reuse the (stored_doc, shared_fps, ratio_micro)
      // shape with the strongest contaminated eval doc as the match.
      cfg.evalFpTable match {
        case None => (admitted0, quarantined0)
        case Some(t) =>
          val flagged = FingerprintStore.auditAgainstEval(sp, t,
            admitted0.select("doc_id", "text"), cfg.k, cfg.w,
            cfg.evalMaxDf, cfg.evalRatioMicroMin)
          val best = Admission.strongest(flagged, col("new_doc"),
              col("ratio_micro").desc, col("eval_doc"))
            .select(col("new_doc"), col("eval_doc").as("stored_doc"),
              col("shared_fps"), col("ratio_micro"))
          val (keepEval, quarEval) =
            Admission.verdict(admitted0, "doc_id", best, "new_doc")
          (keepEval, quarantined0.unionByName(quarEval))
      }
    }, (batch, keep) => {
      val sp = batch.sparkSession
      CorpusAdmission.appendToStore(keep, fpTable(base), cfg.k, cfg.w)
      val docs = keep.select("doc_id", "text")
      ShingleStore.append(docs, cfg.n, base)
      // T32: per-doc stats persisted at admission — the serving
      // surfaces below never re-scan text
      DocStatsStore.append(keep.select("doc_id", "source", "text"), base)
      val newPairs = ShingleStore.incrementalPairs(sp, base, docs,
        cfg.n, cfg.maxDf, cfg.jacMicroMin)
      if (sp.catalog.tableExists(s"${base}_pairs"))
        PairStore.append(sp, newPairs, base)
      else PairStore.save(newPairs, base)
    })

  /** The cumulative admitted corpus (the sink read back; `batch_id`
    * rides as an ordinary partition column and is dropped so serving
    * reads see the batch-agnostic document schema).
    */
  def corpus(spark: SparkSession, corpusDir: String): DataFrame =
    spark.read.parquet(corpusDir).drop("batch_id")

  /** Step 4a: the X80 waterfall served ENTIRELY from stores (T32):
    * quality flags from [[DocStatsStore]], dup targets from the
    * persisted pair relation — neither candidate generation nor a
    * corpus text scan is ever re-paid; the census stage is
    * [[TextOps.curationWaterfallFrom]], the exact code the
    * self-contained query runs (IncrementalPipelineSpec pins
    * store-served ≡ recompute bit-for-bit).
    */
  def waterfall(spark: SparkSession, base: String,
                cfg: Config = Config()): DataFrame =
    TextOps.curationWaterfallFrom(
      DocStatsStore.load(spark, base)
        .select("doc_id", "source", "n_tokens", "quality_micro"),
      PairStore.pairs(spark, base).select(col("d2").as("doc_id")),
      cfg.qualityMicroMin)

  /** Step 4b: the corpus card served from [[DocStatsStore]] — same
    * store-only refresh (T32), through the card's own factored
    * statistics stage.
    */
  def card(spark: SparkSession, base: String): DataFrame =
    TextOps.corpusCardFrom(DocStatsStore.load(spark, base))
}
