package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{FingerprintStore, GramStore, VectorStore,
  WordGramStore}

/** Unified streaming admission — the independently-specced admission
  * signals composed into ONE `foreachBatch` gate with one quarantine
  * schema, the shape a production ingestion loop actually runs: every
  * micro-batch of (doc_id, text, embedding) rows is audited against
  *
  *  - the winnowing-fingerprint store (near-duplicate text,
  *    [[FingerprintStore.auditIncoming]] — signal `winnow`, score =
  *    shared-fingerprint ratio in micro units),
  *  - the bucketed gram store (exact shared k-char spans,
  *    [[GramStore.auditIncoming]] — signal `substring`, score = number
  *    of distinct shared grams),
  *  - the cluster-partitioned vector store (embedding cosine,
  *    [[VectorAdmission.auditBatch]] — signal `vector`, score =
  *    micro-cosine against the best stored match),
  *  - the document's OWN statistics (the Gopher-style rule battery,
  *    [[graft.operators.TextOps.qualityRules]] — signal `quality`,
  *    matched_id = −1, score = bitmask of the failed rules; off by
  *    default, see [[Config]]),
  *  - optionally a PROTECTED eval gram set
  *    ([[WordGramStore.overlapAgainst]] — signal `eval_overlap`,
  *    matched_id = −1, score = overlap fraction in micro units): an
  *    incoming train candidate substantially overlapping a persisted
  *    benchmark suite is quarantined BEFORE it can contaminate
  *    training — the streaming form of the X39 release-note rule;
  *    opt-in by passing `evalGramTable`,
  *  - optionally a PROTECTED eval winnow-fingerprint index
  *    ([[FingerprintStore.auditAgainstEval]] — signal `decontam`,
  *    matched_id = the contaminated EVAL doc, score = the
  *    eval-relative coverage ratio in micro units): the X30
  *    decontamination rule as an admission decision — the T30
  *    streaming twin; opt-in by passing `evalFpTable`,
  *
  * and a document flagged by ANY signal is quarantined — one row PER
  * FIRING SIGNAL, `(doc_id, signal, matched_id, score)`, so the
  * quarantine is an audit trail, not just a verdict. Fresh documents
  * append to all three stores, so a document admitted in batch N
  * rejects its textual near-copies, span thieves, AND embedding
  * doppelgängers in batch N+1 — each signal independently
  * (spec-pinned).
  *
  * Scale shape is inherited part-for-part from the composed audits:
  * neither the fingerprint store, the gram store, nor the non-probed
  * vector partitions ever shuffle or scan; only the micro-batch is
  * hashed/assigned into each store's layout.
  *
  * Run by the [[Admission]] loop, whose at-least-once contract holds
  * here: every audit excludes a document's match with itself, and a
  * replayed VectorStore.append can leave duplicate physical rows —
  * clear them with [[VectorAdmission.dedupStore]] in the same quiesced
  * maintenance window as compaction.
  */
object UnifiedAdmission {

  /** Thresholds for the four signals — one value object so the gate's
    * policy travels as data. The quality bars default to permissive
    * values that never fire (min counts 0, ratio bars at the domain
    * edges): quality is an INTRINSIC signal — rejecting a document by
    * its own statistics is a policy decision, so the caller opts in by
    * setting real bars (e.g. [[graft.operators.TextQueries]]'s
    * measured-quantile constants).
    */
  final case class Config(
      winnowK: Int = 8, winnowW: Int = 4, winnowMaxDf: Long = 1000L,
      winnowRatioMicroMin: Long = 500000L,
      gramK: Int = 32, gramMaxDf: Long = 50L, gramMinShared: Long = 1L,
      cosMicroMin: Long = 900000L,
      qMinTok: Long = 0L, qMaxTok: Long = Long.MaxValue,
      qTtrMinMicro: Long = 0L, qTopMaxMicro: Long = 1000000L,
      qMinStops: Long = 0L,
      overlapN: Int = 8, evalOverlapMicroMin: Long = 700000L,
      evalFpMaxDf: Long = 1000L, evalFpRatioMicroMin: Long = 500000L)

  /** Every (doc, firing signal) row for one already-deduplicated
    * micro-batch — the union of the three audits in the unified
    * quarantine schema `(doc_id, signal, matched_id, score)`.
    */
  def signalMatches(batch: DataFrame, fpTable: String, gramTable: String,
                    vecPath: String, cfg: Config,
                    evalGramTable: Option[String] = None,
                    evalFpTable: Option[String] = None): DataFrame = {
    val spark = batch.sparkSession
    val texts = batch.select("doc_id", "text")
    val winnow = FingerprintStore.auditIncoming(spark, fpTable, texts,
        cfg.winnowK, cfg.winnowW, cfg.winnowMaxDf,
        cfg.winnowRatioMicroMin)
      .select(col("new_doc").as("doc_id"), lit("winnow").as("signal"),
        col("stored_doc").as("matched_id"),
        col("ratio_micro").as("score"))
    val gram = GramStore.auditIncoming(spark, gramTable, texts,
        cfg.gramK, cfg.gramMaxDf)
      .filter(col("n_shared") >= cfg.gramMinShared)
      .select(col("new_doc").as("doc_id"), lit("substring").as("signal"),
        col("stored_doc").as("matched_id"), col("n_shared").as("score"))
    val (_, vecQuar) = VectorAdmission.auditBatch(vecPath,
      batch.select(col("doc_id").as("vec_id"), col("embedding")),
      cfg.cosMicroMin)
    val vector = vecQuar
      .select(col("vec_id").as("doc_id"), lit("vector").as("signal"),
        col("stored_vec").as("matched_id"), col("cos_micro").as("score"))
    // intrinsic quality: no matched document (matched_id = -1); the
    // score is a bitmask of the FAILED rules (1 len, 2 wlen, 4 ttr,
    // 8 top-share, 16 stopwords) so the quarantine row says WHY
    val quality = graft.operators.TextOps.qualityRules(texts,
        cfg.qMinTok, cfg.qMaxTok, cfg.qTtrMinMicro, cfg.qTopMaxMicro,
        cfg.qMinStops)
      .filter(col("pass") === 0L)
      .select(col("doc_id"), lit("quality").as("signal"),
        lit(-1L).as("matched_id"),
        ((lit(1L) - col("r_len")) +
          (lit(1L) - col("r_wlen")) * 2 +
          (lit(1L) - col("r_ttr")) * 4 +
          (lit(1L) - col("r_top")) * 8 +
          (lit(1L) - col("r_stop")) * 16).as("score"))
    // FIFTH signal, opt-in via a persisted protected gram set
    // (WordGramStore.saveDocs of the benchmark suite): an incoming
    // TRAIN candidate substantially overlapping a protected eval
    // suite is quarantined — the streaming form of the X39
    // release-note rule, applied where it actually prevents
    // contamination (at ingestion, before the doc ever trains).
    // matched_id = -1: the match is against the SET, not one doc.
    val base = winnow.unionByName(gram).unionByName(vector)
      .unionByName(quality)
    val withOverlap = evalGramTable match {
      case Some(t) =>
        val ev = WordGramStore.overlapAgainst(spark, t, texts,
            cfg.overlapN)
          .filter(col("overlap_micro") >= cfg.evalOverlapMicroMin)
          .select(col("doc_id"), lit("eval_overlap").as("signal"),
            lit(-1L).as("matched_id"), col("overlap_micro").as("score"))
        base.unionByName(ev)
      case None => base
    }
    // SIXTH signal (T30), opt-in via a persisted protected eval
    // FINGERPRINT index (FingerprintStore of the benchmark suite): the
    // X30 decontamination rule as an admission decision — an incoming
    // train candidate covering any eval doc's winnow-fingerprint set
    // at the ratio bar is quarantined at ingest. Unlike eval_overlap
    // (gram-SET membership, matched_id = -1), this is the PAIRWISE
    // rule: matched_id = the contaminated eval doc, score = the
    // eval-relative coverage ratio. Every quantity in the verdict is
    // a function of (doc text, static eval index) alone — see
    // TextOps.evalGatePairs — so the signal is time-invariant across
    // batch order and replay (StreamingDecontamSpec pins stream ≡
    // batch bit-for-bit).
    evalFpTable match {
      case Some(t) =>
        val dc = FingerprintStore.auditAgainstEval(spark, t, texts,
            cfg.winnowK, cfg.winnowW, cfg.evalFpMaxDf,
            cfg.evalFpRatioMicroMin)
          .select(col("new_doc").as("doc_id"),
            lit("decontam").as("signal"),
            col("eval_doc").as("matched_id"),
            col("ratio_micro").as("score"))
        withOverlap.unionByName(dc)
      case None => withOverlap
    }
  }

  /** One micro-batch through the unified decision. Returns
    * (admitted — the batch schema, minus in-batch exact duplicates;
    * quarantined — one `(doc_id, signal, matched_id, score)` row per
    * firing signal).
    */
  def admitBatch(batch: DataFrame, fpTable: String, gramTable: String,
                 vecPath: String, cfg: Config,
                 evalGramTable: Option[String] = None,
                 evalFpTable: Option[String] = None)
      : (DataFrame, DataFrame) = {
    val distinctBatch = Admission.distinctTexts(batch)
    val signals = signalMatches(distinctBatch, fpTable, gramTable,
      vecPath, cfg, evalGramTable, evalFpTable)
    val admitted = distinctBatch.join(
      signals.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
    (admitted, signals)
  }

  /** The gate as an [[Admission]]: corpus and quarantine sinks, then
    * the fingerprint, gram and vector appends of one pinned admitted
    * set. Each appending batch's vector drift is surfaced through
    * `onDrift` (re-clustering itself belongs in a quiesced maintenance
    * window). Stream it with [[Admission.start]].
    */
  def admission(fpTable: String, gramTable: String, vecPath: String,
                corpusDir: String, quarantineDir: String, cfg: Config,
                onDrift: VectorStore.Drift => Unit = _ => (),
                evalGramTable: Option[String] = None,
                evalFpTable: Option[String] = None): Admission =
    Admission(Some(corpusDir), quarantineDir,
      admitBatch(_, fpTable, gramTable, vecPath, cfg, evalGramTable,
        evalFpTable),
      (batch, admitted) => if (!admitted.isEmpty) {
        val texts = admitted.select("doc_id", "text")
        CorpusAdmission.appendToStore(texts, fpTable, cfg.winnowK,
          cfg.winnowW)
        GramStore.append(texts, cfg.gramK, gramTable)
        onDrift(VectorStore.append(batch.sparkSession, vecPath,
          admitted.select(col("doc_id").as("vec_id"), col("embedding"))))
      })
}
