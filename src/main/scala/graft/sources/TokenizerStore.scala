package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Hashing.{md5Long, micro}
import graft.operators.TextOps

/** Persisted BPE tokenizer — the deployment shape of
  * [[TextOps.bpeTrain]] (train ONCE at write time, encode forever
  * after), completing the pattern [[FingerprintStore]], [[GramStore]],
  * and [[VectorStore]] set for their operator families: the oracled
  * query trains in-query; the store is the production path where the
  * 100 TB corpus is read once and every later shard reuses the
  * artifact.
  *
  * Layout under `path`:
  *  - `merges/` — the ordered learned merge table
  *    (step, lhs, rhs, merged, pair_freq)
  *  - `dict/`   — (word, n_sub): the subtoken count of every word form
  *    seen at training time (= the final training vocabulary's
  *    symbol-array length; vocabulary-sized, Heaps-bounded)
  *
  * == Sampled training — the production path ==
  *
  * BPE training is inherently round-sequential (merge r+1's counts
  * depend on merge r's rewrite), so the train-side scale lever is not
  * parallelism across rounds but the SIZE of what each round reads.
  * Training depends only on pair-frequency RATIOS — replicating the
  * corpus k× scales every count by exactly k and changes no decision
  * — which is
  * precisely the argument that a uniform sample preserves the learned
  * merges: it scales expected counts by the sampling rate. [[save]]
  * therefore takes `samplePct`, selecting documents by the same
  * deterministic salted-md5 bucket discipline as
  * [[TextOps.sampleSplit]] (never `rand()` — retraining reproduces the
  * identical tokenizer), and trains on the sample while the encode
  * side still serves the full corpus. TokenizerStoreSpec pins
  * sample-trained == full-trained merges on a frequency-separated
  * fixture, and a ≥100-merge run showing round cost stays
  * vocabulary-bound.
  *
  * [[encodeWith]] censuses a NEW shard without retraining. Seen words
  * hit the broadcast dictionary — the hot path; Heaps' law makes
  * almost every occurrence of a large corpus a dictionary hit. Unseen
  * words replay the stored merge chain — exact BPE application,
  * identical to how training would have tokenized the word, evaluated
  * ONLY on dictionary misses. The replay is ONE data-dependent
  * `aggregate` over the chain array (constant expression depth — a
  * 32k-merge chain compiles exactly like a 10-merge one), pre-filtered
  * per word to the merges that can possibly fire: every BPE symbol is
  * a contiguous substring of the original word and adjacent symbols
  * are adjacent substrings, so a merge (lhs, rhs) can only apply when
  * lhs‖rhs occurs in the word — dropping the rest skips only no-op
  * folds and preserves chain order. Both paths are shuffle-free; the
  * only Exchange is the doc-keyed partial aggregation any per-document
  * census pays.
  *
  * TokenizerStoreSpec pins store-encode == in-query encode on the
  * training corpus, and the miss path against the naive reference on
  * novel words.
  */
object TokenizerStore {

  private def mergesDir(path: String) = s"$path/merges"
  private def dictDir(path: String) = s"$path/dict"

  /** The deterministic training-sample membership test: salted md5
    * bucket of doc_id < samplePct — [[TextOps.sampleSplit]]'s
    * discipline with its own salt, so tokenizer sampling can never
    * collide with split assignment.
    */
  private[graft] def sampleFilter(samplePct: Int): Column =
    md5Long(concat(lit("tok-sample:"), col("doc_id").cast("string"))) %
      100L < samplePct

  /** Train on `docs` (or its deterministic `samplePct`% hash-sample)
    * and persist the merge table + dictionary. The dictionary is built
    * from the FULL corpus's word forms tokenized under the learned
    * chain — sampling bounds what training READS each round, not what
    * the store can encode — by folding the chain over the
    * out-of-sample vocabulary remainder (vocabulary-sized, the same
    * bounded chain aggregate the miss path uses).
    */
  def save(docs: DataFrame, path: String,
           merges: Int = TextOps.BpeMerges, samplePct: Int = 100): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val trainDocs =
      if (samplePct >= 100) docs else docs.filter(sampleFilter(samplePct))
    val (learned, vocab) = TextOps.bpeTrainLoop(trainDocs, merges)
    learned.toDF("step", "lhs", "rhs", "merged", "pair_freq")
      .coalesce(1).write.mode("overwrite").parquet(mergesDir(path))
    val chain = learned.map(m => (m._2, m._3))
    val sampleDict =
      vocab.select(col("word"), size(col("syms")).cast("long").as("n_sub"))
    val dict =
      if (samplePct >= 100) sampleDict
      else {
        // word forms the sample never saw, tokenized under the chain —
        // one anti-join of two vocabulary-sized relations
        val rest = TextOps.bpeVocab(docs)
          .join(sampleDict.select("word"), Seq("word"), "left_anti")
          .select(col("word"), chainTokens(col("word"), chain).as("n_sub"))
        sampleDict.unionByName(rest)
      }
    dict.write.mode("overwrite").parquet(dictDir(path))
  }

  /** The stored merge chain, in training order. */
  def readMerges(spark: SparkSession, path: String): Seq[(String, String)] =
    spark.read.parquet(mergesDir(path)).orderBy("step")
      .select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  /** Subtoken count of one word under the stored chain: characters
    * folded through every merge in training order — exact BPE
    * application, used for dictionary misses only.
    *
    * Bounded formulation: the chain is ONE array literal and the whole
    * replay is ONE `aggregate` over it (expression depth constant in
    * the merge count — the naive per-merge fold nest would not compile
    * at a production 32k merges). Per word the chain is first filtered
    * to merges whose merged string occurs in the word: a merge can
    * only fire on adjacent symbols, adjacent symbols are adjacent
    * contiguous substrings of the original word, so `merged ∉ word`
    * means the fold is a no-op — skipping it preserves both result and
    * order. TokenizerStoreSpec pins this against the naive in-order
    * reference.
    */
  private[graft] def chainTokens(word: Column,
                                 merges: Seq[(String, String)]): Column = {
    val chain = typedLit(merges.map { case (l, r) => (l, r, l + r) })
    val relevant = filter(chain, m => word.contains(m("_3")))
    size(aggregate(relevant,
      filter(split(word, ""), s => s =!= ""),
      (syms, m) => TextOps.bpeMergeFold(syms, m("_1"), m("_2"))))
      .cast("long")
  }

  /** Out-of-vocabulary drift of one shard against the stored
    * dictionary — the retrain signal, mirroring [[VectorStore]]'s
    * assignment-score drift: a rising miss fraction means the corpus
    * has moved past the tokenizer's training vocabulary (new domains,
    * new languages) and the merge table is mis-budgeting tokens.
    */
  final case class TokDrift(nWords: Long, oovWords: Long) {
    def oovMicro: Long =
      if (nWords == 0) 0L
      else math.floor(1e6 * oovWords.toDouble / nWords).toLong
    def needsRetrain(oovMicroMax: Long): Boolean = oovMicro > oovMicroMax
  }

  /** Measure a shard's [[TokDrift]] — one broadcast dictionary join,
    * one global count pair; the shard never shuffles.
    */
  def auditShard(spark: SparkSession, path: String,
                 docs: DataFrame): TokDrift = {
    val dict = spark.read.parquet(dictDir(path))
    val r = docs
      .select(explode(regexp_extract_all(col("text"),
        lit("[A-Za-z]+"), lit(0))).as("w"))
      .select(lower(col("w")).as("word"))
      .join(broadcast(dict), Seq("word"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("n_sub").isNull, 1L).otherwise(0L)).as("oov"))
      .head()
    TokDrift(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Re-train on `docs` and swap the new artifact in via two renames
    * (the [[VectorStore.retrain]] / [[graft.streaming.Maintenance]]
    * discipline) — a reader mid-swap sees the old or the new
    * tokenizer, never a partial one; quiesce writers first.
    */
  def retrain(spark: SparkSession, path: String, docs: DataFrame,
              merges: Int = TextOps.BpeMerges,
              samplePct: Int = 100): Unit = {
    val tmp = s"${path}__retrain_tmp"
    save(docs, tmp, merges, samplePct)
    val dir = new Path(path)
    val fs = FileSystem.get(dir.toUri,
      spark.sparkContext.hadoopConfiguration)
    val old = new Path(s"${path}__retrain_old")
    if (!fs.rename(dir, old))
      throw new java.io.IOException(s"retrain: cannot move $path aside")
    if (!fs.rename(new Path(tmp), dir)) {
      fs.rename(old, dir) // restore — the tokenizer must never vanish
      throw new java.io.IOException(s"retrain: cannot swap in $tmp")
    }
    fs.delete(old, true)
  }

  /** The maintenance policy in one call, mirroring
    * [[VectorStore.appendOrRetrain]]: audit the shard's OOV drift, and
    * if it exceeds `oovMicroMax`, retrain on `corpus` (the caller's
    * current full corpus, shard included — unlike the vector store,
    * the tokenizer store does not hold its training data) and swap the
    * artifact atomically. Returns (drift, retrained?).
    */
  def auditOrRetrain(spark: SparkSession, path: String, shard: DataFrame,
                     corpus: => DataFrame, oovMicroMax: Long,
                     merges: Int = TextOps.BpeMerges,
                     samplePct: Int = 100): (TokDrift, Boolean) = {
    val drift = auditShard(spark, path, shard)
    val retrained = drift.needsRetrain(oovMicroMax)
    if (retrained) retrain(spark, path, corpus, merges, samplePct)
    (drift, retrained)
  }

  /** Per-document census of `docs` under the STORED tokenizer — the
    * schema of [[TextOps.bpeEncode]] with zero training jobs.
    */
  def encodeWith(spark: SparkSession, path: String,
                 docs: DataFrame): DataFrame = {
    val merges = readMerges(spark, path)
    val dict = spark.read.parquet(dictDir(path))
    docs
      .select(col("doc_id"),
        explode_outer(regexp_extract_all(col("text"),
          lit("[A-Za-z]+"), lit(0))).as("w"))
      .select(col("doc_id"), lower(col("w")).as("word"))
      .join(broadcast(dict), Seq("word"), "left")
      .select(col("doc_id"), col("word"),
        when(col("word").isNull, lit(null).cast("long"))
          .otherwise(coalesce(col("n_sub"),
            chainTokens(col("word"), merges))).as("n_sub"))
      .groupBy("doc_id")
      .agg(count(col("word")).as("n_words"),
        coalesce(sum("n_sub"), lit(0L)).as("n_subtokens"))
      .select(col("doc_id"), col("n_words"), col("n_subtokens"),
        when(col("n_words") > 0,
          micro(col("n_subtokens") / col("n_words")))
          .otherwise(lit(0L)).as("subtokens_per_word_micro"))
      .orderBy("doc_id")
  }
}
