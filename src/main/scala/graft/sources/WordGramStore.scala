package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.TextOps

/** Persisted train-split word n-gram SET — the deployment shape of the
  * X39 exact-overlap decontamination audit
  * ([[TextOps.ngramOverlapAudit]]), completing the store quartet
  * ([[FingerprintStore]] winnow / [[GramStore]] char-gram /
  * [[VectorStore]] embedding).
  *
  * The audit's big relation is the train gram set (≈ one distinct row
  * per train n-gram — token-order size). Re-deriving it per audit means
  * re-scanning the training corpus every time an eval suite, a new
  * benchmark, or a crawl shard is checked; the membership SET is a
  * pure function of (corpus, split contract, n), so it persists once as
  * a catalog table bucketed by `h`. Every later audit then shuffles
  * ONLY the eval side's grams into the bucket layout — one Exchange of
  * the small side, zero of the corpus (StorageLayoutSpec pins both the
  * plan shape and output parity with the inline path).
  *
  * `sortBy(h)` gives the membership join sorted runs and point probes
  * row-group min/max skipping. The set is distinct-on-write; `append`
  * replays (at-least-once admission) can duplicate an `h`, so read
  * paths dedup — grouping on the bucket key costs no Exchange.
  */
object WordGramStore {

  private val layout = Bucketed.Layout("h", "h")

  /** Build the distinct train-split gram-hash set and save it bucketed
    * by `h` as catalog table `table`.
    */
  def save(docs: DataFrame, n: Int, trainPct: Int, valPct: Int,
           table: String): Unit =
    Bucketed.write(TextOps.trainGramSet(docs, n, trainPct, valPct), table,
      layout, "overwrite")

  /** Incremental growth: newly admitted TRAIN documents contribute
    * their grams in the same bucket layout, so the next audit sees
    * them with no rebuild. The new docs' grams are filtered through
    * the same split contract — a doc the split assigns to an eval
    * bucket must never enter the train set.
    */
  def append(newDocs: DataFrame, n: Int, trainPct: Int, valPct: Int,
             table: String): Unit =
    Bucketed.write(TextOps.trainGramSet(newDocs, n, trainPct, valPct),
      table, layout, "append")

  /** The stored set, replay duplicates dropped (Exchange-free — the
    * dedup key IS the bucket key).
    */
  def load(spark: SparkSession, table: String): DataFrame =
    spark.table(table).dropDuplicates("h")

  /** Persist the gram set OF the given documents verbatim (no split
    * filter) — the PROTECTED-set variant: save a benchmark/eval
    * suite's grams once, then screen every incoming crawl shard
    * against it ([[overlapAgainst]], the streaming admission gate's
    * `eval_overlap` signal).
    */
  def saveDocs(docs: DataFrame, n: Int, table: String): Unit =
    Bucketed.write(TextOps.gramSet(docs, n), table, layout, "overwrite")

  /** Per-doc overlap of `docs` against the persisted protected set —
    * same membership-join scale shape as [[overlapAudit]]: the store
    * side rides its buckets, only the incoming docs' grams shuffle.
    */
  def overlapAgainst(spark: SparkSession, table: String, docs: DataFrame,
                     n: Int): DataFrame =
    TextOps.gramOverlapAgainst(load(spark, table), docs, n)

  /** The X39 audit against the persisted set: identical output to
    * [[TextOps.ngramOverlapAudit]] on the same corpus/params
    * (StorageLayoutSpec asserts it), with the train-side scan
    * amortized across audits and the membership join Exchange-free on
    * the store side.
    */
  def overlapAudit(spark: SparkSession, table: String, docs: DataFrame,
                   n: Int, trainPct: Int, valPct: Int,
                   dirtyMicroMin: Long): DataFrame =
    TextOps.ngramOverlapAuditFrom(load(spark, table), docs, n,
      trainPct, valPct, dirtyMicroMin)
}
