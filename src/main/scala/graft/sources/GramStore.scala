package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.TextOps

/** Persisted k-gram store — the 100 TB deployment shape for the
  * exact-substring family ([[TextOps.substringMatches]],
  * [[TextOps.dupCoverage]]), mirroring [[FingerprintStore]]'s design
  * for the winnow family.
  *
  * Exact-substring dedup's dominant cost is the gram relation: one row
  * per character of the corpus (the same order as a suffix-array
  * build). That scan must be paid ONCE, not per audit — every
  * incremental crawl shard is checked against the same corpus grams,
  * and attribution lookups ("which corpus docs contain this span")
  * probe the same table. So the relation persists as a catalog table
  * bucketed by the gram hash `h`: the df cap, the cap semi-join, and
  * the pair self-join all arrive pre-partitioned on `h` and run without
  * a single Exchange of the corpus side (StorageLayoutSpec pins it).
  *
  * `sortBy(h)` makes the self-join's sort a scan-side no-op and gives
  * point probes row-group min/max skipping. The bucket count scales
  * like the fingerprint store's: one bucket's rows per executor sort
  * budget — but note the gram relation is ~chars-per-corpus rows, so at
  * 100 TB the bucket count runs 10–100× the fingerprint store's (a
  * deployment declares it in DDL; see [[Bucketed]]).
  */
object GramStore {

  private val layout = Bucketed.Layout("h", "h")

  /** Build the (h, doc_id, pos) relation ([[TextOps.gramFirstPositions]]
    * — per-doc-distinct grams with first positions, deduplicated inside
    * the kernel) and save it bucketed by `h` as catalog table `table`.
    */
  def save(docs: DataFrame, k: Int, table: String): Unit =
    Bucketed.write(TextOps.gramFirstPositions(docs, k), table, layout,
      "overwrite")

  /** Incremental append — the growth path every admission loop needs:
    * an admitted shard's grams land in the table's own bucket layout,
    * so later audits and span joins keep running Exchange-free over the
    * grown store, and a document admitted in batch N is visible to
    * batch N+1's audit. Mirrors
    * [[graft.streaming.CorpusAdmission.appendToStore]]'s fingerprint
    * append; periodic per-bucket compaction is [[Bucketed.compact]].
    */
  def append(newDocs: DataFrame, k: Int, table: String): Unit =
    Bucketed.write(TextOps.gramFirstPositions(newDocs, k), table, layout,
      "append")

  /** The stored relation, bucket metadata intact. */
  def load(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** The stored relation with crash-replay duplicates dropped — an
    * at-least-once admission stream ([[graft.streaming]]) can append
    * the same shard's grams twice, which would inflate document
    * frequencies and shared-gram counts. Rows are identical on replay
    * ((h, doc_id) determines the first position), and the dedup's
    * grouping keys are a superset of the bucket key, so this costs no
    * Exchange — the [[FingerprintStore.auditIncoming]] discipline.
    */
  private def loadDeduped(spark: SparkSession, table: String): DataFrame =
    load(spark, table).dropDuplicates("h", "doc_id")

  /** Exact-substring span pairs against the persisted store: identical
    * output to [[TextOps.substringMatches]] on the same corpus/params
    * (the spec asserts it), with the gram scan amortized across audits
    * and every h-keyed step Exchange-free.
    */
  def substringMatches(spark: SparkSession, table: String,
                       maxDf: Long): DataFrame =
    TextOps.substringMatchesFrom(loadDeduped(spark, table), maxDf)

  /** The verified span query against the persisted store
    * ([[TextOps.substringMatchesVerified]]'s production form): the
    * store supplies the pre-bucketed gram relation, `docs` supplies
    * the texts the exact substring compare reads — hash candidates
    * that fail the compare never reach the output.
    */
  def substringMatchesVerified(spark: SparkSession, table: String,
                               docs: DataFrame, k: Int,
                               maxDf: Long): DataFrame =
    TextOps.substringMatchesVerifiedFrom(loadDeduped(spark, table),
      docs, k, maxDf)

  /** Incremental-shard audit: which INCOMING documents (a new crawl
    * shard, ≪ the corpus) share which exact k-char spans with which
    * STORED documents. The scale asymmetry mirrors
    * [[FingerprintStore.auditIncoming]]: the store side never shuffles
    * (df cap and the span join ride the `h` bucketing); only the small
    * shard's grams are hashed into the store's layout — ONE Exchange of
    * the new data, zero of the corpus. The df cap uses the STORE's
    * document frequencies (corpus boilerplate must not become a hot
    * join key), with no lower bound: a gram unique in the corpus still
    * matches an incoming copy.
    */
  def auditIncoming(spark: SparkSession, table: String,
                    newDocs: DataFrame, k: Int,
                    maxDf: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val store = loadDeduped(spark, table)
    val keep = store.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("h")
    val inc = TextOps.gramFirstPositions(newDocs, k)
      .select(col("h"), col("doc_id").as("new_doc"),
        col("pos").as("new_pos"))
    inc.join(keep, "h")
      .join(store.select(col("h"), col("doc_id").as("stored_doc"),
        col("pos").as("stored_pos")), "h")
      .filter(col("stored_doc") =!= col("new_doc"))
      .groupBy("new_doc", "stored_doc")
      .agg(count(lit(1)).as("n_shared"),
        min("new_pos").as("new_pos"), min("stored_pos").as("stored_pos"))
  }
}
