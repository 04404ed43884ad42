package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.TextOps

/** T23: streaming duplicate-opener store — the stateful twin of D30's
  * batch census (`q_prefix_dup`), giving the cheapest dedup lens in
  * the family an INCREMENTAL admission form: a crawl/ingest loop asks
  * "how many documents with this opener have we already admitted"
  * BEFORE adding another copy of the same template instantiation, at
  * the cost of one hash per document against a store that is one row
  * per (opener class, source) — no shingles, no banding, no pairs.
  *
  * Each micro-batch reduces to its (pk, source, n, min_doc) partial
  * via the SAME [[TextOps.prefixKeys]] kernel as the batch census
  * (shared code, not a twin implementation — q_prefix_dup re-verified
  * post-refactor) and merges into the persisted state by componentwise
  * (sum, min) — an exact semilattice, so [[census]] over the store is
  * BIT-IDENTICAL to [[TextOps.prefixDupCensus]] over the concatenated
  * stream (spec-pinned), rank-free columns included.
  *
  * Sums are not idempotent: replays converge only through
  * [[BatchStore.fold]].
  *
  * State bound: one row per (opener class, source) seen — bounded by
  * DISTINCT openers, not documents (the whole point: template floods
  * collapse into their class row).
  */
object StreamingPrefix {

  /** One micro-batch's (pk, source, n, min_doc) partial. */
  def partial(docs: DataFrame): DataFrame =
    TextOps.prefixKeys(docs, TextOps.PrefixDupTokens)
      .groupBy("pk", "source")
      .agg(count(lit(1)).as("n"), min("doc_id").as("min_doc"))

  private val State =
    StructType.fromDDL("pk BIGINT, source STRING, n BIGINT, min_doc BIGINT")

  /** One micro-batch of documents-shaped rows. */
  def processBatch(batch: DataFrame, storeDir: String,
                   batchId: Long): Unit =
    BatchStore.fold(batch.sparkSession, storeDir, batchId, State) { prev =>
      prev.unionByName(partial(batch))
        .groupBy("pk", "source")
        .agg(sum("n").as("n"), min("min_doc").as("min_doc"))
    }

  /** Current state (latest batch partition); empty when unwritten. */
  def state(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.current(spark, storeDir, State)

  /** The serving census off the store — the EXACT batch-census shape
    * (pk, n_docs, n_sources, exemplar over classes with ≥ 2 docs), so
    * store ≡ [[TextOps.prefixDupCensus]] over the concatenated stream
    * bit-for-bit.
    */
  def census(spark: SparkSession, storeDir: String): DataFrame =
    state(spark, storeDir)
      .groupBy("pk")
      .agg(sum("n").as("n_docs"), count(lit(1)).as("n_sources"),
        min("min_doc").as("exemplar"))
      .filter(col("n_docs") >= 2L)
      .orderBy(col("n_docs").desc, col("pk"))

  /** Admission gate: for each incoming document, how many copies of
    * its opener class the store already holds (0 for unseen openers)
    * and whether that count is at/over `bar` — the "skip yet another
    * template instantiation" read. One hash per doc against the
    * class-level state.
    */
  def claims(spark: SparkSession, storeDir: String, docs: DataFrame,
             bar: Long): DataFrame = {
    val counts = state(spark, storeDir).groupBy("pk")
      .agg(sum("n").as("n_seen"))
    TextOps.prefixKeys(docs, TextOps.PrefixDupTokens)
      .join(broadcast(counts), Seq("pk"), "left")
      .select(col("doc_id"), col("pk"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"))
      .withColumn("flooded", col("n_seen") >= bar)
      .orderBy("doc_id")
  }
}
