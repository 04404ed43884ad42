package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Hashing.md5Long
import graft.operators.{Materialize, TextOps}

/** Persisted near-dup pair + component store — the BATCH half of the
  * dedup-cluster serving story (the [[ComponentStore]] maintains the
  * same component relation incrementally for the streaming loop; this
  * is the deployment layout a batch pipeline writes once and audits
  * many times).
  *
  * Motivation (the [[VectorStore]] audit-path precedent): the
  * D-family cluster audits — purity (D27), chain depth (D28),
  * effective-mass weights (D22), provenance (D23), cross-detector
  * disagreement (D29) — all consume the SAME verified pair relation
  * and its transitive closure. In-query they re-derive the candidate
  * pipeline (shingle → band → bucket-join → exact-verify) and re-run
  * union-find per audit; at 100 TB that graph is computed ONCE, and
  * every audit after the first should read the materialized tables.
  *
  * Layout (the [[FingerprintStore]]/[[GramStore]] bucketed-table
  * discipline — bucket METADATA must live in the catalog, which
  * path-parquet cannot carry):
  *  - `<base>_pairs`: the verified pair relation, ALL input columns
  *    preserved (jac_micro / hamming ride along, the [[VectorStore]]
  *    metadata contract), bucketed + sorted by d1 — the BFS frontier
  *    expansion and any per-node audit join d1-keyed.
  *  - `<base>_components`: (doc_id, component) — the D7 transitive
  *    closure, computed ONCE at write time via
  *    [[TextOps.connectedComponents]] (driver-gated union-find with
  *    the distributed pointer-jumping fallback), bucketed + sorted by
  *    `component` — cluster-size aggregates and per-cluster rollups
  *    group Exchange-free on the bucket column (spec-pinned).
  *
  * Every audit below is output-identical to its in-query twin under
  * the same pair relation (StorageLayoutSpec-pinned) and reads the
  * stored closure instead of re-deriving it — the plans contain no
  * minhash/banding kernels and no union-find jobs.
  */
object PairStore {

  private def pairsTable(base: String) = s"${base}_pairs"
  private def componentsTable(base: String) = s"${base}_components"

  private val pairsLayout = Bucketed.Layout("d1", "d1", "d2")
  private val componentsLayout = Bucketed.Layout("component", "component")

  /** Persist a verified pair relation (d1, d2, metadata...) and its
    * transitive closure. The component relation is derived here, at
    * write time — audits never pay it again.
    */
  def save(pairs: DataFrame, base: String): Unit = {
    val cols = pairs.columns
    require(cols.take(2).sameElements(Array("d1", "d2")),
      s"pair relation must lead with (d1, d2), got ${cols.toSeq}")
    Bucketed.write(pairs, pairsTable(base), pairsLayout, "overwrite")
    Bucketed.write(TextOps.connectedComponents(pairs),
      componentsTable(base), componentsLayout, "overwrite")
  }

  /** Incremental append — the operations half of the 100 TB story
    * ([[save]] is "compute the pair graph once"; THIS is "append
    * tomorrow's docs without recomputing yesterday's components"):
    * `newPairs` (same schema as the stored relation) append into the
    * bucketed pair table under the SAME bucket spec, and the stored
    * closure merges incrementally through [[ComponentStore.mergeBatch]]
    * (the streaming store's own merge). New pairs can BRIDGE existing
    * components, so the merge recomputes components over
    * (new pairs ∪ the stored rows of every component they touch —
    * each stored (doc, label) row IS an edge doc→label, and the label
    * is a member doc of the same component, so minimum labels are
    * preserved) and leaves every untouched component's rows
    * byte-identical. The union-find input is bounded by the new
    * pairs' component fan-out, never the stored graph. Every pair
    * endpoint lands in the recomputed components, so the merge adds
    * no singleton rows.
    *
    * Equivalence (StorageLayoutSpec-pinned): for any split A ⊎ B of a
    * pair relation, save(A); append(B) ≡ save(A ∪ B) on BOTH tables —
    * identical rows, identical bucket layout (the pairs append and the
    * components rewrite both restate the table's catalog bucket spec,
    * [[Bucketed.write]]).
    *
    * Retry safety: the two writes cannot be atomic, so append is
    * REPLAY-IDEMPOTENT instead — the streaming stores' fixed-point
    * discipline. The pairs append first dedups against
    * the stored relation (left_anti on (d1, d2) — the relation is a
    * set of verified edges, functionally determining its metadata),
    * so a retried batch appends zero duplicate rows; the component
    * merge runs AFTER the pairs append from the full `newPairs` (not
    * the deduped remainder), so a retry after a crash between the two
    * writes re-derives exactly the merge the first attempt lost and
    * converges both tables to the save(A ∪ B) state.
    *
    * Scale note (the [[ComponentStore]] contract, inherited): the
    * UNION-FIND input is bounded by the new pairs' fan-out, but the
    * components rewrite here materializes unaffected ∪ relabeled rows
    * and overwrites the whole table; at deployment scale the same
    * merge writes per-component-bucket partitions and rewrites only
    * buckets holding affected rows — the single-table overwrite keeps
    * the test-scale layout exact and the bucket metadata intact.
    */
  def append(spark: SparkSession, newPairs: DataFrame,
             base: String): Unit = {
    val storedCols = spark.table(pairsTable(base)).columns.toSet
    require(newPairs.columns.toSet == storedCols &&
        newPairs.columns.take(2).sameElements(Array("d1", "d2")),
      s"appended pair relation must match the stored schema " +
        s"(${storedCols.toSeq.sorted}), got ${newPairs.columns.toSeq}")
    // pairs first, deduped: a retried batch adds nothing. The anti-
    // join reads the table being appended to, so materialize before
    // the write (the PhashStore lineage-ordering contract).
    val fresh = newPairs.join(
        pairs(spark, base).select("d1", "d2"), Seq("d1", "d2"),
        "left_anti")
      .select(newPairs.columns.head, newPairs.columns.tail: _*)
      .transform(Materialize.shared)
    Bucketed.write(fresh, pairsTable(base), pairsLayout, "append")
    // component merge from the FULL newPairs (fixed point: a retry
    // whose pairs all deduped away still heals a lost merge)
    ComponentStore.mergeBatch(componentsTable(base), newPairs,
      newPairs.select(col("d1").as("doc_id"))
        .union(newPairs.select(col("d2").as("doc_id"))))
  }

  /** Compact the append-forever pairs table ([[Bucketed.compact]]
    * applied to this store): every [[append]] adds one file per
    * bucket it touches, and at daily cadence a year is ~365 files
    * per bucket on every audit's scan. The rewrite goes THROUGH the
    * table's bucket spec (a bucketed scan is one partition per
    * bucket, so the output is exactly one file per bucket) and swaps
    * catalog names; the components table is a per-merge overwrite —
    * already file-bounded — so only the pairs table compacts. Same
    * quiesce-first caveat as [[Bucketed.compact]]. Returns
    * (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, base: String): (Int, Int) =
    Bucketed.compact(spark, pairsTable(base))

  /** The stored pair relation (d1, d2, metadata...). */
  def pairs(spark: SparkSession, base: String): DataFrame =
    spark.table(pairsTable(base))

  /** The stored component relation (doc_id, component). */
  def components(spark: SparkSession, base: String): DataFrame =
    spark.table(componentsTable(base))

  /** D27 purity audit over the stored closure — union-find read, not
    * re-run; only the star-Jaccard shingle joins execute per audit.
    */
  def clusterPurity(spark: SparkSession, base: String, docs: DataFrame,
                    n: Int): DataFrame =
    TextOps.clusterPurityFrom(docs, components(spark, base), n)

  /** D28 chain-depth audit over the stored closure + pair list — the
    * plan never scans the corpus at all (spec-pinned: zero document
    * scans), only the two store tables.
    */
  def clusterDepthCensus(spark: SparkSession, base: String,
                         maxDepth: Int = 8): DataFrame =
    TextOps.clusterDepthFrom(components(spark, base),
      pairs(spark, base), maxDepth)

  /** D22 effective-mass census over the stored closure; the
    * cluster-size aggregate groups on the bucket column —
    * Exchange-free (spec-pinned).
    */
  def dedupWeights(spark: SparkSession, base: String,
                   docs: DataFrame): DataFrame =
    TextOps.dedupWeightsFrom(docs, components(spark, base))

  /** D23 provenance census over the stored closure — same contract. */
  def dedupProvenance(spark: SparkSession, base: String,
                      docs: DataFrame): DataFrame =
    TextOps.dedupProvenanceFrom(docs, components(spark, base))

  /** D29 cross-detector disagreement over TWO stored pair relations
    * (a MinHash store carrying jac_micro and a SimHash store) — the
    * deployment shape the D29 Scaladoc promises: union + classify +
    * the simhash-only exact-verify, with both detector pipelines read
    * from their tables instead of re-derived.
    */
  def detectorDisagreement(spark: SparkSession, mhBase: String,
                           shBase: String, docs: DataFrame,
                           n: Int): DataFrame =
    TextOps.detectorDisagreementFrom(
      TextOps.shingleSet(docs, n)
        .select(col("doc_id"), md5Long(col("sh")).as("h0")),
      pairs(spark, mhBase).select("d1", "d2", "jac_micro"),
      pairs(spark, shBase).select("d1", "d2"))
}
