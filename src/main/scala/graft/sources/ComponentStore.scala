package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.{Materialize, TextOps}

/** Persisted connected-component store — the incremental half of the
  * D7 dedup clustering: a catalog table of (doc_id, component) where
  * `component` is the MINIMUM doc_id reachable in the near-dup pair
  * graph (the D7 label convention, so keepers are component == doc_id
  * rows), maintained across micro-batches by
  * [[graft.streaming.IncrementalClusters]] and across pair appends by
  * [[PairStore.append]].
  *
  * Merge discipline (the [[PhashStore]] class-merge precedent, lifted
  * from bounded classes to an unbounded forest): a batch's new pairs
  * can only relabel the components they TOUCH, so the merge
  * recomputes components over (new pairs ∪ the store rows of touched
  * components — each store row IS an edge doc→label, and the label is
  * a node of the same component) and leaves every untouched row
  * byte-identical. The component recompute rides
  * [[TextOps.connectedComponents]] — the same driver-gated union-find
  * / distributed pointer-jumping machinery as D7, over a relation
  * bounded by the batch's pair fan-out, never the corpus.
  *
  * Replay convergence (at-least-once): re-merging an already-merged
  * batch touches the same components, reproduces the same minimum
  * labels, and re-derives zero new singletons (already stored), so
  * the rewrite is a fixed point.
  *
  * Scale note: the store rewrite materializes unaffected ∪ relabeled ∪
  * new rows and overwrites the table (an eager
  * [[graft.operators.Materialize.shared]] pin first — the
  * [[PhashStore]] overwrite-ordering contract). At deployment scale
  * the same merge writes per-component-bucket partitions and rewrites
  * only buckets holding affected or new rows; the single-table
  * overwrite here keeps the test-scale layout exact and the bucket
  * metadata intact.
  */
object ComponentStore {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("component", LongType, nullable = false)))

  private val layout = Bucketed.Layout("component", "component")

  /** Create the table empty if it does not exist. */
  def ensure(spark: SparkSession, table: String): Unit =
    Bucketed.ensure(spark, table, schema, layout)

  /** The stored (doc_id, component) relation. */
  def load(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Merge one micro-batch's verified near-dup `pairs` (d1, d2) and
    * its full doc-id set `docIds` into the store: touched components
    * relabel, untouched rows carry over, pairless new docs enter as
    * singletons (component = own id).
    */
  def mergeBatch(table: String, pairs: DataFrame, docIds: DataFrame): Unit = {
    val spark = pairs.sparkSession
    ensure(spark, table)
    val store = load(spark, table)
    val touched = pairs.select(col("d1").as("doc_id"))
      .union(pairs.select(col("d2").as("doc_id"))).distinct()
    val touchedRoots = store.join(touched, Seq("doc_id"))
      .select("component").distinct()
    val affected = store.join(touchedRoots, Seq("component"))
      .select("doc_id", "component")
    val edges = pairs.select(col("d1"), col("d2"))
      .union(affected.select(col("doc_id").as("d1"),
        col("component").as("d2")))
    val comps = TextOps.connectedComponents(edges)
    // a USING join leads with its key: restore (doc_id, component),
    // the order the table keeps
    val unaffected = store.join(touchedRoots, Seq("component"),
      "left_anti").select("doc_id", "component")
    val newSingles = docIds.select(col("doc_id"))
      .join(comps.select("doc_id"), Seq("doc_id"), "left_anti")
      .join(store.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("component"))
    val merged = unaffected
      .unionByName(comps.select("doc_id", "component"))
      .unionByName(newSingles)
      // eager materialization BEFORE the overwrite truncates the
      // source table the lineage reads (the PhashStore contract)
      .transform(Materialize.shared)
    Bucketed.write(merged, table, layout, "overwrite")
  }
}
