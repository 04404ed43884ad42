package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

import graft.operators.TextOps

/** Persisted per-document statistics relation (T32) — the sixth member
  * of the store family: (doc_id, source, sha, n_tokens, quality_micro,
  * lang_pred), i.e. [[TextOps.docStats]] materialized at admission
  * time.
  *
  * Motivation: the incremental pipeline's two serving surfaces — the
  * X80 curation waterfall and the corpus card — both start from
  * per-doc statistics that are PURE FUNCTIONS of each document's text.
  * Recomputing them per refresh re-scans the corpus text (the X1
  * quality kernel + lang-id + sha over 100 TB for numbers that did not
  * change); appending them once at admission makes every refresh a
  * scan of one compact six-column store instead. A doc's row never
  * changes, so the relation is append-only, and replayed appends
  * produce identical duplicate rows the read drops on the bucket key.
  */
object DocStatsStore {

  private def table(base: String) = s"${base}_docstats"

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("source", StringType, nullable = true),
    StructField("sha", StringType, nullable = true),
    StructField("n_tokens", LongType, nullable = true),
    StructField("quality_micro", LongType, nullable = true),
    StructField("lang_pred", StringType, nullable = true)))

  private val layout = Bucketed.Layout("doc_id", "doc_id")

  def ensure(spark: SparkSession, base: String): Unit =
    Bucketed.ensure(spark, table(base), schema, layout)

  /** Append an admitted shard's stats — ONE text scan per shard, ever.
    */
  def append(newDocs: DataFrame, base: String): Unit =
    Bucketed.write(TextOps.docStats(newDocs), table(base), layout, "append")

  /** The stored relation, replay duplicates dropped (a doc's stats are
    * replay-invariant so duplicate rows are identical; dedup key =
    * bucket key — Exchange-free).
    */
  def load(spark: SparkSession, base: String): DataFrame =
    spark.table(table(base)).dropDuplicates("doc_id")
}
