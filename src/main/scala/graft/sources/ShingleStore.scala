package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.Hashing.{md5Long, micro}
import graft.operators.{Materialize, TextOps}

/** Persisted per-document word n-gram shingle relation — the store the
  * INCREMENTAL D2 pipeline reads instead of re-scanning the historical
  * corpus (the fifth member of the store family: [[FingerprintStore]]
  * winnow / [[GramStore]] char-gram / [[WordGramStore]] gram SET /
  * [[VectorStore]] embedding — this one carries the (h, doc_id)
  * inverted index the n-gram Jaccard detector joins on).
  *
  * Motivation: [[TextOps.ngramJaccardPairs]]'s dominant cost is the
  * shingle relation (one row per word of the corpus). A daily-increment
  * loop must derive the NEW near-dup pairs — pairs touching today's
  * admitted docs — without shingling yesterday's 100 TB again, so the
  * relation persists bucketed by the shingle hash `h`: the df cap, the
  * cap semi-join, and the candidate join all arrive pre-partitioned on
  * `h` and run with zero Exchanges of the store side; only the shard's
  * shingles are hashed into the layout (the
  * [[FingerprintStore.auditIncoming]] scale asymmetry).
  *
  * Two tables per `base`:
  *  - `<base>_sh` (h, doc_id), bucketed + sorted by `h` — the inverted
  *    index;
  *  - `<base>_sizes` (doc_id, n_shingles), bucketed by `doc_id` — the
  *    UNFILTERED distinct-shingle count per doc (the Jaccard
  *    denominator is computed from uncapped sets — the D2 discipline:
  *    the df cap is a candidate-generation device, not part of the
  *    metric). Sizes are shard-local (a doc's shingle set never
  *    changes), so the increment writes them without reading history.
  *
  * Replay (the at-least-once admission stream): appends can duplicate
  * rows; both read paths dedup on a superset of their bucket key, so
  * the dedup costs no Exchange and a replayed append changes nothing
  * any reader sees — the [[GramStore.loadDeduped]] discipline.
  */
object ShingleStore {

  private def shTable(base: String) = s"${base}_sh"
  private def sizeTable(base: String) = s"${base}_sizes"

  private val shSchema = StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("doc_id", LongType, nullable = false)))
  private val sizeSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_shingles", LongType, nullable = false)))

  private val shLayout = Bucketed.Layout("h", "h")
  private val sizeLayout = Bucketed.Layout("doc_id", "doc_id")

  /** The hashed per-doc-distinct shingle relation of `docs` — the
    * exact relation [[TextOps.ngramJaccardPairs]] builds internally
    * (60-bit md5 of the space-joined n-gram, one row per distinct
    * (doc, shingle)).
    */
  def hashedShingles(docs: DataFrame, n: Int): DataFrame =
    TextOps.shingleSet(docs, n)
      .select(col("doc_id"), md5Long(col("sh")).as("h"))

  /** Create both tables empty if missing — the streaming cold start
    * (the [[FingerprintStore.ensure]] contract).
    */
  def ensure(spark: SparkSession, base: String): Unit = {
    Bucketed.ensure(spark, shTable(base), shSchema, shLayout)
    Bucketed.ensure(spark, sizeTable(base), sizeSchema, sizeLayout)
  }

  /** Append a shard's shingles + sizes in the stores' bucket layouts.
    * The shard is shingled ONCE here; history is never read.
    */
  def append(newDocs: DataFrame, n: Int, base: String): Unit = {
    val sh = hashedShingles(newDocs, n)
      // one shard scan feeds both writes
      .transform(Materialize.shared)
    Bucketed.write(sh.select(col("h"), col("doc_id")), shTable(base),
      shLayout, "append")
    Bucketed.write(sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles")),
      sizeTable(base), sizeLayout, "append")
  }

  /** Compact both append-forever tables (the [[PairStore.compact]]
    * discipline): every [[append]] adds one file per touched bucket,
    * and the daily-increment loop ([[graft.streaming.IncrementalCuration]])
    * appends every day — the measured growth term in the per-increment
    * wall is partly this file count (every df census and candidate
    * join opens all of them). The rewrite goes through each table's
    * own bucket spec; same quiesce-first caveat as
    * [[Bucketed.compact]]. Returns
    * ((shFilesBefore, shFilesAfter), (sizeFilesBefore, sizeFilesAfter)).
    */
  def compact(spark: SparkSession, base: String): ((Int, Int), (Int, Int)) =
    (Bucketed.compact(spark, shTable(base)),
      Bucketed.compact(spark, sizeTable(base)))

  /** The stored inverted index, replay duplicates dropped (dedup keys
    * ⊇ bucket key `h` — Exchange-free).
    */
  def shingles(spark: SparkSession, base: String): DataFrame =
    spark.table(shTable(base)).select("h", "doc_id")
      .dropDuplicates("h", "doc_id")

  /** The stored size relation, replay duplicates dropped (a doc's
    * size is replay-invariant, so any duplicate row is identical;
    * dedup key = bucket key — Exchange-free).
    */
  def sizes(spark: SparkSession, base: String): DataFrame =
    spark.table(sizeTable(base)).select("doc_id", "n_shingles")
      .dropDuplicates("doc_id")

  /** Incremental D2: the verified n-gram Jaccard pairs TOUCHING a
    * just-appended shard, computed against the store (which must
    * already include the shard — call [[append]] first; self-pairs are
    * excluded, so the ordering is safe and a replayed shard re-derives
    * exactly its original pairs).
    *
    * Semantics: identical to restricting
    * [[TextOps.ngramJaccardPairs]](corpus-so-far) to pairs with at
    * least one side in the shard, with the df cap evaluated at
    * DECISION TIME (today's corpus). While no supporting shingle has
    * crossed `maxDf`, the union of every increment's pairs IS the
    * from-scratch recompute bit-for-bit (IncrementalPipelineSpec pins
    * it); once boilerplate crosses the cap, later recomputes generate
    * FEWER candidates than the increments did — the store keeps every
    * pair it verified at arrival time, which is the safe direction
    * for dedup (a pair once found is never unfound) and the standard
    * admission-pipeline contract (decisions are made when the doc
    * arrives, not retroactively re-decided as df drifts).
    *
    * Scale shape: df cap + candidate join ride the store's `h`
    * buckets (zero store-side Exchanges); the shard's shingles are
    * re-derived (shard ≪ corpus) and hashed in — ONE Exchange of the
    * new data. `inter` is a distinct-count per pair because a
    * shard-shard pair reaches the join in both orientations (the
    * shard is a subset of the store); the candidate relation is
    * df-cap-bounded, so the distinct costs what the pair relation
    * costs, never corpus².
    */
  def incrementalPairs(spark: SparkSession, base: String,
                       newDocs: DataFrame, n: Int, maxDf: Long,
                       jacMicroMin: Long): DataFrame = {
    val st = shingles(spark, base)
    val keep = st.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("h")
    val stF = st.join(keep, "h")
    val newF = hashedShingles(newDocs, n).join(keep, "h")
    val cand = newF.select(col("h"), col("doc_id").as("a"))
      .join(stF.select(col("h"), col("doc_id").as("b")), "h")
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("d1"),
        greatest(col("a"), col("b")).as("d2"), col("h"))
    val inter = cand.groupBy("d1", "d2")
      .agg(countDistinct(col("h")).as("inter"))
    val sz = sizes(spark, base)
    inter
      .join(sz.select(col("doc_id").as("d1"),
        col("n_shingles").as("n1")), "d1")
      .join(sz.select(col("doc_id").as("d2"),
        col("n_shingles").as("n2")), "d2")
      .withColumn("jac_micro",
        micro(col("inter") / (col("n1") + col("n2") - col("inter"))))
      .filter(col("jac_micro") >= jacMicroMin)
      .select("d1", "d2", "inter", "n1", "n2", "jac_micro")
  }
}
