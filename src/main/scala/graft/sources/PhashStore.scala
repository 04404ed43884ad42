package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Materialize, MultimodalOps}

/** Persisted perceptual-hash (dHash) class store — the M7 census as a
  * serving relation: one row per DISTINCT image hash with its
  * population count and exemplar doc, bucketed by `dhash`. The image-
  * side sibling of [[FingerprintStore]]: admission audits and near-dup
  * probes run against hash CLASSES (hundreds), never stored images
  * (millions) — the same collapse that makes the M7 pair join
  * tractable makes the store tiny and the audit broadcast-shaped.
  */
object PhashStore {

  private val layout = Bucketed.Layout("dhash", "dhash")

  /** Decode every BMP in `docs`, collapse to the class census, save
    * bucketed by dhash as catalog table `table`.
    */
  def save(docs: DataFrame, table: String): Unit =
    Bucketed.write(
      MultimodalOps.imageDHash(MultimodalOps.mediaBinary(docs)).toDF()
        .groupBy("dhash")
        .agg(count(lit(1)).as("n"), min("doc_id").as("exemplar")),
      table, layout, "overwrite")

  def load(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Which INCOMING images near-duplicate a stored class: each batch
    * image's dHash against the class census within `maxHamming`
    * (4×7-bit pigeonhole bands + exact bit_count, the M7 discipline).
    * Returns (doc_id, dhash, matched_hash, exemplar, n_stored,
    * hamming) — one row per (image, matched class).
    *
    * Scale: the class census is bounded (the fixture ceiling is 3840;
    * real perceptual-hash spaces saturate similarly under dedup), so
    * it BROADCASTS; the batch side is a micro-batch. Nothing shuffles.
    */
  def auditIncoming(spark: SparkSession, table: String,
                    batch: DataFrame, maxHamming: Int): DataFrame = {
    val sig = MultimodalOps.imageDHash(
      MultimodalOps.mediaBinary(batch)).toDF()
    def bands(c: org.apache.spark.sql.Column, k: Int) =
      shiftright(c, 7 * k).bitwiseAND(lit(127L))
    val stored = load(spark, table)
      .select(col("dhash").as("stored_hash"), col("n").as("n_stored"),
        col("exemplar"))
    val bandPairs = (0 until 4).map { k =>
      sig.join(broadcast(stored),
        bands(col("dhash"), k) === bands(col("stored_hash"), k))
    }.reduce(_ unionByName _)
    bandPairs
      .select(col("doc_id"), col("dhash"), col("stored_hash"),
        col("exemplar"), col("n_stored"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("dhash").bitwiseXOR(col("stored_hash")))
          .cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_id"), col("dhash"),
        col("stored_hash").as("matched_hash"), col("exemplar"),
        col("n_stored"), col("hamming"))
  }

  /** Merge newly admitted images into the class census: existing
    * classes bump their count, new classes append. Rewrites the
    * (bounded) class table — at its ceiling size this is cheaper than
    * a merge-on-read scheme, and keeps the bucket layout exact.
    * `localCheckpoint` severs the merged relation's lineage from the
    * table it is about to overwrite (a cache can evict and re-read a
    * half-overwritten source; a checkpoint cannot).
    */
  def mergeAdmitted(spark: SparkSession, admitted: DataFrame,
                    table: String): Unit = {
    val fresh = MultimodalOps.imageDHash(
      MultimodalOps.mediaBinary(admitted)).toDF()
      .groupBy("dhash")
      .agg(count(lit(1)).as("n"), min("doc_id").as("exemplar"))
    val merged = load(spark, table).unionByName(fresh)
      .groupBy("dhash")
      .agg(sum("n").as("n"), min("exemplar").as("exemplar"))
      // eager = true spells out the no-arg default; the point is the
      // materialization happens BEFORE the overwrite truncates its source
      .transform(Materialize.shared)
    Bucketed.write(merged, table, layout, "overwrite")
  }
}
