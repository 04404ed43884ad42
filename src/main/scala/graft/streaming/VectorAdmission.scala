package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Hashing.micro
import graft.functions.KmeansAssign.kmeansAssign
import graft.functions.vector.cosineSim
import graft.sources.VectorStore

/** Streaming ANN admission: the [[Admission]] loop (its at-least-once
  * contract holds here) over the persisted IVF index. Each micro-batch
  * of (vec_id, embedding) rows is audited against the [[VectorStore]];
  * near-duplicates of stored vectors (cosine ≥ threshold) are
  * quarantined with the stored vector they matched best, fresh vectors
  * are appended to their cluster partition through
  * [[VectorStore.append]], so a vector admitted in batch N rejects its
  * copies in batch N+1, and every append reports the drift signal that
  * gates re-clustering. There is no corpus sink: the store is the
  * corpus.
  *
  *  - the audit compares each incoming vector ONLY against its own
  *    cluster's stored vectors (an nProbe = 1 check — the admission
  *    throughput/recall dial; a stricter audit would fan each vector
  *    out to its top-P clusters): the batch's distinct clusters are a
  *    bounded driver list (≤ nCentroids), so the store scan PRUNES
  *    non-probed cluster partitions and the tiny batch broadcasts;
  *  - duplicate vec_ids within one micro-batch collapse first;
  *  - a replayed append can leave duplicate physical rows for an
  *    admitted vec_id: run [[dedupStore]] in the same quiesced
  *    maintenance window as re-clustering/compaction to drop them.
  */
object VectorAdmission {

  /** One micro-batch through the admission decision. Returns
    * (fresh, quarantined) — fresh rows are (vec_id, embedding);
    * quarantined rows add (stored_vec, cos_micro).
    */
  def auditBatch(path: String, batch: DataFrame,
                 cosMicroMin: Long): (DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    val meta = VectorStore.readMeta(spark, path)
    val b = batch.dropDuplicates("vec_id")
    val assigned = b.select(col("vec_id").as("new_vec"),
      col("embedding").as("ne"),
      kmeansAssign(col("embedding"), meta.cents).as("cluster"))
    // bounded by construction: at most nCentroids distinct clusters
    val probed = assigned.select("cluster").distinct()
      .collect().map(_.getLong(0))
    val store = spark.read.parquet(path)
      .filter(col("cluster").isin(probed: _*))
    val scoredPairs = store.join(broadcast(assigned), Seq("cluster"))
      .filter(col("vec_id") =!= col("new_vec")) // replay self-exclusion
      .select(col("new_vec"),
        col("vec_id").as("stored_vec"),
        micro(cosineSim(col("embedding"), col("ne"))).as("cos_micro"))
    // max cosine, min stored_vec tiebreak
    val best = Admission.strongest(
      scoredPairs.filter(col("cos_micro") >= cosMicroMin), col("new_vec"),
      col("cos_micro").desc, col("stored_vec"))
    Admission.verdict(b, "vec_id", best, "new_vec")
  }

  /** The gate as an [[Admission]]: quarantine sink (batch-id-keyed,
    * overwrite), then the store append with the batch's
    * [[VectorStore.Drift]] handed to `onDrift` (the hook a deployment
    * wires to its re-cluster trigger; retraining itself belongs in a
    * quiesced maintenance window, not mid-stream). Stream it with
    * [[Admission.start]].
    */
  def admission(path: String, quarantineDir: String, cosMicroMin: Long,
                onDrift: VectorStore.Drift => Unit = _ => ()): Admission =
    Admission(None, quarantineDir, auditBatch(path, _, cosMicroMin),
      (batch, fresh) => if (!fresh.isEmpty)
        onDrift(VectorStore.append(batch.sparkSession, path, fresh)))

  /** Drop duplicate physical rows a crash-replayed append may have
    * left (same vec_id in the same cluster partition) — the vector
    * store's analogue of [[graft.sources.Bucketed.compact]]'s quiesced
    * rewrite: per-cluster rewrite through a sibling dir + rename swap,
    * partition layout preserved. Returns (rowsBefore, rowsAfter).
    */
  def dedupStore(spark: SparkSession, path: String): (Long, Long) = {
    val before = spark.read.parquet(path).count()
    val deduped = spark.read.parquet(path)
      .dropDuplicates("vec_id")
      .select("vec_id", "embedding", "cluster")
    val tmp = s"${path}__dedup_tmp"
    deduped.write.mode("overwrite").partitionBy("cluster").parquet(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = org.apache.hadoop.fs.FileSystem.get(dir.toUri, conf)
    // the sidecars live under `path` but are invisible to the scan —
    // move them into the rewrite before swapping
    Seq("_codebook", "_meta").foreach { d =>
      fs.rename(new org.apache.hadoop.fs.Path(s"$path/$d"),
        new org.apache.hadoop.fs.Path(s"$tmp/$d"))
    }
    val old = new org.apache.hadoop.fs.Path(s"${path}__dedup_old")
    if (!fs.rename(dir, old))
      throw new java.io.IOException(s"dedup: cannot move $path aside")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), dir)) {
      fs.rename(old, dir)
      throw new java.io.IOException(s"dedup: cannot swap in $tmp")
    }
    fs.delete(old, true)
    (before, spark.read.parquet(path).count())
  }
}
