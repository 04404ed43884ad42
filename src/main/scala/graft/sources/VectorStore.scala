package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.KmeansAssign.kmeansAssign
import graft.functions.KmeansScore.kmeansScore
import graft.functions.Hashing.micro
import graft.functions.vector.cosineSim
import graft.operators.SimilarityOps

/** Persisted IVF vector store — the deployment shape of
  * [[SimilarityOps.annIvf]]'s scale note made concrete: the index build
  * (codebook training + cluster assignment) happens ONCE at write time,
  * and the layout is partitioned by cluster id, so a probe query's
  * cluster filter becomes parquet partition pruning — the scan never
  * opens a non-probed cluster's files. At 100 TB with, say, 4,096
  * clusters and nProbe = 32, a query touches <1 % of the index bytes
  * before a single row is read.
  *
  * Build is embarrassingly parallel after training (assignment is the
  * [[graft.functions.KmeansAssign]] per-row kernel, zero shuffles; the
  * partitioned write is the only data movement). Queries recompute
  * nothing: assignment is baked into the layout.
  *
  * == Index lifecycle (a 100 TB index is never rebuilt from scratch) ==
  *
  * The codebook and a training-time quality baseline persist NEXT TO
  * the data (underscore-prefixed sidecar dirs, invisible to the main
  * parquet scan), making the store self-contained:
  *
  *  - [[append]]: new vectors assign against the STORED codebook (the
  *    same zero-shuffle kernel) and land in their cluster's partition
  *    directory — probes keep pruning, no existing file is touched.
  *  - drift: every append measures the batch's mean assignment score
  *    (micro-cosine against its nearest centroid,
  *    [[graft.functions.KmeansScore]]) against the training-time mean.
  *    A batch the codebook still describes scores near the baseline; a
  *    distribution shift scores low — the signal that probes are
  *    scanning the wrong clusters and recall is silently decaying.
  *  - [[retrain]]: re-derives the codebook from ALL stored vectors and
  *    rewrites the layout (to a sibling dir, swapped in via rename, the
  *    [[graft.streaming.Maintenance]] pattern). [[appendOrRetrain]]
  *    wires the two together with a drift tolerance.
  */
object VectorStore {

  /** Stored-next-to-the-data index metadata: the codebook and the mean
    * assignment score (micro-cosine) over the vectors the codebook was
    * trained on.
    */
  final case class Meta(cents: Array[Array[Long]],
                        baselineScoreMicro: Long, nTrain: Long)

  /** Drift report of one appended batch: training-time baseline vs the
    * batch's own mean assignment score, both micro-cosine.
    */
  final case class Drift(batchScoreMicro: Long, baselineScoreMicro: Long,
                         nAppended: Long) {
    /** How far below the training baseline the batch scores. */
    def driftMicro: Long = baselineScoreMicro - batchScoreMicro
  }

  private def codebookDir(path: String) = s"$path/_codebook"
  private def metaDir(path: String) = s"$path/_meta"

  /** Mean assignment quality of `emb` under `cents`, in MICRO-COSINE
    * units: the raw [[KmeansScore]] kernel output scales with the
    * vector norm (≈ 10⁹ · cos · ‖v‖), so it is divided back by
    * 1000·‖v‖ per row — the metric is then comparable across batches
    * whatever their norms, and tolerances read as plain cosine
    * (300000 = "0.3 worse than training"). One aggregate, two collected
    * values; a double mean is fine here — this is an operational
    * metric, not an oracled output.
    */
  private def meanScore(emb: DataFrame,
                        cents: Array[Array[Long]]): (Long, Long) = {
    val norm = sqrt(aggregate(col("embedding"), lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val cosMicro = when(norm > 0.0,
      kmeansScore(col("embedding"), cents).cast("double") /
        (norm * lit(1000.0))).otherwise(lit(0.0))
    val r = emb.agg(avg(cosMicro).as("s"), count(lit(1)).as("n")).head()
    val n = r.getLong(1)
    (if (n == 0) 0L else math.floor(r.getDouble(0)).toLong, n)
  }

  private def writeMeta(spark: SparkSession, path: String,
                        cents: Array[Array[Long]], baseline: Long,
                        nTrain: Long): Unit = {
    import spark.implicits._
    cents.zipWithIndex
      .flatMap { case (c, cid) =>
        c.zipWithIndex.map { case (s, i) => (cid.toLong, i, s) }
      }.toSeq.toDF("cid", "i", "s")
      .coalesce(1).write.mode("overwrite").parquet(codebookDir(path))
    Seq((baseline, nTrain)).toDF("baseline_score_micro", "n_train")
      .coalesce(1).write.mode("overwrite").parquet(metaDir(path))
  }

  /** The persisted codebook + baseline. */
  def readMeta(spark: SparkSession, path: String): Meta = {
    val rows = spark.read.parquet(codebookDir(path))
      .orderBy("cid", "i").collect()
    val nC = rows.map(_.getLong(0)).max.toInt + 1
    val cents = Array.ofDim[Array[Long]](nC)
    rows.groupBy(_.getLong(0)).foreach { case (cid, rs) =>
      cents(cid.toInt) = rs.sortBy(_.getInt(1)).map(_.getLong(2))
    }
    val m = spark.read.parquet(metaDir(path)).head()
    Meta(cents, m.getLong(0), m.getLong(1))
  }

  /** All input columns ride into the layout — vec_id and embedding are
    * the index; metadata columns (label, source, ...) persist alongside
    * so store-backed audits ([[semDedup]], [[knnLabelConfusion]]) never
    * join back to the corpus for them. Parquet stores them columnar:
    * a query that doesn't read `label` never opens its pages.
    */
  private def writeRows(emb: DataFrame, path: String,
                        cents: Array[Array[Long]], mode: String): Unit =
    emb.select(col("*"),
        kmeansAssign(col("embedding"), cents).as("cluster"))
      .write.mode(mode).partitionBy("cluster").parquet(path)

  /** Train a codebook on `emb` and write (vec_id, embedding, cluster)
    * partitioned by cluster under `path`, plus the codebook/baseline
    * sidecar. Returns the trained codebook ([[readMeta]] recovers it —
    * callers no longer need to hold it).
    */
  def save(emb: DataFrame, path: String, nCentroids: Int,
           rounds: Int = SimilarityOps.KmRounds): Array[Array[Long]] = {
    val cents = SimilarityOps.kmeansCodebook(emb, nCentroids, rounds)
    saveWith(emb, path, cents)
    cents
  }

  /** Write the store under an EXPLICIT codebook (no training) — the
    * rebuild half of the append-equals-rebuild contract, and the write
    * path [[retrain]] reuses.
    */
  def saveWith(emb: DataFrame, path: String,
               cents: Array[Array[Long]]): Unit = {
    writeRows(emb, path, cents, "overwrite")
    val (baseline, n) = meanScore(emb, cents)
    writeMeta(emb.sparkSession, path, cents, baseline, n)
  }

  /** Incremental append: assign `newVecs` against the STORED codebook
    * and append them to their cluster partitions. Existing files and
    * the sidecar are untouched — a store grown by appends answers every
    * query exactly as the same data re-saved under the same codebook
    * (spec-pinned). Returns the batch's [[Drift]] so callers can gate
    * re-clustering ([[appendOrRetrain]]).
    */
  def append(spark: SparkSession, path: String,
             newVecs: DataFrame): Drift = {
    val meta = readMeta(spark, path)
    val (batchScore, n) = meanScore(newVecs, meta.cents)
    writeRows(newVecs, path, meta.cents, "append")
    Drift(batchScore, meta.baselineScoreMicro, n)
  }

  /** Re-derive the codebook from ALL stored vectors and rewrite the
    * layout. The rewrite goes to a sibling directory and swaps in via
    * two renames (the [[graft.streaming.Maintenance.compactPartition]]
    * discipline) — a reader mid-swap sees the old or the new index,
    * never a partial one; quiesce writers first.
    */
  def retrain(spark: SparkSession, path: String, nCentroids: Int,
              rounds: Int = SimilarityOps.KmRounds): Array[Array[Long]] = {
    val emb = spark.read.parquet(path).select("vec_id", "embedding")
    val tmp = s"${path}__retrain_tmp"
    val cents = save(emb, tmp, nCentroids, rounds)
    val dir = new Path(path)
    val fs = FileSystem.get(dir.toUri,
      spark.sparkContext.hadoopConfiguration)
    val old = new Path(s"${path}__retrain_old")
    if (!fs.rename(dir, old))
      throw new java.io.IOException(s"retrain: cannot move $path aside")
    if (!fs.rename(new Path(tmp), dir)) {
      fs.rename(old, dir) // restore — the index must never vanish
      throw new java.io.IOException(s"retrain: cannot swap in $tmp")
    }
    fs.delete(old, true)
    cents
  }

  /** The maintenance policy in one call: append the batch, and if its
    * mean assignment score fell more than `tolMicro` below the training
    * baseline, re-cluster the whole store (the appended rows included).
    * Returns (drift, retrained?).
    */
  def appendOrRetrain(spark: SparkSession, path: String,
                      newVecs: DataFrame, tolMicro: Long, nCentroids: Int,
                      rounds: Int = SimilarityOps.KmRounds)
      : (Drift, Boolean) = {
    val drift = append(spark, path, newVecs)
    val retrained = drift.driftMicro > tolMicro
    if (retrained) retrain(spark, path, nCentroids, rounds)
    (drift, retrained)
  }

  /** Top-k cosine ANN against the stored index: probe clusters chosen
    * from the codebook on the driver (same score function as training),
    * the cluster filter prunes partitions at the scan, exact cosine only
    * over surviving rows. Output is identical to
    * [[SimilarityOps.annIvfWith]] on the same codebook (spec-pinned) —
    * the store only changes WHERE assignment is paid, not what it is.
    */
  def annTopK(spark: SparkSession, path: String,
              cents: Array[Array[Long]], queryId: Long, nProbe: Int,
              k: Int): DataFrame = {
    val store = spark.read.parquet(path)
    val probed = SimilarityOps.probeClusters(store, cents, queryId, nProbe)
    val q = store.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    store.filter(col("vec_id") =!= queryId)
      .filter(col("cluster").isin(probed.map(_.toLong): _*))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("cluster"),
        micro(cosineSim(col("embedding"), col("qe"))).as("cos_micro"))
      .orderBy(col("cos_micro").desc, col("vec_id"))
      .limit(k)
  }

  /** [[annTopK]] with the codebook read from the store's own sidecar. */
  def annTopK(spark: SparkSession, path: String, queryId: Long,
              nProbe: Int, k: Int): DataFrame =
    annTopK(spark, path, readMeta(spark, path).cents, queryId, nProbe, k)

  /** The stored (vec_id, cluster, …metadata, embedding) relation,
    * optionally restricted to a cluster subset — the restriction is a
    * PARTITION filter (pinned in StorageLayoutSpec): a non-audited
    * cluster's files are never opened.
    */
  private def storeRows(spark: SparkSession, path: String,
                        clusters: Seq[Long]): DataFrame = {
    val store = spark.read.parquet(path)
    if (clusters.isEmpty) store
    else store.filter(col("cluster").isin(clusters: _*))
  }

  /** SemDeDup over the stored layout — the documented 100-k-cluster
    * regime of [[SimilarityOps.semDedup]] made concrete: assignment was
    * paid ONCE at write time (the cluster id is read, not recomputed —
    * no codebook literals in the plan), a cluster-subset audit prunes
    * partitions at the scan, and the within-cluster pair join
    * hash-partitions on the stored cluster id with the second side
    * reusing the first's Exchange — each cluster's pairs form
    * partition-locally and never cross clusters. Output ≡ the in-query
    * path under the same codebook (spec-pinned).
    */
  def semDedup(spark: SparkSession, path: String, cosMicroMin: Long,
               clusters: Seq[Long] = Nil): DataFrame =
    SimilarityOps.semDedupFrom(
      storeRows(spark, path, clusters)
        .select("vec_id", "cluster", "embedding"),
      cosMicroMin)

  /** k-NN majority-label confusion over the stored layout — labels come
    * from the store's own metadata columns ([[writeRows]] persists
    * them), so the audit reads ONE relation: no corpus-side join, and a
    * per-cluster audit (label drift in one shard's neighborhood) scans
    * only that cluster's partition.
    */
  def knnLabelConfusion(spark: SparkSession, path: String, kNN: Int,
                        clusters: Seq[Long] = Nil): DataFrame =
    SimilarityOps.knnLabelConfusionFrom(
      storeRows(spark, path, clusters)
        .select("vec_id", "label", "cluster", "embedding"),
      kNN)

  /** V33 over the stored layout: pairs form partition-locally on the
    * written cluster id; a cluster subset prunes partitions at the
    * scan and the antihub base is the selection (cluster-local
    * semantics, the [[semDedup]] subset contract).
    */
  def hubnessCensus(spark: SparkSession, path: String, kNN: Int,
                    clusters: Seq[Long] = Nil): DataFrame =
    SimilarityOps.hubnessCensusFrom(
      storeRows(spark, path, clusters)
        .select("vec_id", "cluster", "embedding"),
      kNN)

  /** V44 over the stored layout — the [[hubnessCensus]] contract:
    * edges form partition-locally on the written cluster id, a
    * cluster subset prunes partitions, the zero-reciprocity base is
    * the selection itself.
    */
  def knnReciprocityCensus(spark: SparkSession, path: String, kNN: Int,
                           clusters: Seq[Long] = Nil): DataFrame =
    SimilarityOps.knnReciprocityCensusFrom(
      storeRows(spark, path, clusters)
        .select("vec_id", "cluster", "embedding"),
      kNN)

  /** V45 over the stored layout — same contract; the per-cluster LID
    * census rows for a subset equal the full audit filtered to those
    * clusters (cluster-local semantics).
    */
  def lidCensus(spark: SparkSession, path: String, kNN: Int,
                clusters: Seq[Long] = Nil): DataFrame =
    SimilarityOps.lidCensusFrom(
      storeRows(spark, path, clusters)
        .select("vec_id", "cluster", "embedding"),
      kNN)

  /** nDCG@k retrieval eval over the stored layout — the hubness
    * precedent applied to the retrieval evals: vectors, labels and the
    * audit subset come off the cluster-partitioned store (labels from
    * the store's own metadata columns, no corpus-side join; a cluster
    * subset prunes partitions at the scan; no assignment kernel
    * anywhere in the plan). Output ≡ the in-query path on the same
    * rows (StorageLayoutSpec). With a cluster subset the relevance
    * budgets (n_label) are SUBSET-LOCAL and the query set is the
    * subset's — the store-backed SemDeDup/hubness semantics.
    */
  def ndcgAtK(spark: SparkSession, path: String, queryMax: Long,
              k: Int, clusters: Seq[Long] = Nil): DataFrame =
    SimilarityOps.ndcgAtK(
      storeRows(spark, path, clusters)
        .select("vec_id", "embedding", "label"),
      queryMax, k)

  /** Label-MRR over the stored layout — same contract as
    * [[ndcgAtK]] above.
    */
  def labelMrr(spark: SparkSession, path: String, queryMax: Long,
               clusters: Seq[Long] = Nil): DataFrame =
    SimilarityOps.labelMrr(
      storeRows(spark, path, clusters)
        .select("vec_id", "embedding", "label"),
      queryMax)

  // ------------------------------------------------------------- PQ leg

  private def pqCodesDir(path: String) = s"$path/_pqcodes"
  private def pqBooksDir(path: String) = s"$path/_pqbooks"

  /** Attach a PQ leg to an existing store: train per-subspace codebooks
    * over the stored vectors ([[SimilarityOps.pqCodebooks]]), write
    * every vector's codes partitioned by the SAME cluster id as the
    * main layout — so an IVF probe prunes the compressed relation
    * exactly as it prunes the raw one — plus the books sidecar
    * (sub, cid, i, comp). The codes relation is the serving artifact: at
    * production code widths it is 2-3 orders of magnitude smaller than
    * the vectors, the working set that actually fits in RAM.
    */
  def savePq(spark: SparkSession, path: String, nSub: Int, subLen: Int,
             nCents: Int): Seq[Array[Array[Long]]] = {
    val store = spark.read.parquet(path)
      .select("vec_id", "embedding", "cluster")
    val books = SimilarityOps.pqCodebooks(
      store.select("vec_id", "embedding"), nSub, subLen, nCents)
    SimilarityOps.pqEncode(store, books, subLen)
      .join(store.select("vec_id", "cluster"), Seq("vec_id"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(pqCodesDir(path))
    val rows = for {
      (cents, s) <- books.zipWithIndex
      (c, cid) <- cents.toSeq.zipWithIndex
      (v, i) <- c.toSeq.zipWithIndex
    } yield (s, cid.toLong, i, v)
    import spark.implicits._
    rows.toDF("sub", "cid", "i", "comp").coalesce(1)
      .write.mode("overwrite").parquet(pqBooksDir(path))
    books
  }

  /** The stored PQ codebooks, subspace-major. */
  def readPqBooks(spark: SparkSession, path: String)
      : Seq[Array[Array[Long]]] = {
    val rows = spark.read.parquet(pqBooksDir(path))
      .orderBy("sub", "cid", "i").collect()
    rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
      rs.groupBy(_.getLong(1)).toSeq.sortBy(_._1).map { case (_, cs) =>
        cs.sortBy(_.getInt(2)).map(_.getLong(3))
      }.toArray
    }
  }

  /** IVF-pruned ADC top-k — the 100 TB serving path: probe clusters
    * are chosen from the IVF codebook on the driver, the scan touches
    * ONLY the probed partitions of the CODES relation (the raw vectors
    * are read for the one query row, nothing else), and ranking is the
    * exact-integer ADC of [[SimilarityOps.pqAdcTopK]]. With nProbe =
    * nCentroids the result equals the in-query ADC over the same books
    * (spec-pinned); narrower probes trade recall for scan bytes on
    * BOTH axes at once — partition pruning and 16-byte code rows.
    */
  // ----------------------- persisted graph-ANN index (V35/V46)

  /** Build and persist the V35 kNN edge relation off the stored
    * layout: c1 is the stored cluster (assignment READ off the
    * partition column, never recomputed — the semDedup discipline),
    * only the runner-up probe runs the codebook kernel, and that once,
    * at build time. The edge table is bucketed + sorted by source node
    * (the GramStore discipline), so serving sessions read a navigable
    * graph — beam search and beam sweeps never pay the corpus-sized
    * pair stage again.
    */
  def saveGraph(spark: SparkSession, path: String, table: String,
                m: Int): Unit = {
    val meta = readMeta(spark, path)
    val assigned = spark.read.parquet(path)
      .select(col("vec_id"), col("cluster").as("c1"),
        graft.functions.KmeansSecondId.kmeansSecondId(col("embedding"),
          meta.cents).as("c2"),
        col("embedding"))
    Bucketed.write(SimilarityOps.knnGraphEdgesFrom(assigned, m), table,
      Bucketed.Layout("d1", "d1", "d2"), "overwrite")
  }

  /** The persisted edge relation (d1, d2). */
  def graphEdges(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** V35 beam search over the persisted graph — zero graph-
    * construction stages (spec-pinned: no assignment or runner-up
    * kernel in the plan); output ≡ [[SimilarityOps.graphAnn]] under
    * the same codebook and out-degree.
    */
  def graphAnn(spark: SparkSession, path: String, table: String,
               queryMax: Long, beamW: Int, rounds: Int, k: Int,
               nSeeds: Int): DataFrame =
    SimilarityOps.graphAnnFrom(
      spark.read.parquet(path).select("vec_id", "embedding"),
      graphEdges(spark, table), queryMax, beamW, rounds, k, nSeeds)

  /** V46 beam sweep over the persisted graph — the sweep costs
    * Σ beams only; same parity contract as [[graphAnn]].
    */
  def graphAnnSweep(spark: SparkSession, path: String, table: String,
                    queryMax: Long, beams: Seq[Int], rounds: Int,
                    k: Int, nSeeds: Int): DataFrame =
    SimilarityOps.graphAnnSweepFrom(
      spark.read.parquet(path).select("vec_id", "embedding"),
      graphEdges(spark, table), queryMax, beams, rounds, k, nSeeds)

  def pqAdcTopK(spark: SparkSession, path: String, queryId: Long,
                nProbe: Int, k: Int): DataFrame = {
    val meta = readMeta(spark, path)
    val books = readPqBooks(spark, path)
    val subLen = books.head.head.length
    val store = spark.read.parquet(path)
    val probed = SimilarityOps.probeClusters(store, meta.cents, queryId,
      nProbe)
    val qm = store.filter(col("vec_id") === queryId)
      .select(SimilarityOps.milliVec(col("embedding")))
      .head().getSeq[Long](0).toArray
    spark.read.parquet(pqCodesDir(path))
      .filter(col("cluster").isin(probed.map(_.toLong): _*))
      .filter(col("vec_id") =!= queryId)
      .withColumn("adc", SimilarityOps.pqAdcColumn(
        SimilarityOps.pqLuts(qm, books, subLen)))
      .select("vec_id", "adc")
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(k)
  }
}
