package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.TextOps

/** T22: streaming Population Stability Index — the incremental twin of
  * X51's batch PSI (q_psi), completing the drift family's remaining
  * lens: [[DriftMonitor]] (T9) alarms on per-batch KS, but PSI is the
  * drift metric production serving actually pages on (every bucket's
  * deviation contributes, tail mass weighted by the log ratio), and
  * until now it had no incremental counterpart.
  *
  * Architecture (the T17 CMS discipline, applied to bucket censuses):
  *  - the REFERENCE is fixed at deployment time — [[initReference]]
  *    persists the 9 rank-picked length-decile edges of the reference
  *    corpus next to the store (an underscore sidecar, the
  *    [[graft.sources.VectorStore]] convention). Scoring a moving
  *    stream against moving buckets would conflate edge drift with
  *    mass drift; fixing the grid is what makes PSI a monitoring
  *    metric rather than a re-fit.
  *  - each micro-batch reduces to its (source, bucket, n_b) INTEGER
  *    mass census on those edges ([[TextOps.sourceBuckets]] — the
  *    same relation the batch query builds) BEFORE anything crosses
  *    the batch boundary, then merges into the persisted census by
  *    plain integer sum — an exact semilattice, so the accumulated
  *    census is BIT-IDENTICAL to the batch census over the
  *    concatenated stream.
  *  - [[psi]] rolls the stored census through X51's own PSI tree
  *    ([[TextOps.psiFromBuckets]] — shared code, not a reimplementation),
  *    so store ≡ batch PSI bit-for-bit whenever the batch query would
  *    pick the same edges (spec-pinned).
  *
  * Integer sums are not idempotent: replays converge only through
  * [[BatchStore.fold]].
  *
  * State bound: ≤ sources × 10 census rows per batch partition
  * REGARDLESS of stream length — smaller than any sketch in the
  * family.
  */
object StreamingPsi {

  private def edgesDir(storeDir: String) = s"$storeDir/_edges"

  /** Fix the reference grid: persist the length-decile edges of
    * `refDocs` (the training/reference corpus) next to the store.
    * Must run once before the stream starts.
    */
  def initReference(spark: SparkSession, storeDir: String,
                    refDocs: DataFrame): Unit =
    TextOps.lengthDecileEdges(refDocs)
      .coalesce(1).write.mode("overwrite").parquet(edgesDir(storeDir))

  /** The persisted reference edges (i, edge). */
  def referenceEdges(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(edgesDir(storeDir))

  private val State =
    StructType.fromDDL("source STRING, bucket BIGINT, n_b BIGINT")

  /** One micro-batch of (doc_id, text, source) rows. */
  def processBatch(batch: DataFrame, storeDir: String,
                   batchId: Long): Unit = {
    val spark = batch.sparkSession
    BatchStore.fold(spark, storeDir, batchId, State) { prev =>
      prev.unionByName(TextOps.sourceBuckets(batch,
          referenceEdges(spark, storeDir)))
        .groupBy("source", "bucket").agg(sum("n_b").as("n_b"))
    }
  }

  /** The stored (source, bucket, n_b) census (latest batch). */
  def buckets(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.current(spark, storeDir, State)

  /** The serving read: per-source PSI against the fixed reference —
    * X51's own rollup over the accumulated census (same columns as
    * q_psi: source, n_docs, psi_micro).
    */
  def psi(spark: SparkSession, storeDir: String): DataFrame =
    TextOps.psiFromBuckets(buckets(spark, storeDir)).orderBy("source")
}
