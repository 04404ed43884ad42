package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.TextOps

/** T25: streaming Jensen–Shannon divergence — the incremental twin of
  * X52's batch JSD (q_jsd), closing the drift family: KS (T9) watches
  * document LENGTH live, PSI (T22) watches bucketed length mass, and
  * until now JSD — the lens that compares WHAT WORDS each source uses,
  * the number a mixture-weights tuner actually reads — was batch-only.
  *
  * Architecture (the T22 discipline over vocabulary censuses):
  *  - each micro-batch reduces to its (source, t, cnt) unigram census
  *    ([[TextOps.sourceTermCensus]] — the SAME relation the batch
  *    query builds) BEFORE anything crosses the batch boundary, then
  *    merges into the persisted census by plain integer sum — an
  *    exact semilattice, so the accumulated census is BIT-IDENTICAL
  *    to the batch census over the concatenated stream.
  *  - [[jsd]] rolls the stored census through X52's own statistics
  *    stage ([[TextOps.jsdFromCensus]] — shared code, not a
  *    reimplementation): top-V cut, residual bucket, Laplace
  *    smoothing, pairwise rollup. Because the top-V cut is a pure
  *    function of the census (deterministic (Σcnt desc, t) order),
  *    store ≡ batch JSD bit-for-bit UNCONDITIONALLY — no analogue of
  *    PSI's fixed-reference-grid caveat (spec-pinned).
  *
  * Integer sums are not idempotent: replays converge only through
  * [[BatchStore.fold]].
  *
  * State bound: the accumulated census is vocabulary-sized
  * (sources × distinct terms — Heaps-bounded, the X37 measurement),
  * NOT corpus-sized; the serving read is census arithmetic over
  * sources × (V+1) rows.
  */
object StreamingJsd {

  private val State = StructType.fromDDL("source STRING, t STRING, cnt BIGINT")

  /** One micro-batch of (doc_id, text, source) rows. */
  def processBatch(batch: DataFrame, storeDir: String,
                   batchId: Long): Unit =
    BatchStore.fold(batch.sparkSession, storeDir, batchId, State) { prev =>
      prev.unionByName(TextOps.sourceTermCensus(batch))
        .groupBy("source", "t").agg(sum("cnt").as("cnt"))
    }

  /** The stored (source, t, cnt) census (latest batch). */
  def census(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.current(spark, storeDir, State)

  /** The serving read: pairwise JSD over the accumulated census —
    * X52's own rollup (same columns as q_jsd: source_a, source_b,
    * n_a, n_b, jsd_micro).
    */
  def jsd(spark: SparkSession, storeDir: String,
          topV: Int): DataFrame =
    TextOps.jsdFromCensus(census(spark, storeDir), topV)
      .orderBy("source_a", "source_b")
}
