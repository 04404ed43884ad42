package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.SketchQueries
import graft.sources.QuantileStore

/** T13: streaming mergeable quantile sketch — the stateful twin of the
  * X64 batch sketch (q_qsketch), closing the batch-vs-streaming gap
  * for the sketch family the way T12 closed it for dedup clustering:
  * each micro-batch collapses to its own ≤ k-row bottom-k sample
  * (capacity-bounded BEFORE anything crosses the batch boundary) and
  * merges into the persisted [[QuantileStore]]; because bottom-k by a
  * fixed hash is an exact semilattice, after any number of
  * micro-batches the store is BIT-IDENTICAL to the direct sketch over
  * the whole stream — true incremental quantiles with zero approximation
  * drift across batch boundaries (spec-pinned, including arbitrary
  * batch splits).
  *
  * Replay convergence (at-least-once foreachBatch): a replayed batch
  * re-derives exactly its original sample rows; the merge's distinct
  * absorbs them, so the store is a replay fixed point (spec-pinned).
  *
  * State bound: the store holds ≤ k rows per event_type REGARDLESS of
  * stream length — the mergeable-summary property, vs the exact census
  * (X8/R17) whose state grows with value cardinality.
  */
object StreamingQuantiles {

  /** One micro-batch: sample, then create-or-merge the store. */
  def processBatch(batch: DataFrame, table: String): Unit = {
    val spark = batch.sparkSession
    val sample = SketchQueries.qsSample(
      batch.select("event_id", "event_type", "value"))
    if (!spark.catalog.tableExists(table))
      QuantileStore.save(sample, table)
    else
      QuantileStore.merge(spark, sample, table)
  }
}
