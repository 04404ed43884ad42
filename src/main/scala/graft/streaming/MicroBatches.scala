package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Materialize

/** The one `foreachBatch` runner. Every micro-batch operator of this
  * package starts through [[start]], so the checkpoint wiring and the
  * trigger cadence (processing time, one second) are decided here once,
  * and so is the lifetime of what a batch pins: each micro-batch is one
  * [[Materialize.scoped]] scope, so every pin `f` makes is released when
  * the batch ends.
  * [[Ingest.start]] and [[Ingest.backfill]] are file-sink queries, not
  * `foreachBatch` operators, and set their own triggers.
  */
object MicroBatches {

  /** Run `f(batch, batchId)` on every micro-batch of `df`, with the
    * query's progress in `checkpointDir` (non-blocking). `foreachBatch`
    * is at-least-once: after a crash `f` may see the same `batchId`
    * again, so every write in `f` must converge under replay.
    */
  def start(df: DataFrame, checkpointDir: String)
           (f: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Materialize.scoped(f(batch, batchId))
      }
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
}
