package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one `foreachBatch` runner. Every micro-batch operator of this
  * package starts through [[start]], so the checkpoint wiring and the
  * trigger cadence (processing time, one second) are decided here once.
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
      .foreachBatch { (batch: DataFrame, batchId: Long) => f(batch, batchId) }
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
}
