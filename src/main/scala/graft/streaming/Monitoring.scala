package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Streaming observability — the engine-side replacement for the
  * reference's `pg_stat_statements` (SURVEY.md §4.1): a
  * StreamingQueryListener that keeps a bounded ring of per-batch
  * progress (rows, input rate, batch duration; the last 256 batches)
  * per query and summarizes on demand. Attach once per session; costs
  * nothing on the data path (events arrive on the listener bus).
  */
class Monitoring extends StreamingQueryListener {
  import Monitoring.MaxBatchesPerQuery

  case class BatchStat(batchId: Long, numInputRows: Long,
                       inputRowsPerSecond: Double, durationMs: Long)
  case class QuerySummary(name: String, batches: Long, totalRows: Long,
                          maxBatchMs: Long, meanBatchMs: Double)

  private val stats =
    mutable.Map.empty[java.util.UUID, (String, mutable.Queue[BatchStat])]

  override def onQueryStarted(event: QueryStartedEvent): Unit =
    synchronized {
      stats(event.id) = (Option(event.name).getOrElse(event.id.toString),
        mutable.Queue.empty)
    }

  override def onQueryProgress(event: QueryProgressEvent): Unit =
    synchronized {
      val p = event.progress
      stats.get(p.id).foreach { case (_, q) =>
        q.enqueue(BatchStat(p.batchId, p.numInputRows,
          p.inputRowsPerSecond,
          Option(p.durationMs.get("triggerExecution"))
            .map(_.longValue).getOrElse(0L)))
        while (q.size > MaxBatchesPerQuery) q.dequeue()
      }
    }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  /** Per-query rollup of the retained window. */
  def summaries: Seq[QuerySummary] = synchronized {
    stats.values.map { case (name, q) =>
      val b = q.toSeq
      QuerySummary(name, b.size.toLong, b.map(_.numInputRows).sum,
        if (b.isEmpty) 0L else b.map(_.durationMs).max,
        if (b.isEmpty) 0.0
        else b.map(_.durationMs).sum.toDouble / b.size)
    }.toSeq
  }
}

object Monitoring {

  private val MaxBatchesPerQuery = 256

  /** Attach a fresh monitor to the session's listener bus. */
  def attach(spark: SparkSession): Monitoring = {
    val m = new Monitoring
    spark.streams.addListener(m)
    m
  }
}
