package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

import graft.streaming.Ingest

/** The live workload: `Ingest.start` dials the feed process the way it
  * dials dump1090, and the run lasts until every offered line is
  * committed. Each progress event is stamped on arrival with the monotonic
  * clock; its offset range (sbs1 offsets are cumulative line counts) tells
  * `run.py` which lines it committed.
  */
object Live {

  def run(spark: SparkSession, port: Int, lines: Long, work: String,
          tracer: Option[Tracer], timeoutS: Int)
  : Map[String, Any] = {
    val sink = s"$work/sink"
    val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
    val committed = new AtomicLong(0)
    val qid = new AtomicReference[java.util.UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val at = System.nanoTime()
        val p = e.progress
        if (p.id == qid.get) {
          val src = p.sources.head
          val end = Option(src.endOffset).map(_.trim.toLong).getOrElse(0L)
          val start = Option(src.startOffset).map(_.trim.toLong).getOrElse(0L)
          batches.add(Map("batch" -> p.batchId, "start" -> start,
            "end" -> end, "at_ns" -> at,
            "group" -> s"batch:${p.runId}:${p.batchId}",
            "duration_ms" -> p.durationMs.asScala.map { case (k, v) =>
              k -> v.longValue }.toMap,
            "state" -> p.stateOperators.headOption.map(s => Map(
              "rows_total" -> s.numRowsTotal, "bytes" -> s.memoryUsedBytes,
              "commit_ms" -> s.commitTimeMs,
              "update_ms" -> s.allUpdatesTimeMs))))
          committed.accumulateAndGet(end, math.max)
        }
      }
    }
    spark.streams.addListener(listener)
    val cfg = Ingest.Config(host = "127.0.0.1", port = port, sinkDir = sink,
      checkpointDir = s"$work/checkpoint", connectAttemptLimit = 3,
      connectAttemptDelayMs = 500L)
    val startNs = System.nanoTime()
    val q = tracer.fold(Ingest.start(spark, cfg))(
      _.span("ingest.start")(_ => Ingest.start(spark, cfg)))
    qid.set(q.id)

    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (committed.get < lines && q.exception.isEmpty &&
           System.nanoTime() < deadline)
      Thread.sleep(20)
    val failure = q.exception.map(_.toString)
    q.stop()
    spark.streams.removeListener(listener)
    Map("sink" -> sink, "start_ns" -> startNs, "committed" -> committed.get,
      "query_error" -> failure, "batches" -> batches.asScala.toList)
  }
}
