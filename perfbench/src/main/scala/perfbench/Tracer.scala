package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spans for the traced run only (`--trace 1`): (name, start, end, parent),
  * opened by the harness around each call into a program module and kept
  * in memory until the run ends.
  */
class Tracer {
  private val nextId = new AtomicInteger(0)
  private val spanBuf = mutable.ArrayBuffer.empty[Map[String, Any]]

  def span[T](name: String, parent: Int = -1)(body: Int => T): T = {
    val id = nextId.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val t1 = System.nanoTime()
      spanBuf.synchronized {
        spanBuf += Map("id" -> id, "name" -> name, "parent" -> parent,
          "start_ns" -> t0, "end_ns" -> t1)
      }
    }
  }

  def spans: Seq[Map[String, Any]] = spanBuf.synchronized(spanBuf.toList)
}

/** Task metrics rolled up per *key*: the job group the harness sets around
  * a query execution, or `batch:<runId>:<batchId>` for the jobs of one
  * streaming micro-batch. Always on: the end-to-end CPU metrics are task
  * CPU, which JIT and GC threads do not blur.
  */
class TaskMeter {

  /** Per-key task metric totals. */
  class Agg {
    val cpuNs, shuffleWrite, spill, tasks, inputTasks = new AtomicLong(0)
    /** (submitted, completed) wall-clock ms of each finished stage */
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    def toMap: Map[String, Any] = Map("cpu_ns" -> cpuNs.get,
      "shuffle_write" -> shuffleWrite.get, "spill" -> spill.get,
      "tasks" -> tasks.get, "input_tasks" -> inputTasks.get,
      "stages" -> stages.asScala.toList)
  }

  private val aggs = new ConcurrentHashMap[String, Agg]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private def agg(k: String) = aggs.computeIfAbsent(k, _ => new Agg)

  def groups: Map[String, Map[String, Any]] =
    aggs.asScala.map { case (k, a) => k -> a.toMap }.toMap

  val listener: SparkListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val p = Option(js.properties)
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
      val key = batch.map(b => s"batch:${group.getOrElse("")}:$b")
        .orElse(group).getOrElse("other")
      js.stageInfos.foreach(s => stageKey.put(s.stageId, key))
      agg(key).inputTasks.addAndGet(
        js.stageInfos.filter(_.parentIds.isEmpty).map(_.numTasks.toLong).sum)
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        val a = agg(stageKey.getOrDefault(te.stageId, "other"))
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.tasks.incrementAndGet()
      }
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val s = sc.stageInfo
      for (t0 <- s.submissionTime; t1 <- s.completionTime)
        agg(stageKey.getOrDefault(s.stageId, "other")).stages.add(Seq(t0, t1))
    }
  }
}

object TaskMeter {
  def install(spark: SparkSession): TaskMeter = {
    val t = new TaskMeter
    spark.sparkContext.addSparkListener(t.listener)
    t
  }

  /** Runs `body` under a job group so its task metrics land under `key`. */
  def grouped[T](spark: SparkSession, key: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(key, key)
    try body finally sc.clearJobGroup()
  }
}
