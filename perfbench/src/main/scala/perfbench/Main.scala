package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload against the program's
  * public entry points and writes the raw observations (batches, query
  * executions, CPU samples, spans) to `<work>/raw.json`. The Python side
  * (`perfbench/run.py`) owns the feed, the output checks and the metrics.
  *
  * Arguments are `--key value` pairs: `workload` (`live_ingest` or
  * `view_queries`), `work` (work directory), `threads`,
  * `trace` (0/1), and per workload `port`, `lines`, `archive`, `track-hex`,
  * `now`, `seconds`, `warmup-min`, `warmup-max`, `warmup-settle`,
  * `warmup-cap-s`, `timeout-s`, and for the traced run `parse-sample`,
  * `probe-port`, `probe-lines`, `family-dir` and `family-queries`
  * (`family=query` pairs, comma-separated).
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = opts("work")
    val trace = opts.getOrElse("trace", "0") == "1"
    val threads = opts.getOrElse("threads", "4")
    val raw = mutable.LinkedHashMap[String, Any]()
    val sampler = new Sampler
    sampler.start()
    val spark = session(threads, work)
    val meter = TaskMeter.install(spark)
    val tracer = if (trace) Some(new Tracer) else None
    try {
      opts("workload") match {
        case "live_ingest" =>
          raw("live") = Live.run(spark, opts("port").toInt, opts("lines").toLong,
            work, tracer, opts("timeout-s").toInt)
        case "view_queries" =>
          raw("views") = ViewCorpus.run(spark, opts, work, tracer)
      }
      tracer.foreach { t =>
        // layers the workload itself did not exercise get an isolated probe
        raw("parse_probe") = ViewCorpus.parseProbe(spark, opts("parse-sample"), t)
        if (opts.contains("probe-port"))
          raw("live_probe") = Live.run(spark, opts("probe-port").toInt,
            opts("probe-lines").toLong, work + "/probe", tracer,
            opts("timeout-s").toInt)
        if (opts("workload") == "live_ingest")
          raw("views") = ViewCorpus.run(spark,
            opts ++ Map("seconds" -> "0", "warmup-min" -> "1",
              "warmup-max" -> "1"),
            work + "/probe", tracer)
        raw("families") = Families.run(spark, opts("family-dir"),
          opts("family-queries").split(",").toSeq.map { p =>
            val Array(f, q) = p.split("="); (f, q)
          }, work, t)
        raw("spans") = t.spans
      }
      raw("groups") = meter.groups
      raw("ok") = true
    } catch {
      case e: Throwable =>
        raw("ok") = false
        raw("error") = e.toString
        e.printStackTrace()
    } finally {
      raw("cpu_samples") = sampler.finish()
      Files.writeString(Paths.get(work, "raw.json"), Json.render(raw))
      spark.stop()
    }
  }

  def session(threads: String, work: String): SparkSession = {
    val s = SparkSession.builder().master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs(): Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b =>
      t += math.max(0L, b.getCollectionTime))
    t
  }
}

/** Process CPU and GC time every 50 ms on the monotonic clock, so the
  * `run.py` can cut any window out of the run afterwards.
  */
class Sampler extends Thread("perfbench-sampler") {
  setDaemon(true)
  private val rows = mutable.ArrayBuffer.empty[Seq[Long]]
  @volatile private var running = true
  private def sample(): Unit = rows.synchronized {
    rows += Seq(System.nanoTime(), Main.cpuNs(), Main.gcMs())
  }
  override def run(): Unit = while (running) { sample(); Thread.sleep(50) }
  def finish(): Seq[Seq[Long]] = {
    running = false
    join()
    sample()
    rows.synchronized(rows.toList)
  }
}

/** Minimal JSON rendering for maps, sequences, strings and numbers. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => render(other.toString)
  }
}
