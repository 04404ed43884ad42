package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal
object Bench {
  private[graft] type Query = (SparkSession, String) => DataFrame

  /** Every timed pass per query, in sorted query order, plus the ids of
    * the queries that threw. A query that fails in any pass (warm-up
    * included) carries no timing: a failure is never a fast measurement.
    */
  private[graft] def measure(spark: SparkSession, sfDir: String,
      queries: Map[String, Query]): (Seq[(String, Seq[Double])], Seq[String]) = {
    // Full-evaluation semantics: a bare count() lets Catalyst prune the
    // computation under measurement — projection-only queries collapse
    // to a parquet row count (the regex/hash work never runs), and
    // cardinality-preserving tails (windows, left joins against
    // unique-keyed aggregates) are eliminated outright. The noop sink
    // consumes every column of every row, so each timing is the cost of
    // actually producing the query's output.
    def run(fn: Query): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    // Each pass is one query scope: what the query pinned is released
    // after the clock stops, so every query starts from the same clean
    // session and the release is never timed.
    def timed(name: String, fn: Query): Option[Double] =
      graft.operators.Materialize.scoped {
        val t0 = System.nanoTime()
        val ok = try { run(fn); true } catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        if (ok) Some(dt) else None
      }
    // min of two measured passes per query: the container shares its
    // host, and hypervisor-level contention (invisible from inside the
    // VM) has been observed to inflate whole runs ~2×; the minimum of
    // two post-warmup passes estimates the uncontended cost. Two passes
    // disagreeing by >2× mean one of them caught a contention spike — a
    // third pass arbitrates, and the min over all passes stands.
    def passes(name: String, fn: Query): Option[Seq[Double]] = for {
      a <- timed(name, fn)
      b <- timed(name, fn)
      all <- if (math.max(a, b) > 2 * math.min(a, b))
          timed(name, fn).map(c => Seq(a, b, c))
        else Some(Seq(a, b))
    } yield all
    val selected = queries.toSeq.sortBy(_._1)
    // Steady-state methodology: run every query once AT THE MEASURED SF
    // first, so whole-stage-codegen compilation, JIT, and — crucially —
    // the AQE-dependent physical shapes (which differ between SFs as
    // broadcast/coalesce decisions change with data size) are charged
    // to warmup, not to whichever measured query first touches them.
    // Queries are then timed in deterministic (sorted) order.
    val warmed = selected.filter { case (name, fn) => timed(name, fn).isDefined }
    val measured = warmed.flatMap { case (name, fn) =>
      passes(name, fn).map(name -> _)
    }
    val ok = measured.map(_._1).toSet
    (measured, selected.map(_._1).filterNot(ok))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Targeted re-measure mode (dev): a comma-separated id list limits
    // the run to those queries — the clean-window protocol for
    // adjudicating single-query movers without paying the full corpus.
    // The official bench never sets this and always runs all.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val loadStart = loadAvg
    val (measured, failed) = measure(spark, sfDir,
      SparkEntry.queries.filter { case (name, _) => only.forall(_(name)) })
    val results = measured.map { case (name, all) => name -> all.min }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // a BENCH_ONLY run renames the stdout metric and carries the
    // subset size, so a captured line from a targeted re-measure can
    // never be mistaken for a full-run total
    val metric = if (only.isDefined) "subset_total" else "total"
    val subsetMark =
      if (only.isDefined) s""","subset":true,"n_queries":${results.length}"""
      else ""
    val json =
      s"""{"metric":"$metric","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"$subsetMark}"""
    // The full per-query line (~12 KB at 276 queries) outgrows a tail
    // capture of stdout, so the LAST stdout line is this compact one;
    // the complete per-query map lives in the sidecar.
    val jsonCompact =
      s"""{"metric":"$metric","value":$total,"unit":"sec",""" +
        s""""n_queries":${results.length},"n_failed":${failed.length},""" +
        s""""failed":$failedJson,"cpus":$cpus,"sf":"$sfDir"}"""
    // The sidecar file is the durable copy of the run, independent of
    // the pipe, with the metadata needed to tell a contended single run
    // from a regression: protocol name, EVERY pass's timing (not just
    // the min), per-pass totals, failures, and the host load average at
    // start/end. Schema documented in PLANS.md ("Bench sidecar
    // schema"). The default name is cpus-suffixed so a low-core scaling
    // run cannot clobber the full-core artifact.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"BENCH_LOCAL_c$cpus.json")
    val runsJson = measured.map { case (k, all) =>
      s"\"" + k + "\":[" + all.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val maxPasses =
      if (measured.isEmpty) 0 else measured.map(_._2.length).max
    val passTotals = (0 until maxPasses).map { i =>
      measured.map { case (_, all) => if (i < all.length) all(i) else 0.0 }
        .sum
    }
    val sidecar =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""sf":"$sfDir","protocol":"warmup+min-of-2(+arbitration)",""" +
        s""""cpus":$cpus,"n_queries":${results.length},""" +
        s""""n_failed":${failed.length},"failed":$failedJson,""" +
        s""""subset":${only.isDefined},""" +
        s""""pass_totals":[${passTotals.mkString(",")}],""" +
        s""""loadavg_start":$loadStart,"loadavg_end":$loadAvg,""" +
        s""""runs":$runsJson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (sidecar + "\n").getBytes("UTF-8"))
    println(json)
    println(jsonCompact)
    spark.stop()
  }
}
