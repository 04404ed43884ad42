package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Isolated probe of the extension operator families for the traced run:
  * one `SparkEntry.queries` entry per family over the small tables
  * `perfbench/tables.py` generated into `dir`. Each query runs once into
  * parquet (the output `run.py` checks against the query's DuckDB oracle;
  * it also warms the code), then once timed into the noop sink.
  */
object Families {

  def run(spark: SparkSession, dir: String, picks: Seq[(String, String)],
          work: String, tracer: Tracer): Seq[Map[String, Any]] =
    picks.map { case (family, q) =>
      val f = SparkEntry.queries(q)
      val out = s"$work/families/out/$q"
      val err = try {
        f(spark, dir).write.mode("overwrite").parquet(out)
        spark.catalog.clearCache()
        None
      } catch { case scala.util.control.NonFatal(e) => Some(e.toString) }
      val key = s"family:$q"
      val c0 = Main.cpuNs()
      val t0 = System.nanoTime()
      if (err.isEmpty) tracer.span(s"$family.$q") { _ =>
        TaskMeter.grouped(spark, key) {
          f(spark, dir).write.format("noop").mode("overwrite").save()
        }
      }
      val t1 = System.nanoTime()
      spark.catalog.clearCache()
      Map("family" -> family, "q" -> q, "out" -> out, "key" -> key,
        "wall_ns" -> (t1 - t0), "cpu_ns" -> (Main.cpuNs() - c0),
        "oracle" -> SparkEntry.oracleSql.get(q), "error" -> err)
    }
}
