package graft
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`scripts/check_oracle.py`).
  * Exits non-zero when any query fails.
  */
object Verify {

  /** Write each query's result to `outDir/<name>`, in sorted order, each
    * as one query scope. A query's old output is deleted before it runs,
    * so a query that throws leaves no parquet for the compare to grade.
    * Returns the names of the queries that threw.
    */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, Bench.Query]): Seq[String] =
    queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val out = new Path(s"$outDir/$name")
      out.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(out, true)
      try {
        operators.Materialize.scoped(fn(spark, sfDir).coalesce(1)
          .write.mode("overwrite").parquet(out.toString))
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // dev loop: extra args select a query subset (oracle_sql.json is
    // filtered to match so check_oracle.py sees a consistent pair);
    // the driver's two-arg invocation dumps everything, unchanged
    val only = args.drop(2).toSet
    def selected[A](m: Map[String, A]): Map[String, A] =
      if (only.isEmpty) m else m.filter { case (k, _) => only(k) }
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = dump(spark, sfDir, outDir, selected(SparkEntry.queries))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = selected(SparkEntry.oracleSql)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.length} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
