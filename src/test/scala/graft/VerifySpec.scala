package graft

import java.nio.file.{Files, Paths}

/** Verify never leaves a failed query's stale output for the oracle
  * compare to grade: a query's output dir is deleted before it runs, and
  * a query that throws is reported by name.
  */
class VerifySpec extends SparkSpec {

  test("a failing query leaves no parquet and is reported; a good one " +
      "is written") {
    val out = Files.createTempDirectory("graft-verify").toString
    // an earlier run's output for both queries
    Seq("q_bad", "q_good").foreach { q =>
      spark.range(3).toDF("id").write.parquet(s"$out/$q")
    }
    val queries: Map[String, Bench.Query] = Map(
      "q_good" -> ((s, _) => s.range(5).toDF("id")),
      // throws while the query is built, like an eager checkpoint or a
      // collect inside an operator
      "q_bad" -> ((_, _) => throw new RuntimeException("boom")))
    assert(Verify.dump(spark, "unused", out, queries) === Seq("q_bad"))
    assert(!Files.exists(Paths.get(s"$out/q_bad")))
    assert(spark.read.parquet(s"$out/q_good").count() === 5L)
  }
}
