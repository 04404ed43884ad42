package graft

import java.util.concurrent.atomic.AtomicInteger

/** Bench's pass loop never turns a failure into a timing: a query that
  * throws — in warm-up or in a timed pass — is reported by id and has no
  * entry among the measured queries, so it adds nothing to the total.
  */
class BenchSpec extends SparkSpec {

  test("a failing query is reported, not timed; a good one is timed") {
    val calls = new AtomicInteger
    val queries: Map[String, Bench.Query] = Map(
      "q_good" -> ((s, _) => s.range(100).toDF("id")),
      // fails at execution, so already in the warm-up pass
      "q_bad" -> ((s, _) => s.sql("SELECT raise_error('boom') AS x")),
      // passes warm-up, then fails in the first timed pass
      "q_flaky" -> { (s, _) =>
        if (calls.incrementAndGet() > 1) throw new RuntimeException("flaky")
        s.range(10).toDF("id")
      })
    val (measured, failed) = Bench.measure(spark, "unused", queries)
    assert(measured.map(_._1) === Seq("q_good"))
    val passes = measured.head._2
    assert(passes.length >= 2 && passes.forall(_ >= 0.0))
    assert(failed === Seq("q_bad", "q_flaky"))
  }
}
