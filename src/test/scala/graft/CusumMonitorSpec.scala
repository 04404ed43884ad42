package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{CusumMonitor, MicroBatches}

/** T14 streaming volume CUSUM: hand-computed two-sided state over a
  * level shift (a small sustained shift accumulates to an alarm a
  * per-batch threshold would never trip), recovery, and replay
  * fixed-point.
  */
class CusumMonitorSpec extends SparkSpec {
  import sqlImplicits._

  private val (mu0, slack, h) = (10L, 2L, 15L)

  // batch volumes 10, 11, 20, 20, 2:
  //   s_pos: 0, 0, 8, 16(ALARM), 6      s_neg: 0, 0, 0, 0, 6
  // batch 3 alarms even though no single batch is 16 over mu0 —
  // accumulation, not thresholding
  private val volumes = Seq(10, 11, 20, 20, 2)
  private val expected = Seq(
    (10L, 0L, 0L, false), (11L, 0L, 0L, false), (20L, 8L, 0L, false),
    (20L, 16L, 0L, true), (2L, 6L, 6L, false))

  private def rows(n: Int, base: Long) =
    (0 until n).map(i => (base * 1000 + i, "e"))

  private def monitorRows(dir: String) =
    spark.read.option("basePath", dir).parquet(dir)
      .orderBy("batch_id").collect()
      .map(r => (r.getAs[Long]("n"), r.getAs[Long]("s_pos"),
        r.getAs[Long]("s_neg"), r.getAs[Boolean]("alarm")))

  test("two-sided CUSUM state, accumulation alarm, recovery") {
    val dir = Files.createTempDirectory("graft-cusum-mon").toString
    val ckpt = Files.createTempDirectory("graft-cusum-ckpt").toString
    val ms = MemoryStream[(Long, String)](spark)
    val q = MicroBatches.start(
        ms.toDF().toDF("event_id", "event_type"), ckpt)(
      CusumMonitor.processBatch(_, dir, _, mu0, slack, h))
    try {
      volumes.zipWithIndex.foreach { case (v, i) =>
        ms.addData(rows(v, i.toLong): _*); q.processAllAvailable()
      }
    } finally q.stop()
    assert(monitorRows(dir).toSeq === expected)
  }

  test("empty batches fold as n=0 and accumulate the down-shift side") {
    val dir = Files.createTempDirectory("graft-cusum-empty").toString
    val empty = rows(0, 0L).toDF("event_id", "event_type")
    // n=0 per batch: s_neg += mu0 - 0 - slack = 8 → 8, 16(ALARM)
    CusumMonitor.processBatch(empty, dir, 0L, mu0, slack, h)
    CusumMonitor.processBatch(empty, dir, 1L, mu0, slack, h)
    assert(monitorRows(dir).toSeq ===
      Seq((0L, 0L, 8L, false), (0L, 0L, 16L, true)))
  }

  test("replayed batch re-reads its predecessor and rewrites an " +
    "identical row") {
    val dir = Files.createTempDirectory("graft-cusum-replay").toString
    volumes.zipWithIndex.foreach { case (v, i) =>
      CusumMonitor.processBatch(
        rows(v, i.toLong).toDF("event_id", "event_type"), dir,
        i.toLong, mu0, slack, h)
    }
    val once = monitorRows(dir).toSeq
    CusumMonitor.processBatch(
      rows(volumes(3), 3L).toDF("event_id", "event_type"), dir, 3L,
      mu0, slack, h)
    assert(monitorRows(dir).toSeq === once)
  }
}
