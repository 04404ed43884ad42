package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.TextOps
import graft.streaming.{DriftMonitor, MicroBatches}

/** T9 streaming drift monitor: an in-distribution batch passes quiet,
  * a shifted batch raises the alarm, and the monitor's number equals
  * the census-level KS computed offline.
  */
class DriftMonitorSpec extends SparkSpec {
  import sqlImplicits._

  test("ksBetweenCensuses: hand-computed statistic") {
    // A: values [1,1,2,3]; B: [2,3,3] -> ks = 6/12 = 0.5 (the
    // TextOpsSpec ksDrift fixture at census level)
    val a = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("v", "cnt")
    val b = Seq((2L, 1L), (3L, 2L)).toDF("v", "cnt")
    val r = TextOps.ksBetweenCensuses(a, b).collect().head
    assert((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
      r.getAs[Long]("ks_num"), r.getAs[Long]("ks_micro")) ===
      ((4L, 3L, 6L, 500000L)))
  }

  test("monitor: in-distribution batch quiet, shifted batch alarms") {
    val refDocs = (1 to 50).map(i =>
      (i.toLong, Seq.fill(5 + i % 3)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val refPath = Files.createTempDirectory("graft-ref").toString
    DriftMonitor.saveReference(refDocs, refPath)
    val monitorDir = Files.createTempDirectory("graft-mon").toString
    val ckpt = Files.createTempDirectory("graft-mon-ckpt").toString
    val ms = MemoryStream[(Long, String)](spark)
    val q = MicroBatches.start(ms.toDF().toDF("doc_id", "text"), ckpt)(
      DriftMonitor.processBatch(_, refPath, monitorDir, _,
        barMicro = 400000L))
    try {
      // batch 0: drawn from the same length distribution -> quiet
      ms.addData((1 to 30).map(i =>
        (100L + i, Seq.fill(5 + i % 3)("w").mkString(" "))): _*)
      q.processAllAvailable()
      // batch 1: every doc length 50 -> KS = 1.0 -> alarm
      ms.addData((1 to 10).map(i =>
        (200L + i, Seq.fill(50)("w").mkString(" "))): _*)
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.read.parquet(monitorDir)
      .orderBy("batch_id").collect()
      .map(r => (r.getAs[Int]("batch_id"),
        r.getAs[Long]("n_batch"), r.getAs[Long]("ks_micro"),
        r.getAs[Boolean]("alarm")))
    assert(rows.length === 2)
    assert(rows(0)._2 === 30L)
    assert(!rows(0)._4, s"in-distribution batch must not alarm: $rows")
    assert(rows(1)._2 === 10L)
    assert(rows(1)._3 === 1000000L) // disjoint supports -> KS = 1
    assert(rows(1)._4, "shifted batch must alarm")

    // the monitor's number is the offline census KS for that batch
    val offline = TextOps.ksBetweenCensuses(
      (1 to 10).map(_ => 50L).groupBy(identity).toSeq
        .map { case (v, g) => (v, g.size.toLong) }.toDF("v", "cnt"),
      spark.read.parquet(refPath))
      .collect().head.getAs[Long]("ks_micro")
    assert(offline === rows(1)._3)
  }
}
