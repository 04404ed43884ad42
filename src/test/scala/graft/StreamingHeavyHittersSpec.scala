package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{MicroBatches, StreamingHeavyHitters}

/** T15 streaming heavy hitters: cross-batch accumulation a per-batch
  * top-k cannot provide, hand-computed merge arithmetic, and replay
  * fixed point.
  */
class StreamingHeavyHittersSpec extends SparkSpec {
  import sqlImplicits._

  // Each batch: 16 junk tokens unique to the batch (count 6 each) +
  // the cross-batch token "hv" (count 20). Per-batch MG (k=16) over
  // the 17 tokens subtracts the rank-17 value 6: junk collapses to 0,
  // hv survives at 14. Sequential merges: 14, 28, 42.
  private def batchDocs(b: Int) = {
    val junk = (0 until 16).flatMap(j =>
      (1 to 6).map(i => (b * 1000L + j * 10 + i, s"junk${b}x$j")))
    val hv = (1 to 20).map(i => (b * 1000L + 900 + i, "hv"))
    junk ++ hv
  }

  private def storeRows(dir: String) =
    StreamingHeavyHitters.summary(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)))

  test("summary() on a nonexistent or empty store returns an empty " +
    "(token, c) frame instead of throwing") {
    val missing = Files.createTempDirectory("graft-hh-missing")
      .resolve("never-written").toString
    val emptyDir = Files.createTempDirectory("graft-hh-empty").toString
    Seq(missing, emptyDir).foreach { d =>
      val df = StreamingHeavyHitters.summary(spark, d)
      assert(df.columns.toSeq === Seq("token", "c"))
      assert(df.count() === 0L)
    }
  }

  test("cross-batch heavy token accumulates while per-batch junk " +
    "never reaches the store; hand-computed counters") {
    val dir = Files.createTempDirectory("graft-hh-store").toString
    val ckpt = Files.createTempDirectory("graft-hh-ckpt").toString
    val ms = MemoryStream[(Long, String)](spark)
    val q = MicroBatches.start(ms.toDF().toDF("doc_id", "text"), ckpt)(
      StreamingHeavyHitters.processBatch(_, dir, _))
    try {
      (0 until 3).foreach { b =>
        ms.addData(batchDocs(b): _*); q.processAllAvailable()
      }
    } finally q.stop()
    assert(storeRows(dir).toSeq === Seq(("hv", 42L)))
  }

  test("replayed batch re-reads its predecessor and rewrites an " +
    "identical partition (fixed point)") {
    val dir = Files.createTempDirectory("graft-hh-replay").toString
    (0 until 3).foreach { b =>
      StreamingHeavyHitters.processBatch(
        batchDocs(b).toDF("doc_id", "text"), dir, b.toLong)
    }
    val once = storeRows(dir).toSeq
    // the partition the replay will rewrite — read DIRECTLY (summary()
    // only reads the latest partition, batch 2, which a replay of
    // batch 1 never touches)
    def batch1Rows() = spark.read.parquet(s"$dir/batch_id=1")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val b1Once = batch1Rows()
    // replay the middle batch: reads batch 0's state, rewrites batch 1
    StreamingHeavyHitters.processBatch(
      batchDocs(1).toDF("doc_id", "text"), dir, 1L)
    assert(batch1Rows() === b1Once)
    assert(b1Once === Seq(("hv", 28L)))
    assert(storeRows(dir).toSeq === once)
    assert(once === Seq(("hv", 42L)))
  }

  test("MG guarantee against the WHOLE stream: err <= N/(k+1) and " +
    "every above-bound token survives") {
    val dir = Files.createTempDirectory("graft-hh-bound").toString
    val batches = (0 until 3).map(batchDocs)
    batches.zipWithIndex.foreach { case (rows, b) =>
      StreamingHeavyHitters.processBatch(
        rows.toDF("doc_id", "text"), dir, b.toLong)
    }
    val nTotal = batches.map(_.size).sum.toLong // 1 token per doc
    val bound = nTotal / (graft.operators.SketchQueries.MgK + 1)
    val store = storeRows(dir).toMap
    // hv's true count 60 > bound => MUST survive, with err <= bound
    assert(store.contains("hv") && 60L - store("hv") <= bound)
  }
}
