package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{MicroBatches, StreamingCms}

/** T17 streaming count-min sketch: store ≡ batch sketch bit-for-bit
  * after N micro-batches, replay fixed point, empty-store guard, and
  * estimate-vs-truth bounds — the T13/T15 protocol.
  */
class StreamingCmsSpec extends SparkSpec {
  import sqlImplicits._

  // three batches of user_id rows with cross-batch repeats
  private def batchRows(b: Int): Seq[Long] =
    (0 until 40).map(i => (b * 7 + i) % 25L) ++ Seq.fill(10)(3L)

  private def sketchRows(dir: String) =
    StreamingCms.sketch(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq

  test("sketch() on a nonexistent or empty store returns an empty " +
    "(j, bucket, c) frame instead of throwing") {
    val missing = Files.createTempDirectory("graft-cms-missing")
      .resolve("never-written").toString
    val df = StreamingCms.sketch(spark, missing)
    assert(df.columns.toSeq === Seq("j", "bucket", "c"))
    assert(df.count() === 0L)
  }

  test("after N micro-batches the store equals the batch sketch over " +
    "the concatenated stream BIT-FOR-BIT (mergeable-summary identity)") {
    val dir = Files.createTempDirectory("graft-cms-store").toString
    val batches = (0 until 3).map(batchRows)
    batches.zipWithIndex.foreach { case (rows, b) =>
      StreamingCms.processBatch(rows.toDF("user_id"), dir,
        b.toLong)
    }
    val batchSketch = StreamingCms
      .counters(batches.flatten.toDF("user_id"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(sketchRows(dir) === batchSketch)
    assert(batchSketch.nonEmpty)
  }

  test("streamed via foreachBatch: same identity; replayed batch " +
    "rewrites an identical partition (fixed point)") {
    val dir = Files.createTempDirectory("graft-cms-st").toString
    val ckpt = Files.createTempDirectory("graft-cms-ck").toString
    val ms = MemoryStream[Long](spark)
    val q = MicroBatches.start(ms.toDF().toDF("user_id"), ckpt)(
      StreamingCms.processBatch(_, dir, _))
    try {
      (0 until 3).foreach { b =>
        ms.addData(batchRows(b): _*); q.processAllAvailable()
      }
    } finally q.stop()
    val once = sketchRows(dir)
    // the partition the replay rewrites, read DIRECTLY (sketch() only
    // reads the latest partition, which a replay of batch 1 never
    // touches)
    def batch1Rows() = spark.read.parquet(s"$dir/batch_id=1")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val b1Once = batch1Rows()
    StreamingCms.processBatch(
      batchRows(1).toDF("user_id"), dir, 1L)
    assert(batch1Rows() === b1Once)
    assert(sketchRows(dir) === once)
    // and the final state matches the batch-concatenation sketch
    val batchSketch = StreamingCms
      .counters((0 until 3).flatMap(batchRows).toDF("user_id"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(once === batchSketch)
  }

  test("estimate() upper-bounds true counts and is exact for keys " +
    "with collision-free rows") {
    val dir = Files.createTempDirectory("graft-cms-est").toString
    val batches = (0 until 3).map(batchRows)
    batches.zipWithIndex.foreach { case (rows, b) =>
      StreamingCms.processBatch(rows.toDF("user_id"), dir,
        b.toLong)
    }
    val truth = batches.flatten.groupBy(identity)
      .map { case (k, v) => (k, v.size.toLong) }
    val est = StreamingCms.estimate(spark, dir,
        truth.keys.toSeq.toDF("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    truth.foreach { case (k, n) =>
      assert(est(k) >= n, s"user $k: est ${est(k)} < true $n")
    }
    // CMS guarantee at these sizes: err <= N/width in every row, and
    // with 25 keys over width 256 at least one key reads exact
    assert(truth.exists { case (k, n) => est(k) === n })
  }
}
