package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.TextOps
import graft.streaming.{MicroBatches, StreamingSample}

/** T21 streaming weighted reservoir: store ≡ batch weighted sample
  * bit-for-bit after N micro-batches (top-n union is an exact
  * semilattice), replay fixed point on the rewritten partition,
  * empty-store guard.
  */
class StreamingSampleSpec extends SparkSpec {
  import sqlImplicits._

  val N = 5

  // (doc_id, text, source): token counts vary so inclusion is genuinely
  // weight-biased; 8 docs per batch x 3 batches >> n = 5 so the
  // reservoir evicts across batches
  private def batchRows(b: Int): Seq[(Long, String, String)] =
    (0 until 8).map { i =>
      val id = (b * 20 + i).toLong
      val words = (0 to (i * 3 + b) % 11).map(j => s"w$j")
      (id, words.mkString(" "), s"src${i % 3}")
    }

  private def sampleRows(dir: String) =
    StreamingSample.sample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq

  test("sample() on a nonexistent store returns an empty typed frame " +
    "instead of throwing") {
    val missing = Files.createTempDirectory("graft-aes-missing")
      .resolve("never-written").toString
    val df = StreamingSample.sample(spark, missing)
    assert(df.columns.toSeq ===
      Seq("rank", "doc_id", "source", "toks", "key_micro"))
    assert(df.count() === 0L)
  }

  test("after N micro-batches the reservoir equals the batch weighted " +
    "sample over the concatenated stream BIT-FOR-BIT, rank included") {
    val dir = Files.createTempDirectory("graft-aes-store").toString
    val batches = (0 until 3).map(batchRows)
    batches.zipWithIndex.foreach { case (rows, b) =>
      StreamingSample.processBatch(
        rows.toDF("doc_id", "text", "source"), dir, b.toLong, N)
    }
    val all = batches.flatten.toDF("doc_id", "text", "source")
    val batchSample = TextOps.weightedSample(all, N).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(sampleRows(dir) === batchSample)
    assert(batchSample.size === N)
    // the reservoir genuinely evicted: not all survivors are from the
    // last batch
    assert(batchSample.exists(_._2 < 40L))
  }

  test("streamed via foreachBatch: same identity; replayed LATEST batch " +
    "rewrites an identical partition (fixed point); older partitions " +
    "pruned to the predecessor") {
    val dir = Files.createTempDirectory("graft-aes-st").toString
    val ckpt = Files.createTempDirectory("graft-aes-ck").toString
    val ms = MemoryStream[(Long, String, String)](spark)
    val q = MicroBatches.start(
        ms.toDF().toDF("doc_id", "text", "source"), ckpt)(
      StreamingSample.processBatch(_, dir, _, N))
    try {
      (0 until 3).foreach { b =>
        ms.addData(batchRows(b): _*); q.processAllAvailable()
      }
    } finally q.stop()
    val once = sampleRows(dir)
    // prune discipline: only the latest partition and its predecessor
    // survive (store size O(n), not O(total batches))
    def partitions() = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(partitions() === Seq("batch_id=1", "batch_id=2"))
    // the engine's at-least-once contract replays the LATEST
    // uncommitted batch (its predecessor is kept for exactly this);
    // the rewrite must be byte-identical
    def batch2Rows() = spark.read.parquet(s"$dir/batch_id=2")
      .collect().map(r => (r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("toks"), r.getAs[Long]("key_micro")))
      .sorted.toSeq
    val b2Once = batch2Rows()
    StreamingSample.processBatch(
      batchRows(2).toDF("doc_id", "text", "source"), dir, 2L, N)
    assert(batch2Rows() === b2Once)
    assert(sampleRows(dir) === once)
    assert(partitions() === Seq("batch_id=1", "batch_id=2"))
  }

  test("a doc redelivered in a LATER batch (source-level at-least-once) " +
    "occupies one reservoir slot, not two") {
    val dir = Files.createTempDirectory("graft-aes-dup").toString
    val rows = batchRows(0)
    StreamingSample.processBatch(
      rows.toDF("doc_id", "text", "source"), dir, 0L, N)
    // redeliver the SAME rows under a new batch id: reservoir must be
    // unchanged (same docs, same keys, same ranks) — without the
    // cross-batch dedup the duplicates would shadow distinct docs
    StreamingSample.processBatch(
      rows.toDF("doc_id", "text", "source"), dir, 1L, N)
    val after = sampleRows(dir)
    assert(after.map(_._2).distinct.size === after.size)
    assert(after === TextOps.weightedSample(
      rows.toDF("doc_id", "text", "source"), N).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq)
  }
}
