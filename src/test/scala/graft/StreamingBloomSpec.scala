package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.SketchQueries
import graft.streaming.{MicroBatches, StreamingBloom}

/** T18 streaming Bloom filter: store ≡ batch filter bit-for-bit after
  * N micro-batches, replay fixed point, empty-store guard, and the
  * one-sided error contract (no false negatives) — the T13/T17
  * protocol.
  */
class StreamingBloomSpec extends SparkSpec {
  import sqlImplicits._

  // three batches of (doc_id, text) with cross-batch repeats
  private def batchRows(b: Int): Seq[(Long, String)] =
    (0 until 20).map(i => ((b * 20 + i).toLong,
      s"document number ${(b * 7 + i) % 30} body"))

  private def wordRows(dir: String) =
    StreamingBloom.words(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("words() on a nonexistent store returns an empty (w, word) " +
    "frame instead of throwing") {
    val missing = Files.createTempDirectory("graft-bloom-missing")
      .resolve("never-written").toString
    val df = StreamingBloom.words(spark, missing)
    assert(df.columns.toSeq === Seq("w", "word"))
    assert(df.count() === 0L)
  }

  test("after N micro-batches the store equals the batch filter over " +
    "the concatenated stream BIT-FOR-BIT (OR-semilattice identity)") {
    val dir = Files.createTempDirectory("graft-bloom-store").toString
    val batches = (0 until 3).map(batchRows)
    batches.zipWithIndex.foreach { case (rows, b) =>
      StreamingBloom.processBatch(
        rows.toDF("doc_id", "text"), dir, b.toLong)
    }
    val batchWords = SketchQueries.bloomWordsOf(
        StreamingBloom.keyed(batches.flatten.toDF("doc_id", "text"))
          .select("key"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(wordRows(dir) === batchWords)
    assert(batchWords.nonEmpty)
  }

  test("streamed via foreachBatch: same identity; replayed batch " +
    "rewrites an identical partition (fixed point)") {
    val dir = Files.createTempDirectory("graft-bloom-st").toString
    val ckpt = Files.createTempDirectory("graft-bloom-ck").toString
    val ms = MemoryStream[(Long, String)](spark)
    val q = MicroBatches.start(ms.toDF().toDF("doc_id", "text"), ckpt)(
      StreamingBloom.processBatch(_, dir, _))
    try {
      (0 until 3).foreach { b =>
        ms.addData(batchRows(b): _*); q.processAllAvailable()
      }
    } finally q.stop()
    val once = wordRows(dir)
    def batch1Rows() = spark.read.parquet(s"$dir/batch_id=1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b1Once = batch1Rows()
    StreamingBloom.processBatch(
      batchRows(1).toDF("doc_id", "text"), dir, 1L)
    assert(batch1Rows() === b1Once)
    assert(wordRows(dir) === once)
  }

  test("claims(): every streamed document claims present (no false " +
    "negatives — the Bloom one-sided error contract)") {
    val dir = Files.createTempDirectory("graft-bloom-cl").toString
    val batches = (0 until 3).map(batchRows)
    batches.zipWithIndex.foreach { case (rows, b) =>
      StreamingBloom.processBatch(
        rows.toDF("doc_id", "text"), dir, b.toLong)
    }
    val seen = batches.flatten.toDF("doc_id", "text")
    val claims = StreamingBloom.claims(spark, dir, seen).collect()
    assert(claims.nonEmpty)
    assert(claims.forall(_.getAs[Long]("claimed") === 1L))
  }
}
