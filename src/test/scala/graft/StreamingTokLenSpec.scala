package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.TextOps
import graft.streaming.{MicroBatches, StreamingTokLen}

/** T24 streaming token-length census: census ≡ batch tokenLenCensus
  * bit-for-bit over the concatenated stream, replay fixed point,
  * empty-store guard — the T17/T23 protocol.
  */
class StreamingTokLenSpec extends SparkSpec {
  import sqlImplicits._

  // three batches with cross-batch length overlap and a late junk
  // token that moves the tail statistics only once it arrives
  private def batchRows(b: Int): Seq[(Long, String, String)] = Seq(
    (b * 10L + 1L, "a bb ccc", "s0"),
    (b * 10L + 2L,
      if (b == 2) "aaaaaaaaaaaaaaaaaa x" else "dd eee", "s1"))

  private def censusRows(dir: String) =
    StreamingTokLen.census(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq

  private def batchCensus(rows: Seq[(Long, String, String)]) =
    TextOps.tokenLenCensus(rows.toDF("doc_id", "text", "source"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq

  test("census() on a nonexistent store returns the empty census " +
    "shape instead of throwing") {
    val missing = Files.createTempDirectory("graft-tl-missing")
      .resolve("never-written").toString
    val df = StreamingTokLen.census(spark, missing)
    assert(df.columns.toSeq === Seq("source", "n_tokens",
      "mean_len_micro", "p95_len", "max_len", "long_ppm"))
    assert(df.count() === 0L)
  }

  test("after N micro-batches the census equals the batch census " +
    "over the concatenated stream BIT-FOR-BIT") {
    val dir = Files.createTempDirectory("graft-tl-store").toString
    val batches = (0 until 3).map(batchRows)
    batches.zipWithIndex.foreach { case (rows, b) =>
      StreamingTokLen.processBatch(
        rows.toDF("doc_id", "text", "source"), dir, b.toLong)
    }
    val streamed = censusRows(dir)
    val batch = batchCensus(batches.flatten)
    assert(streamed === batch)
    // the batch-2 junk token is visible in the merged tail stats
    assert(batch.find(_._1 == "s1").exists(r => r._5 == 18L && r._6 > 0L))
  }

  test("streamed via foreachBatch: same identity; replayed batch " +
    "rewrites an identical partition (fixed point)") {
    val dir = Files.createTempDirectory("graft-tl-st").toString
    val ckpt = Files.createTempDirectory("graft-tl-ck").toString
    val ms = MemoryStream[(Long, String, String)](spark)
    val q = MicroBatches.start(
        ms.toDF().toDF("doc_id", "text", "source"), ckpt)(
      StreamingTokLen.processBatch(_, dir, _))
    try {
      (0 until 3).foreach { b =>
        ms.addData(batchRows(b): _*); q.processAllAvailable()
      }
    } finally q.stop()
    val once = censusRows(dir)
    assert(once === batchCensus((0 until 3).flatMap(batchRows)))
    def batch1Rows() = spark.read.parquet(s"$dir/batch_id=1")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(r => (r._1, r._2)).toSeq
    val b1Once = batch1Rows()
    StreamingTokLen.processBatch(
      batchRows(1).toDF("doc_id", "text", "source"), dir, 1L)
    assert(batch1Rows() === b1Once)
    assert(censusRows(dir) === once)
  }
}
