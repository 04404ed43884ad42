package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.TextOps
import graft.streaming.{MicroBatches, StreamingPrefix}

/** T23 streaming duplicate-opener store: census ≡ batch prefixDupCensus
  * bit-for-bit over the concatenated stream, replay fixed point,
  * empty-store guard, and the admission read — the T17/T18 protocol.
  */
class StreamingPrefixSpec extends SparkSpec {
  import sqlImplicits._

  // three batches with a cross-batch template opener (pk shared by
  // docs 1, 11, 21), an in-batch duplicate pair (2/3), and uniques
  private def batchRows(b: Int): Seq[(Long, String, String)] = {
    val opener = "the quick brown fox jumps over lazy dog"
    val base = Seq(
      (b * 10L + 1L, s"$opener tail$b", s"src$b"),
      (b * 10L + 4L, s"unique text number $b with more distinct words" +
        s" here $b", "srcU"))
    if (b == 0) base ++ Seq(
      (2L, "short dup", "srcA"), (3L, "short dup", "srcB"))
    else base
  }

  private def censusRows(dir: String) =
    StreamingPrefix.census(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq

  private def batchCensus(rows: Seq[(Long, String, String)]) =
    TextOps.prefixDupCensus(
        rows.toDF("doc_id", "text", "source"),
        TextOps.PrefixDupTokens)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq

  test("census() on a nonexistent store returns the empty census " +
    "shape instead of throwing") {
    val missing = Files.createTempDirectory("graft-pfx-missing")
      .resolve("never-written").toString
    val df = StreamingPrefix.census(spark, missing)
    assert(df.columns.toSeq ===
      Seq("pk", "n_docs", "n_sources", "exemplar"))
    assert(df.count() === 0L)
  }

  test("after N micro-batches the census equals the batch census " +
    "over the concatenated stream BIT-FOR-BIT") {
    val dir = Files.createTempDirectory("graft-pfx-store").toString
    val batches = (0 until 3).map(batchRows)
    batches.zipWithIndex.foreach { case (rows, b) =>
      StreamingPrefix.processBatch(
        rows.toDF("doc_id", "text", "source"), dir, b.toLong)
    }
    val streamed = censusRows(dir)
    val batch = batchCensus(batches.flatten)
    assert(streamed === batch)
    // the cross-batch opener class really accumulated (3 docs, one
    // per batch, one source each batch)
    assert(batch.exists(r => r._2 == 3L && r._3 == 3L && r._4 == 1L))
    // and the in-batch pair survived (2 docs, 2 sources, exemplar 2)
    assert(batch.exists(r => r._2 == 2L && r._3 == 2L && r._4 == 2L))
  }

  test("streamed via foreachBatch: same identity; replayed batch " +
    "rewrites an identical partition (fixed point); claims() gates " +
    "flooded openers") {
    val dir = Files.createTempDirectory("graft-pfx-st").toString
    val ckpt = Files.createTempDirectory("graft-pfx-ck").toString
    val ms = MemoryStream[(Long, String, String)](spark)
    val q = MicroBatches.start(
        ms.toDF().toDF("doc_id", "text", "source"), ckpt)(
      StreamingPrefix.processBatch(_, dir, _))
    try {
      (0 until 3).foreach { b =>
        ms.addData(batchRows(b): _*); q.processAllAvailable()
      }
    } finally q.stop()
    val once = censusRows(dir)
    assert(once === batchCensus((0 until 3).flatMap(batchRows)))
    // replay of batch 1: reads the same predecessor, rewrites an
    // identical own partition
    def batch1Rows() = spark.read.parquet(s"$dir/batch_id=1")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(r => (r._1, r._2)).toSeq
    val b1Once = batch1Rows()
    StreamingPrefix.processBatch(
      batchRows(1).toDF("doc_id", "text", "source"), dir, 1L)
    assert(batch1Rows() === b1Once)
    assert(censusRows(dir) === once)
    // admission: a fourth copy of the opener reads n_seen = 3 and
    // floods at bar 3; an unseen opener reads 0 and passes
    val probe = Seq(
      (99L, "the quick brown fox jumps over lazy dog again", "srcZ"),
      (98L, "never seen opener words completely fresh here now",
        "srcZ"))
      .toDF("doc_id", "text", "source")
    val claims = StreamingPrefix.claims(spark, dir, probe, 3L)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_seen"), r.getAs[Boolean]("flooded")))
    assert(claims.toSeq === Seq((98L, 0L, false), (99L, 3L, true)))
  }
}
