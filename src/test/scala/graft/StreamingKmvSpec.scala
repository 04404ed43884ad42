package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.SketchQueries
import graft.streaming.{MicroBatches, StreamingKmv}

/** T19 streaming KMV: store ≡ batch bottom-k bit-for-bit after N
  * micro-batches (union + re-take is an exact semilattice), serving
  * estimates ≡ the batch census branch for branch, replay fixed
  * point, empty-store guard.
  */
class StreamingKmvSpec extends SparkSpec {
  import sqlImplicits._

  // (doc_id, text, source): source "big" accumulates hundreds of
  // distinct 5-grams (estimator branch), "tiny" stays under k (exact
  // branch); cross-batch shingle overlap via the modulo
  private def batchRows(b: Int): Seq[(Long, String, String)] = {
    val big = (0 until 12).map { i =>
      val words = (0 until 24).map(j => s"w${(b * 31 + i * 7 + j) % 400}")
      ((b * 20 + i).toLong, words.mkString(" "), "big")
    }
    val tiny = Seq(((b * 20 + 19).toLong, "tiny corpus fixed text here",
      "tiny"))
    big ++ tiny
  }

  private def stateRows(dir: String) =
    StreamingKmv.state(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq

  test("state() on a nonexistent store returns an empty (source, h) " +
    "frame instead of throwing") {
    val missing = Files.createTempDirectory("graft-kmv-missing")
      .resolve("never-written").toString
    val df = StreamingKmv.state(spark, missing)
    assert(df.columns.toSeq === Seq("source", "h"))
    assert(df.count() === 0L)
  }

  test("after N micro-batches the store equals the batch bottom-k " +
    "over the concatenated stream BIT-FOR-BIT; estimates match the " +
    "batch census branch for branch") {
    val dir = Files.createTempDirectory("graft-kmv-store").toString
    val batches = (0 until 3).map(batchRows)
    batches.zipWithIndex.foreach { case (rows, b) =>
      StreamingKmv.processBatch(
        rows.toDF("doc_id", "text", "source"), dir, b.toLong)
    }
    val all = batches.flatten.toDF("doc_id", "text", "source")
    val batchState = SketchQueries.kmvBottomK(SketchQueries.kmvHashes(all))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(stateRows(dir) === batchState)
    // "big" saturates k, "tiny" stays exact
    val bySource = batchState.groupBy(_._1)
    assert(bySource("big").size === SketchQueries.KmvK)
    assert(bySource("tiny").size < SketchQueries.KmvK)
    // serving estimates == the batch census's (source, est) columns
    val est = StreamingKmv.estimates(spark, dir).collect()
      .map(r => (r.getString(0), r.getAs[Long]("est"))).toMap
    val censusEst = SketchQueries.kmvCensus(all).collect()
      .map(r => (r.getString(0), r.getAs[Long]("est"))).toMap
    assert(est === censusEst)
    // exact branch really is exact: tiny's estimate = its distinct
    // shingle count
    val tinyExact = SketchQueries.kmvHashes(all)
      .filter($"source" === "tiny").count()
    assert(est("tiny") === tinyExact)
  }

  test("streamed via foreachBatch: same identity; replayed batch " +
    "rewrites an identical partition (fixed point)") {
    val dir = Files.createTempDirectory("graft-kmv-st").toString
    val ckpt = Files.createTempDirectory("graft-kmv-ck").toString
    val ms = MemoryStream[(Long, String, String)](spark)
    val q = MicroBatches.start(
        ms.toDF().toDF("doc_id", "text", "source"), ckpt)(
      StreamingKmv.processBatch(_, dir, _))
    try {
      (0 until 3).foreach { b =>
        ms.addData(batchRows(b): _*); q.processAllAvailable()
      }
    } finally q.stop()
    val once = stateRows(dir)
    def batch1Rows() = spark.read.parquet(s"$dir/batch_id=1")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val b1Once = batch1Rows()
    StreamingKmv.processBatch(
      batchRows(1).toDF("doc_id", "text", "source"), dir, 1L)
    assert(batch1Rows() === b1Once)
    assert(stateRows(dir) === once)
  }
}
