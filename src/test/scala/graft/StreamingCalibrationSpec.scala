package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.TextOps
import graft.streaming.{MicroBatches, StreamingCalibration}

/** T27 streaming quality-gate calibration: store ≡ batch
  * q_score_calibration bit-for-bit after N micro-batches
  * (UNCONDITIONALLY — decile edges are a pure function of the
  * accumulated census), replay fixed point, empty-store guard — the
  * T25 protocol over score censuses.
  */
class StreamingCalibrationSpec extends SparkSpec {
  import sqlImplicits._

  private val (minTok, maxTok, ttrMin, topMax, minStops) =
    (5L, 1000L, 300000L, 500000L, 1L)

  // three batches mixing junk (short, repetitive) and prose (long,
  // distinct, stopword-bearing) docs so scores spread, buckets move
  // as batches land, and both pass verdicts occur in every batch
  private def batchRows(b: Int): Seq[(Long, String, String)] =
    (0 until 8).map { i =>
      val id = (b * 100 + i).toLong
      val text =
        if (i % 2 == 0) ("a " * (3 + (i + b) % 4)).trim
        else ("the" +: (0 until (6 + i + b))
          .map(j => s"w${b}x$i$j")).mkString(" ")
      (id, text, s"src${i % 2}")
    }

  private def allDocs =
    (0 until 3).flatMap(batchRows).toDF("doc_id", "text", "source")

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  private def serving(dir: String) =
    rowsOf(StreamingCalibration.calibration(spark, dir))

  private def batchTable =
    rowsOf(TextOps.scoreCalibration(allDocs, minTok, maxTok, ttrMin,
      topMax, minStops))

  test("calibration() on a store with no batches returns an empty " +
    "typed frame") {
    val dir = Files.createTempDirectory("graft-cal-missing").toString
    val df = StreamingCalibration.calibration(spark, dir)
    assert(df.columns.toSeq === Seq("bucket", "score_lo", "score_hi",
      "n_docs", "n_pass", "pass_ppm"))
    assert(df.count() === 0L)
  }

  test("after N micro-batches the stored census calibration equals " +
    "the batch table over the concatenated stream BIT-FOR-BIT") {
    val dir = Files.createTempDirectory("graft-cal-store").toString
    (0 until 3).foreach { b =>
      StreamingCalibration.processBatch(
        batchRows(b).toDF("doc_id", "text", "source"), dir, b.toLong,
        minTok, maxTok, ttrMin, topMax, minStops)
    }
    assert(serving(dir) === batchTable)
    assert(batchTable.nonEmpty)
    // the stored census itself equals the batch census relation
    assert(StreamingCalibration.census(spark, dir).collect()
      .map(_.toSeq).toSet ===
      TextOps.scoreCensus(allDocs, minTok, maxTok, ttrMin, topMax,
        minStops).collect().map(_.toSeq).toSet)
  }

  test("batch-boundary invariance: ONE batch holding the whole " +
    "stream yields the same table as three") {
    val d1 = Files.createTempDirectory("graft-cal-one").toString
    StreamingCalibration.processBatch(allDocs, d1, 0L, minTok,
      maxTok, ttrMin, topMax, minStops)
    val d3 = Files.createTempDirectory("graft-cal-three").toString
    (0 until 3).foreach { b =>
      StreamingCalibration.processBatch(
        batchRows(b).toDF("doc_id", "text", "source"), d3, b.toLong,
        minTok, maxTok, ttrMin, topMax, minStops)
    }
    assert(serving(d1) === serving(d3))
  }

  test("streamed via foreachBatch: same identity; replayed batch " +
    "rewrites an identical partition (fixed point)") {
    val dir = Files.createTempDirectory("graft-cal-st").toString
    val ckpt = Files.createTempDirectory("graft-cal-ck").toString
    val ms = MemoryStream[(Long, String, String)](spark)
    val q = MicroBatches.start(
        ms.toDF().toDF("doc_id", "text", "source"), ckpt)(
      StreamingCalibration.processBatch(_, dir, _, minTok, maxTok, ttrMin,
        topMax, minStops))
    try {
      (0 until 3).foreach { b =>
        ms.addData(batchRows(b): _*); q.processAllAvailable()
      }
    } finally q.stop()
    val once = serving(dir)
    def batch1Rows() = spark.read.parquet(s"$dir/batch_id=1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val b1Once = batch1Rows()
    StreamingCalibration.processBatch(
      batchRows(1).toDF("doc_id", "text", "source"), dir, 1L, minTok,
      maxTok, ttrMin, topMax, minStops)
    assert(batch1Rows() === b1Once)
    assert(serving(dir) === once)
    // and the final state matches the batch query
    assert(once === batchTable)
  }
}
