package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.RelationalQueries
import graft.streaming.{MicroBatches, StreamingMsprt}

/** T26 streaming mSPRT: store ≡ batch q_msprt bit-for-bit after N
  * micro-batches (UNCONDITIONALLY — the always-valid statistic is a
  * pure function of the accumulated daily census), including a day
  * whose events STRADDLE batch boundaries; replay fixed point;
  * empty-store guard — the T22/T25 protocol over daily arm censuses.
  */
class StreamingMsprtSpec extends SparkSpec {
  import sqlImplicits._

  // three batches over two days and two event types; day 2024-01-01
  // of type t straddles batches 0 and 1 (the cell-merge case), arms
  // are user parity, values engineered so type t moves and type n
  // stays null-ish
  private def batchRows(b: Int): Seq[(Long, Long, String, String, Double)] =
    b match {
      case 0 => Seq(
        (1L, 2L, "t", "2024-01-01 10:00:00", 0.00),
        (2L, 1L, "t", "2024-01-01 11:00:00", 10.00),
        (3L, 2L, "n", "2024-01-01 10:30:00", 1.00))
      case 1 => Seq(
        (4L, 2L, "t", "2024-01-01 12:00:00", 2.00),
        (5L, 1L, "t", "2024-01-01 13:00:00", 10.00),
        (6L, 1L, "n", "2024-01-01 11:30:00", 1.00))
      case _ => Seq(
        (7L, 2L, "t", "2024-01-02 10:00:00", 1.00),
        (8L, 1L, "t", "2024-01-02 11:00:00", 10.00),
        (9L, 2L, "n", "2024-01-02 10:30:00", 3.00),
        (10L, 1L, "n", "2024-01-02 11:30:00", 3.00))
    }

  private def toEv(rows: Seq[(Long, Long, String, String, Double)])
  : DataFrame =
    rows.toDF("event_id", "user_id", "event_type", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")

  private def allEvents = toEv((0 until 3).flatMap(batchRows))

  private def rowsOf(df: DataFrame) = df.collect()
    .map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5),
      Option(r.getAs[java.lang.Long]("llr_micro")).map(_.toLong),
      Option(r.getAs[java.lang.Long]("lp_micro")).map(_.toLong),
      r.getAs[Boolean]("crossed"))).toSeq

  test("msprt() on a store with no batches returns an empty typed " +
    "frame") {
    val dir = Files.createTempDirectory("graft-msprt-missing").toString
    val df = StreamingMsprt.msprt(spark, dir)
    assert(df.columns.toSeq === Seq("event_type", "day", "cn_a",
      "cn_b", "csum_a", "csum_b", "llr_micro", "lp_day_micro",
      "lp_micro", "crossed"))
    assert(df.count() === 0L)
  }

  test("after N micro-batches the stored census readout equals batch " +
    "q_msprt over the concatenated stream BIT-FOR-BIT, straddled day " +
    "included") {
    val dir = Files.createTempDirectory("graft-msprt-store").toString
    (0 until 3).foreach { b =>
      StreamingMsprt.processBatch(toEv(batchRows(b)), dir,
        b.toLong)
    }
    val streamed = rowsOf(StreamingMsprt.msprt(spark, dir))
    val batch = rowsOf(RelationalQueries.msprtCensus(allEvents))
    assert(streamed === batch)
    assert(batch.nonEmpty)
    // the straddled (t, 2024-01-01) cell merged exactly: 2 events per
    // arm across two batches
    val d1 = streamed.find(r => r._1 == "t" && r._2 == "2024-01-01").get
    assert((d1._3, d1._4) === (2L, 2L))
  }

  test("batch-boundary invariance: ONE batch holding the whole " +
    "stream yields the same readout as three") {
    val d1 = Files.createTempDirectory("graft-msprt-one").toString
    StreamingMsprt.processBatch(allEvents, d1, 0L)
    val d3 = Files.createTempDirectory("graft-msprt-three").toString
    (0 until 3).foreach { b =>
      StreamingMsprt.processBatch(toEv(batchRows(b)), d3,
        b.toLong)
    }
    assert(rowsOf(StreamingMsprt.msprt(spark, d1)) ===
      rowsOf(StreamingMsprt.msprt(spark, d3)))
  }

  test("streamed via foreachBatch: same identity; replayed batch " +
    "rewrites an identical partition (fixed point)") {
    val dir = Files.createTempDirectory("graft-msprt-st").toString
    val ckpt = Files.createTempDirectory("graft-msprt-ck").toString
    val ms = MemoryStream[(Long, Long, String, String, Double)](spark)
    val stream = ms.toDF()
      .toDF("event_id", "user_id", "event_type", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val q = MicroBatches.start(stream, ckpt)(
      StreamingMsprt.processBatch(_, dir, _))
    try {
      (0 until 3).foreach { b =>
        ms.addData(batchRows(b): _*); q.processAllAvailable()
      }
    } finally q.stop()
    val once = rowsOf(StreamingMsprt.msprt(spark, dir))
    def batch1Rows() = spark.read.parquet(s"$dir/batch_id=1")
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7))).sorted.toSeq
    val b1Once = batch1Rows()
    StreamingMsprt.processBatch(toEv(batchRows(1)), dir, 1L)
    assert(batch1Rows() === b1Once)
    assert(rowsOf(StreamingMsprt.msprt(spark, dir)) === once)
    // and the final state matches the batch query
    assert(once === rowsOf(RelationalQueries.msprtCensus(allEvents)))
  }
}
