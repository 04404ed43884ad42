package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.RelationalQueries
import graft.streaming.{MicroBatches, StreamingFunnel}

/** T29 streaming funnel: store ≡ batch q_funnel AND q_funnel_latency
  * bit-for-bit after N micro-batches, INCLUDING cross-batch
  * reordering (a click arriving before its view — the case running
  * per-(user, step) min state would get wrong); replay fixed point;
  * empty-store guard — the T28 set-union protocol over the
  * funnel-step event relation.
  */
class StreamingFunnelSpec extends SparkSpec {
  import sqlImplicits._

  // user 1 converts normally inside batch 0; user 2's CLICK arrives in
  // batch 0 but its VIEW only in batch 1 (and earlier than the click —
  // the reordering heal); user 3 views twice (duplicate-ish) and
  // clicks outside the 24 h window (must NOT count); user 2's purchase
  // lands in batch 2. A non-funnel event type rides along (filtered).
  private def batchRows(b: Int): Seq[(Long, String, String)] = b match {
    case 0 => Seq(
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "click", "2024-01-01 11:00:00"),
      (2L, "click", "2024-01-01 12:00:00"),
      (3L, "view", "2024-01-01 08:00:00"),
      (9L, "refund", "2024-01-01 09:00:00"))
    case 1 => Seq(
      (2L, "view", "2024-01-01 09:30:00"),
      (3L, "view", "2024-01-01 08:00:00"),
      (3L, "click", "2024-01-02 09:00:00"))
    case _ => Seq(
      (2L, "purchase", "2024-01-01 13:00:00"),
      (1L, "view", "2024-01-01 10:30:00"))
  }

  private def toEv(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("user_id", "event_type", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")

  private def allEvents = toEv((0 until 3).flatMap(batchRows))

  private def funnelRows(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq

  private def latRows(df: DataFrame) = df.collect().map(_.toSeq).toSeq

  test("funnel()/funnelLatency() on a store with no batches serve " +
    "the zero census (no NPE, typed columns)") {
    val dir = Files.createTempDirectory("graft-funnel-missing").toString
    val f = StreamingFunnel.funnel(spark, dir)
    assert(f.columns.toSeq === Seq("step", "event_type", "n_users",
      "conv_prev_micro", "conv_first_micro"))
    // the batch kernel's shape on an empty relation: three steps with
    // zero users each — identical to q_funnel over zero events
    assert(funnelRows(f).map(r => (r._1, r._3)) ===
      Seq((1L, 0L), (2L, 0L), (3L, 0L)))
    assert(StreamingFunnel.funnelLatency(spark, dir).count() ===
      RelationalQueries.funnelLatency(
        toEv(Seq.empty).select("user_id", "event_type", "ts")).count())
  }

  test("after N micro-batches both readouts equal batch over the " +
    "concatenated stream BIT-FOR-BIT; cross-batch reordering heals; " +
    "out-of-window click excluded") {
    val dir = Files.createTempDirectory("graft-funnel-store").toString
    (0 until 3).foreach { b =>
      StreamingFunnel.processBatch(toEv(batchRows(b)), dir,
        b.toLong)
    }
    val ev = allEvents.select("user_id", "event_type", "ts")
    val streamed = funnelRows(StreamingFunnel.funnel(spark, dir))
    val batch = funnelRows(RelationalQueries.funnelCensus(ev))
    assert(streamed === batch)
    // users 1, 2, 3 viewed; users 1, 2 clicked in window (user 2 ONLY
    // because batch 1 back-filled the earlier view); user 2 purchased
    assert(streamed.map(r => (r._1, r._3)) ===
      Seq((1L, 3L), (2L, 2L), (3L, 1L)))
    assert(latRows(StreamingFunnel.funnelLatency(spark, dir)) ===
      latRows(RelationalQueries.funnelLatency(ev)))
  }

  test("batch-boundary invariance + duplicate absorption: one batch " +
    "== three; re-fed duplicate rows change nothing") {
    val d1 = Files.createTempDirectory("graft-funnel-one").toString
    StreamingFunnel.processBatch(allEvents, d1, 0L)
    val d3 = Files.createTempDirectory("graft-funnel-three").toString
    (0 until 3).foreach { b =>
      StreamingFunnel.processBatch(toEv(batchRows(b)), d3,
        b.toLong)
    }
    assert(funnelRows(StreamingFunnel.funnel(spark, d1)) ===
      funnelRows(StreamingFunnel.funnel(spark, d3)))
    StreamingFunnel.processBatch(allEvents, d3, 3L)
    assert(funnelRows(StreamingFunnel.funnel(spark, d1)) ===
      funnelRows(StreamingFunnel.funnel(spark, d3)))
  }

  test("streamed via foreachBatch: same identity; replayed batch " +
    "rewrites an identical partition (fixed point)") {
    val dir = Files.createTempDirectory("graft-funnel-st").toString
    val ckpt = Files.createTempDirectory("graft-funnel-ck").toString
    val ms = MemoryStream[(Long, String, String)](spark)
    val stream = ms.toDF().toDF("user_id", "event_type", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val q = MicroBatches.start(stream, ckpt)(
      StreamingFunnel.processBatch(_, dir, _))
    try {
      (0 until 3).foreach { b =>
        ms.addData(batchRows(b): _*); q.processAllAvailable()
      }
    } finally q.stop()
    val once = funnelRows(StreamingFunnel.funnel(spark, dir))
    def batch1Rows() = spark.read.parquet(s"$dir/batch_id=1")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2).toString)).sorted.toSeq
    val b1Once = batch1Rows()
    StreamingFunnel.processBatch(toEv(batchRows(1)), dir, 1L)
    assert(batch1Rows() === b1Once)
    assert(funnelRows(StreamingFunnel.funnel(spark, dir)) === once)
    assert(once === funnelRows(RelationalQueries.funnelCensus(
      allEvents.select("user_id", "event_type", "ts"))))
  }
}
