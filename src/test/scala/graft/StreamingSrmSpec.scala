package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.RelationalQueries
import graft.streaming.{MicroBatches, StreamingSrm}

/** T28 streaming SRM: store ≡ batch q_srm bit-for-bit after N
  * micro-batches (UNCONDITIONALLY — the check is a pure function of
  * the accumulated distinct exposure relation), including a user seen
  * in MULTIPLE batches (must count once, like batch distinct());
  * replay fixed point; empty-store guard — the T22/T25/T26 protocol
  * with set-union state.
  */
class StreamingSrmSpec extends SparkSpec {
  import sqlImplicits._

  // three batches, two event types; user 2 of type t appears in
  // batches 0 AND 1 (the cross-batch dedup case); arms are user
  // parity. Type "skew" is all-even-users → a real SRM alarm.
  private def batchRows(b: Int): Seq[(Long, String)] = b match {
    case 0 => Seq((2L, "t"), (3L, "t"), (4L, "skew"))
    case 1 => Seq((2L, "t"), (5L, "t"), (6L, "skew"), (8L, "skew"))
    case _ => Seq((7L, "t"), (10L, "skew"), (12L, "skew"),
      (14L, "skew"), (16L, "skew"), (18L, "skew"), (20L, "skew"),
      (22L, "skew"), (24L, "skew"))
  }

  private def toEv(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("user_id", "event_type")

  private def allEvents = toEv((0 until 3).flatMap(batchRows))

  private def rowsOf(df: DataFrame) = df.collect()
    .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      Option(r.getAs[java.lang.Long]("chi2_micro")).map(_.toLong),
      r.getAs[Boolean]("srm_alarm"))).toSeq

  test("srm() on a store with no batches returns an empty typed frame") {
    val dir = Files.createTempDirectory("graft-srm-missing").toString
    val df = StreamingSrm.srm(spark, dir)
    assert(df.columns.toSeq ===
      Seq("event_type", "n_a", "n_b", "chi2_micro", "srm_alarm"))
    assert(df.count() === 0L)
  }

  test("after N micro-batches the stored readout equals batch q_srm " +
    "over the concatenated stream BIT-FOR-BIT; cross-batch repeat " +
    "user counts once; the skewed arm alarms") {
    val dir = Files.createTempDirectory("graft-srm-store").toString
    (0 until 3).foreach { b =>
      StreamingSrm.processBatch(toEv(batchRows(b)), dir, b.toLong)
    }
    val streamed = rowsOf(StreamingSrm.srm(spark, dir))
    val batch = rowsOf(RelationalQueries.srmCensus(allEvents))
    assert(streamed === batch)
    assert(batch.nonEmpty)
    // user 2 straddles batches 0 and 1 → type t reads 4 distinct
    // users (2,3,5,7): n_a=1 (even: 2... wait arm 0 = even) — pinned
    // explicitly: evens {2}, odds {3,5,7}
    val t = streamed.find(_._1 == "t").get
    assert((t._2, t._3) === (1L, 3L))
    // all-even "skew" arm: n_a=11, n_b=0, chi2 = 11·10⁶ ≥ the
    // 10.83·10⁶ (α=0.001) bar → alarm
    val s = streamed.find(_._1 == "skew").get
    assert((s._2, s._3, s._5) === (11L, 0L, true))
  }

  test("batch-boundary invariance: ONE batch holding the whole " +
    "stream yields the same readout as three") {
    val d1 = Files.createTempDirectory("graft-srm-one").toString
    StreamingSrm.processBatch(allEvents, d1, 0L)
    val d3 = Files.createTempDirectory("graft-srm-three").toString
    (0 until 3).foreach { b =>
      StreamingSrm.processBatch(toEv(batchRows(b)), d3, b.toLong)
    }
    assert(rowsOf(StreamingSrm.srm(spark, d1)) ===
      rowsOf(StreamingSrm.srm(spark, d3)))
  }

  test("streamed via foreachBatch: same identity; replayed batch " +
    "rewrites an identical partition (fixed point)") {
    val dir = Files.createTempDirectory("graft-srm-st").toString
    val ckpt = Files.createTempDirectory("graft-srm-ck").toString
    val ms = MemoryStream[(Long, String)](spark)
    val stream = ms.toDF().toDF("user_id", "event_type")
    val q = MicroBatches.start(stream, ckpt)(
      StreamingSrm.processBatch(_, dir, _))
    try {
      (0 until 3).foreach { b =>
        ms.addData(batchRows(b): _*); q.processAllAvailable()
      }
    } finally q.stop()
    val once = rowsOf(StreamingSrm.srm(spark, dir))
    def batch1Rows() = spark.read.parquet(s"$dir/batch_id=1")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val b1Once = batch1Rows()
    StreamingSrm.processBatch(toEv(batchRows(1)), dir, 1L)
    assert(batch1Rows() === b1Once)
    assert(rowsOf(StreamingSrm.srm(spark, dir)) === once)
    assert(once === rowsOf(RelationalQueries.srmCensus(allEvents)))
  }
}
