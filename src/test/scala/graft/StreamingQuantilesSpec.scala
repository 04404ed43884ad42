package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.SketchQueries
import graft.sources.QuantileStore
import graft.streaming.{MicroBatches, StreamingQuantiles}

/** T13 streaming mergeable quantile sketch: after N micro-batches the
  * persisted bottom-k store is BIT-IDENTICAL to the direct X64 sketch
  * over the concatenated stream (the semilattice merge property), the
  * serving estimates match the batch estimator, capacity is enforced,
  * and a replayed batch is a fixed point.
  */
class StreamingQuantilesSpec extends SparkSpec {
  import sqlImplicits._

  // type "a" exceeds capacity (450 > k = 256) so the merge genuinely
  // cuts; type "b" stays under (sample = population, the exact branch)
  private def row(id: Long, t: String) =
    (id, t, ((id * 37) % 1000) / 10.0)
  private val aRows = (1L to 450L).map(row(_, "a"))
  private val bRows = (1001L to 1010L).map(row(_, "b"))
  private val all = aRows ++ bRows

  private def batches = Seq(
    aRows.slice(0, 150) ++ bRows.slice(0, 3),
    aRows.slice(150, 300) ++ bRows.slice(3, 7),
    aRows.slice(300, 450) ++ bRows.slice(7, 10))

  private def sampleSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[String]("event_type"),
      r.getAs[Long]("cents"), r.getAs[Long]("h"),
      r.getAs[Long]("event_id"))).toSet

  test("store equals the direct sketch after 3 micro-batches; " +
    "estimates match; capacity enforced") {
    val table = "qs_stream_test"
    val ckpt = Files.createTempDirectory("graft-qs-ckpt").toString
    try {
      val ms = MemoryStream[(Long, String, Double)](spark)
      val q = MicroBatches.start(
          ms.toDF().toDF("event_id", "event_type", "value"), ckpt)(
        (batch, _) => StreamingQuantiles.processBatch(batch, table))
      try {
        batches.foreach { b =>
          ms.addData(b: _*); q.processAllAvailable()
        }
      } finally q.stop()
      val direct = SketchQueries.qsSample(
        all.toDF("event_id", "event_type", "value"))
      assert(sampleSet(QuantileStore.load(spark, table)) ===
        sampleSet(direct))
      // capacity: the over-k group holds exactly k, the small one all
      val sizes = QuantileStore.load(spark, table)
        .groupBy("event_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(sizes === Map("a" -> SketchQueries.QsK.toLong, "b" -> 10L))
      // serving estimates == the batch estimator over the direct sample
      val got = QuantileStore.estimates(spark, table)
        .orderBy("event_type").collect().map(_.toSeq)
      val want = SketchQueries.qsEstimates(direct)
        .orderBy("event_type").collect().map(_.toSeq)
      assert(got.toSeq === want.toSeq)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("replayed batch is a fixed point of the merge") {
    val table = "qs_stream_replay_test"
    try {
      batches.foreach { b =>
        StreamingQuantiles.processBatch(
          b.toDF("event_id", "event_type", "value"), table)
      }
      val once = sampleSet(QuantileStore.load(spark, table))
      StreamingQuantiles.processBatch(
        batches(1).toDF("event_id", "event_type", "value"), table)
      assert(sampleSet(QuantileStore.load(spark, table)) === once)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
