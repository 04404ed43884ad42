package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.SketchQueries
import graft.streaming.{MicroBatches, StreamingHll}

/** T20 streaming HLL: store ≡ batch registers bit-for-bit after N
  * micro-batches (element-wise max semilattice), replay fixed point,
  * empty-store guard, estimate within the m=256 error envelope.
  */
class StreamingHllSpec extends SparkSpec {
  import sqlImplicits._

  // three batches with cross-batch repeats; 500 distinct ids total
  private def batchRows(b: Int): Seq[Long] =
    (0 until 300).map(i => (b * 170 + i * 3) % 500L)

  private def registerRows(dir: String) =
    StreamingHll.registers(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("registers() on a nonexistent store returns an empty " +
    "(bucket, rho) frame instead of throwing") {
    val missing = Files.createTempDirectory("graft-hll-missing")
      .resolve("never-written").toString
    val df = StreamingHll.registers(spark, missing)
    assert(df.columns.toSeq === Seq("bucket", "rho"))
    assert(df.count() === 0L)
    assert(StreamingHll.estimate(spark, missing) === 0.0)
  }

  test("after N micro-batches the store equals the batch registers " +
    "over the concatenated stream BIT-FOR-BIT (max-semilattice " +
    "identity); estimate lands inside the m=256 error envelope") {
    val dir = Files.createTempDirectory("graft-hll-store").toString
    val batches = (0 until 3).map(batchRows)
    batches.zipWithIndex.foreach { case (rows, b) =>
      StreamingHll.processBatch(rows.toDF("user_id"), dir,
        b.toLong)
    }
    val batchRegs = SketchQueries
      .hllRegistersOf(batches.flatten.toDF("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(registerRows(dir) === batchRegs)
    assert(batchRegs.nonEmpty)
    val truth = batches.flatten.distinct.size.toDouble
    val est = StreamingHll.estimate(spark, dir)
    // rsd = 1.04/sqrt(256) = 6.5%; 3 sigma < 20%
    assert(math.abs(est - truth) / truth < 0.2,
      s"est $est vs true $truth")
  }

  test("streamed via foreachBatch: same identity; replayed batch " +
    "rewrites an identical partition (fixed point)") {
    val dir = Files.createTempDirectory("graft-hll-st").toString
    val ckpt = Files.createTempDirectory("graft-hll-ck").toString
    val ms = MemoryStream[Long](spark)
    val q = MicroBatches.start(ms.toDF().toDF("user_id"), ckpt)(
      StreamingHll.processBatch(_, dir, _))
    try {
      (0 until 3).foreach { b =>
        ms.addData(batchRows(b): _*); q.processAllAvailable()
      }
    } finally q.stop()
    val once = registerRows(dir)
    def batch1Rows() = spark.read.parquet(s"$dir/batch_id=1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b1Once = batch1Rows()
    StreamingHll.processBatch(batchRows(1).toDF("user_id"),
      dir, 1L)
    assert(batch1Rows() === b1Once)
    assert(registerRows(dir) === once)
  }
}
