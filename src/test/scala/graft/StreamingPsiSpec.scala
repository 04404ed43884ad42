package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.TextOps
import graft.streaming.{MicroBatches, StreamingPsi}

/** T22 streaming PSI: store ≡ batch q_psi bit-for-bit after N
  * micro-batches (when the fixed reference edges equal the batch
  * query's own deciles), replay fixed point, empty-store guard — the
  * T17 protocol over bucket censuses.
  */
class StreamingPsiSpec extends SparkSpec {
  import sqlImplicits._

  // three batches of (doc_id, text, source): lengths vary per batch so
  // the accumulated census genuinely moves, sources repeat across
  // batches
  private def batchRows(b: Int): Seq[(Long, String, String)] =
    (0 until 12).map { i =>
      val id = (b * 100 + i).toLong
      val words = (0 to (i * 5 + b * 3) % 17).map(j => s"w$j")
      (id, words.mkString(" "), s"src${i % 3}")
    }

  private def allDocs =
    (0 until 3).flatMap(batchRows).toDF("doc_id", "text", "source")

  private def psiRows(dir: String) =
    StreamingPsi.psi(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  test("psi() on a store with no batches returns an empty typed frame") {
    val dir = Files.createTempDirectory("graft-psi-missing").toString
    StreamingPsi.initReference(spark, dir, allDocs)
    val df = StreamingPsi.psi(spark, dir)
    assert(df.columns.toSeq === Seq("source", "n_docs", "psi_micro"))
    assert(df.count() === 0L)
  }

  test("after N micro-batches the stored census PSI equals the batch " +
    "q_psi over the concatenated stream BIT-FOR-BIT") {
    val dir = Files.createTempDirectory("graft-psi-store").toString
    // fix the reference grid at the concatenated corpus's own deciles
    // so the batch query (which derives edges from its input) picks
    // the identical grid — the strongest equality the two paths share
    StreamingPsi.initReference(spark, dir, allDocs)
    val batches = (0 until 3).map(batchRows)
    batches.zipWithIndex.foreach { case (rows, b) =>
      StreamingPsi.processBatch(
        rows.toDF("doc_id", "text", "source"), dir, b.toLong)
    }
    val batchPsi = TextOps.psiDrift(allDocs).orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(psiRows(dir) === batchPsi)
    assert(batchPsi.nonEmpty)
    // the stored census itself equals the batch middle relation
    val storedCensus = StreamingPsi.buckets(spark, dir).collect()
      .map(_.toSeq).toSet
    val batchCensus = TextOps.sourceBuckets(allDocs,
      TextOps.lengthDecileEdges(allDocs)).collect().map(_.toSeq).toSet
    assert(storedCensus === batchCensus)
  }

  test("streamed via foreachBatch: same identity; replayed batch " +
    "rewrites an identical partition (fixed point)") {
    val dir = Files.createTempDirectory("graft-psi-st").toString
    val ckpt = Files.createTempDirectory("graft-psi-ck").toString
    StreamingPsi.initReference(spark, dir, allDocs)
    val ms = MemoryStream[(Long, String, String)](spark)
    val q = MicroBatches.start(
        ms.toDF().toDF("doc_id", "text", "source"), ckpt)(
      StreamingPsi.processBatch(_, dir, _))
    try {
      (0 until 3).foreach { b =>
        ms.addData(batchRows(b): _*); q.processAllAvailable()
      }
    } finally q.stop()
    val once = psiRows(dir)
    def batch1Rows() = spark.read.parquet(s"$dir/batch_id=1")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val b1Once = batch1Rows()
    StreamingPsi.processBatch(
      batchRows(1).toDF("doc_id", "text", "source"), dir, 1L)
    assert(batch1Rows() === b1Once)
    assert(psiRows(dir) === once)
    // and the final state matches the batch query
    assert(once === TextOps.psiDrift(allDocs).orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq)
  }
}
