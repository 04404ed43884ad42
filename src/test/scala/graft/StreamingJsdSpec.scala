package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.TextOps
import graft.streaming.{MicroBatches, StreamingJsd}

/** T25 streaming JSD: store ≡ batch q_jsd bit-for-bit after N
  * micro-batches (UNCONDITIONALLY — the top-V cut is a pure function
  * of the accumulated census, so there is no analogue of PSI's
  * fixed-reference caveat), replay fixed point, empty-store guard —
  * the T22 protocol over vocabulary censuses.
  */
class StreamingJsdSpec extends SparkSpec {
  import sqlImplicits._

  private val TopV = 8

  // three batches of (doc_id, text, source): vocabularies overlap but
  // shift across batches so the accumulated census — and therefore
  // the top-V cut — genuinely moves as batches land
  private def batchRows(b: Int): Seq[(Long, String, String)] =
    (0 until 9).map { i =>
      val id = (b * 100 + i).toLong
      val words = (0 to (i + b) % 7)
        .map(j => s"w${(j + b * 2) % 11}") :+ s"rare${id % 13}"
      (id, words.mkString(" "), s"src${i % 3}")
    }

  private def allDocs =
    (0 until 3).flatMap(batchRows).toDF("doc_id", "text", "source")

  private def jsdRows(dir: String) =
    StreamingJsd.jsd(spark, dir, TopV).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq

  private def batchJsd =
    TextOps.jsdDrift(allDocs, TopV).orderBy("source_a", "source_b")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq

  test("jsd() on a store with no batches returns an empty typed frame") {
    val dir = Files.createTempDirectory("graft-jsd-missing").toString
    val df = StreamingJsd.jsd(spark, dir, TopV)
    assert(df.columns.toSeq ===
      Seq("source_a", "source_b", "n_a", "n_b", "jsd_micro"))
    assert(df.count() === 0L)
  }

  test("after N micro-batches the stored census JSD equals the batch " +
    "q_jsd over the concatenated stream BIT-FOR-BIT") {
    val dir = Files.createTempDirectory("graft-jsd-store").toString
    (0 until 3).foreach { b =>
      StreamingJsd.processBatch(
        batchRows(b).toDF("doc_id", "text", "source"), dir, b.toLong)
    }
    assert(jsdRows(dir) === batchJsd)
    assert(batchJsd.nonEmpty)
    // the stored census itself equals the batch census relation
    assert(StreamingJsd.census(spark, dir).collect()
      .map(_.toSeq).toSet ===
      TextOps.sourceTermCensus(allDocs).collect().map(_.toSeq).toSet)
  }

  test("batch-boundary invariance: ONE batch holding the whole " +
    "stream yields the same serving rows as three") {
    val d1 = Files.createTempDirectory("graft-jsd-one").toString
    StreamingJsd.processBatch(allDocs, d1, 0L)
    val d3 = Files.createTempDirectory("graft-jsd-three").toString
    (0 until 3).foreach { b =>
      StreamingJsd.processBatch(
        batchRows(b).toDF("doc_id", "text", "source"), d3, b.toLong)
    }
    assert(jsdRows(d1) === jsdRows(d3))
  }

  test("streamed via foreachBatch: same identity; replayed batch " +
    "rewrites an identical partition (fixed point)") {
    val dir = Files.createTempDirectory("graft-jsd-st").toString
    val ckpt = Files.createTempDirectory("graft-jsd-ck").toString
    val ms = MemoryStream[(Long, String, String)](spark)
    val q = MicroBatches.start(
        ms.toDF().toDF("doc_id", "text", "source"), ckpt)(
      StreamingJsd.processBatch(_, dir, _))
    try {
      (0 until 3).foreach { b =>
        ms.addData(batchRows(b): _*); q.processAllAvailable()
      }
    } finally q.stop()
    val once = jsdRows(dir)
    def batch1Rows() = spark.read.parquet(s"$dir/batch_id=1")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2))).sorted.toSeq
    val b1Once = batch1Rows()
    StreamingJsd.processBatch(
      batchRows(1).toDF("doc_id", "text", "source"), dir, 1L)
    assert(batch1Rows() === b1Once)
    assert(jsdRows(dir) === once)
    // and the final state matches the batch query
    assert(once === batchJsd)
  }
}
