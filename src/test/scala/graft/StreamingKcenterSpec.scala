package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{MicroBatches, StreamingKcenter}

/** T16 streaming k-center: hand-computed doubling trajectory, replay
  * fixed point, and the measured coverage invariant on real vectors.
  */
class StreamingKcenterSpec extends SparkSpec {
  import sqlImplicits._

  private def centerRows(dir: String) =
    StreamingKcenter.centers(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  // batch 0: p0=(1,0) admitted (empty state); p1 ~ p0 (dis < tau0)
  // skipped; p2=(0,1) dis 1e6 > tau0 admitted -> C={0,2}, tau=1e5.
  // batch 1: p10=(-1,0) far from both -> |C|=3 > k=2 -> tau doubles
  // 2e5, 4e5, 8e5 (thinning keeps all: pairwise dis 1e6, 2e6), then
  // 1.6e6: p2 within 1.6e6 of p0 drops, p10 (dis 2e6) survives ->
  // C={0,10}, tau=1600000.
  private val batch0 = Seq(
    (0L, Seq(1f, 0f)), (1L, Seq(0.999f, 0.004f)), (2L, Seq(0f, 1f)))
  private val batch1 = Seq((10L, Seq(-1f, 0f)))

  test("centers() on a nonexistent or empty store returns an empty " +
    "(cid, tau) frame instead of throwing") {
    val missing = Files.createTempDirectory("graft-skc-missing")
      .resolve("never-written").toString
    val emptyDir = Files.createTempDirectory("graft-skc-empty").toString
    Seq(missing, emptyDir).foreach { d =>
      val df = StreamingKcenter.centers(spark, d)
      assert(df.columns.toSeq === Seq("cid", "tau"))
      assert(df.count() === 0L)
    }
  }

  test("hand-computed doubling trajectory: admission, overflow, " +
    "thin in cid order") {
    val dir = Files.createTempDirectory("graft-skc").toString
    StreamingKcenter.processBatch(
      batch0.toDF("vec_id", "embedding"), dir, 0L, k = 2, tau0 = 100000L)
    assert(centerRows(dir).toSeq === Seq((0L, 100000L), (2L, 100000L)))
    StreamingKcenter.processBatch(
      batch1.toDF("vec_id", "embedding"), dir, 1L, k = 2, tau0 = 100000L)
    assert(centerRows(dir).toSeq ===
      Seq((0L, 1600000L), (10L, 1600000L)))
  }

  test("streamed via foreachBatch: same trajectory; replay rewrites " +
    "an identical partition") {
    val dir = Files.createTempDirectory("graft-skc-st").toString
    val ckpt = Files.createTempDirectory("graft-skc-ck").toString
    val ms = MemoryStream[(Long, Seq[Float])](spark)
    val q = MicroBatches.start(ms.toDF().toDF("vec_id", "embedding"), ckpt)(
      StreamingKcenter.processBatch(_, dir, _, k = 2, tau0 = 100000L))
    try {
      ms.addData(batch0: _*); q.processAllAvailable()
      ms.addData(batch1: _*); q.processAllAvailable()
    } finally q.stop()
    val once = centerRows(dir).toSeq
    assert(once === Seq((0L, 1600000L), (10L, 1600000L)))
    // replay the second batch: re-reads batch 0's state, rewrites
    // batch 1's partition identically
    StreamingKcenter.processBatch(
      batch1.toDF("vec_id", "embedding"), dir, 1L, k = 2,
      tau0 = 100000L)
    assert(centerRows(dir).toSeq === once)
  }

  test("invariants on real vectors: <= k centers and measured " +
    "coverage within 2*tau") {
    val dir = Files.createTempDirectory("graft-skc-inv").toString
    val emb = graft.sources.Tables
      .embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val all = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val batches = all.sortBy(_._1).grouped(125).toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingKcenter.processBatch(
        b.toSeq.map { case (id, e) => (id, e.toSeq) }
          .toDF("vec_id", "embedding"),
        dir, i.toLong, k = 8, tau0 = 50000L)
    }
    val cs = centerRows(dir)
    assert(cs.length <= 8 && cs.nonEmpty)
    val tau = cs.head._2
    val centerVecs = cs.map(c => all.find(_._1 == c._1).get._2)
    val worst = all.map { case (_, v) =>
      centerVecs.map(c =>
        1000000L - StreamingKcenter.cosMicroLocal(v, c)).min
    }.max
    assert(worst <= 2 * tau,
      s"coverage $worst exceeds 2*tau = ${2 * tau}")
  }
}
