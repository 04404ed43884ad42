package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, to_timestamp}

import graft.streaming._

/** The shared latest-batch load path (ADVICE r14): the serving reads
  * used to NPE on a store whose batch_id= partition EXISTS but holds
  * zero rows (an empty first micro-batch writes a real partition
  * directory with a zero-row parquet file). BatchStore must treat
  * that store as empty, not throw.
  */
class BatchStoreSpec extends SparkSpec {
  import sqlImplicits._

  test("latest(): no directory → None; empty partition → None; " +
    "rows → Some with maxExclusive honored") {
    val missing = Files.createTempDirectory("graft-bs").toString + "/nope"
    assert(BatchStore.latest(spark, missing, Seq("a")).isEmpty)

    // a REAL batch_id=0 partition holding zero rows — the NPE trigger
    val dir = Files.createTempDirectory("graft-bs-empty").toString
    Seq.empty[(String, Long)].toDF("a", "b")
      .write.parquet(s"$dir/batch_id=0")
    assert(BatchStore.latest(spark, dir, Seq("a", "b")).isEmpty)

    // the "latest" batch id is computed over ROWS, so when the newest
    // partition is empty the read serves the newest NON-EMPTY batch —
    // pinned here as the load-path contract (an empty merge result
    // means the predecessor state still stands)
    Seq(("x", 1L)).toDF("a", "b").write.parquet(s"$dir/batch_id=1")
    Seq.empty[(String, Long)].toDF("a", "b")
      .write.parquet(s"$dir/batch_id=2")
    val got = BatchStore.latest(spark, dir, Seq("a", "b"))
      .get.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq(("x", 1L)))
    // maxExclusive bounds the visible batches (the replay read)
    assert(BatchStore.latest(spark, dir, Seq("a", "b"), Some(1L)).isEmpty)
    assert(BatchStore.latest(spark, dir, Seq("a", "b"), Some(2L))
      .get.count() === 1L)
  }

  test("pruneBefore: trims replay history, leaves serving and the " +
    "replay-of-the-retained-window intact") {
    val dir = Files.createTempDirectory("graft-bs-prune").toString
    (0 to 3).foreach { b =>
      Seq(("s", b.toLong)).toDF("a", "b")
        .write.parquet(s"$dir/batch_id=$b")
    }
    val before = BatchStore.latest(spark, dir, Seq("a", "b"))
      .get.collect().map(_.toSeq).toSeq
    // keep the newest + its predecessor (the replay fixed point bound)
    assert(BatchStore.pruneBefore(spark, dir, 2L) === 2)
    assert(BatchStore.latest(spark, dir, Seq("a", "b"))
      .get.collect().map(_.toSeq).toSeq === before)
    // a replay of batch 3 still finds its predecessor (batch 2)
    assert(BatchStore.latest(spark, dir, Seq("a", "b"), Some(3L))
      .get.collect().head.getLong(1) === 2L)
    assert(new java.io.File(s"$dir/batch_id=0").exists === false)
    assert(new java.io.File(s"$dir/batch_id=2").exists === true)
    // idempotent
    assert(BatchStore.pruneBefore(spark, dir, 2L) === 0)
  }

  test("serving reads survive the empty-first-batch store (the r14 " +
    "ADVICE NPE)") {
    val dir = Files.createTempDirectory("graft-bs-msprt").toString
    // simulate an empty first micro-batch: StreamingMsprt.processBatch
    // with zero rows writes a real (empty) batch_id=0 partition
    val empty = Seq.empty[(Long, Long, String, String, Double)]
      .toDF("event_id", "user_id", "event_type", "ts_s", "value")
      .withColumn("ts",
        org.apache.spark.sql.functions.to_timestamp(
          org.apache.spark.sql.functions.col("ts_s"))).drop("ts_s")
    StreamingMsprt.processBatch(empty, dir, 0L)
    assert(new java.io.File(s"$dir/batch_id=0").exists,
      "fixture must create the empty partition")
    // pre-fix these threw NullPointerException via head().getLong(0)
    assert(StreamingMsprt.dailyCensus(spark, dir).count() === 0L)
    assert(StreamingMsprt.msprt(spark, dir).count() === 0L)

    // every other fold store: an empty first batch, then its serving reads
    val docs = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    val users = Seq.empty[Long].toDF("user_id")
    val funnelEvents = Seq.empty[(Long, String, String)]
      .toDF("user_id", "event_type", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val exposures = Seq.empty[(Long, String)].toDF("user_id", "event_type")
    val vecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val stores: Seq[(String, String => Unit, Seq[String => DataFrame])] = Seq(
      ("bloom", StreamingBloom.processBatch(docs, _, 0L),
        Seq(StreamingBloom.words(spark, _),
          StreamingBloom.claims(spark, _, docs))),
      ("calibration", StreamingCalibration.processBatch(docs, _, 0L,
          5L, 1000L, 300000L, 500000L, 1L),
        Seq(StreamingCalibration.census(spark, _),
          StreamingCalibration.calibration(spark, _))),
      ("cms", StreamingCms.processBatch(users, _, 0L),
        Seq(StreamingCms.sketch(spark, _),
          StreamingCms.estimate(spark, _, users))),
      ("funnel", StreamingFunnel.processBatch(funnelEvents, _, 0L),
        Seq(StreamingFunnel.stepEvents(spark, _),
          StreamingFunnel.funnelLatency(spark, _))),
      ("heavy hitters",
        StreamingHeavyHitters.processBatch(docs, _, 0L),
        Seq(StreamingHeavyHitters.summary(spark, _))),
      ("hll", StreamingHll.processBatch(users, _, 0L),
        Seq(StreamingHll.registers(spark, _))),
      ("jsd", StreamingJsd.processBatch(docs, _, 0L),
        Seq(StreamingJsd.census(spark, _), StreamingJsd.jsd(spark, _, 8))),
      ("kcenter", StreamingKcenter.processBatch(vecs, _, 0L, 2,
          100000L),
        Seq(StreamingKcenter.centers(spark, _))),
      ("kmv", StreamingKmv.processBatch(docs, _, 0L),
        Seq(StreamingKmv.state(spark, _), StreamingKmv.estimates(spark, _))),
      ("prefix", StreamingPrefix.processBatch(docs, _, 0L),
        Seq(StreamingPrefix.state(spark, _),
          StreamingPrefix.census(spark, _),
          StreamingPrefix.claims(spark, _, docs, 2L))),
      ("psi", { d =>
          StreamingPsi.initReference(spark, d,
            Seq((1L, "a b c", "s")).toDF("doc_id", "text", "source"))
          StreamingPsi.processBatch(docs, d, 0L)
        },
        Seq(StreamingPsi.buckets(spark, _), StreamingPsi.psi(spark, _))),
      ("sample", StreamingSample.processBatch(docs, _, 0L, 5),
        Seq(StreamingSample.sample(spark, _))),
      ("srm", StreamingSrm.processBatch(exposures, _, 0L),
        Seq(StreamingSrm.users(spark, _), StreamingSrm.srm(spark, _))),
      ("token length", StreamingTokLen.processBatch(docs, _, 0L),
        Seq(StreamingTokLen.state(spark, _),
          StreamingTokLen.census(spark, _))))
    stores.foreach { case (name, write, reads) =>
      val d = Files.createTempDirectory("graft-bs-empty-first").toString
      write(d)
      assert(new java.io.File(s"$d/batch_id=0").exists,
        s"$name: the empty batch must write its partition")
      reads.zipWithIndex.foreach { case (read, i) =>
        assert(read(d).count() === 0L, s"$name: serving read $i")
      }
    }
    // the two serving reads that are not row sets over the state: the
    // funnel census has one row per step (zero users each, as the batch
    // kernel over zero events) and the HLL estimate is a number
    val funnel = Files.createTempDirectory("graft-bs-empty-funnel").toString
    StreamingFunnel.processBatch(funnelEvents, funnel, 0L)
    assert(StreamingFunnel.funnel(spark, funnel).collect()
      .map(_.getAs[Long]("n_users")).toSeq === Seq(0L, 0L, 0L))
    val hll = Files.createTempDirectory("graft-bs-empty-hll").toString
    StreamingHll.processBatch(users, hll, 0L)
    assert(StreamingHll.estimate(spark, hll) === 0.0)
  }
}
