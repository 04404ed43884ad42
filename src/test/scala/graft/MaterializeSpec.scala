package graft

import java.nio.file.Files
import java.util.concurrent.CountDownLatch

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.storage.StorageLevel

import graft.operators.Materialize
import graft.sources.FingerprintStore
import graft.streaming.CorpusAdmission

/** Every pin lasts until the end of its scope — one query run in
  * `Verify`/`Bench`, or one micro-batch — and a scope releases only its
  * own pins.
  */
class MaterializeSpec extends SparkSpec {
  import sqlImplicits._

  private val dir = "/root/testdata/sf0.001"

  private def rdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def cacheEmpty: Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  test("each query run releases its pins: persistent RDDs and CacheManager " +
      "are back at baseline after every run, in Verify and in Bench") {
    // one query per operator family, each pinning through both forms
    val picks = Seq("q_dedup_clusters", "q_pq_residual", "q_media_dedup",
      "q_hill", "q_heavy")
    spark.catalog.clearCache()
    val base = rdds
    val pinned = scala.collection.mutable.Set.empty[String]
    val queries: Map[String, Bench.Query] = picks.map { q =>
      val fn = SparkEntry.queries(q)
      q -> ((s: org.apache.spark.sql.SparkSession, d: String) => {
        val df = fn(s, d)
        if ((rdds -- base).nonEmpty || !cacheEmpty) pinned += q
        df
      })
    }.toMap
    val out = Files.createTempDirectory("graft-materialize").toString
    (1 to 2).foreach { run =>
      queries.foreach { case (q, fn) =>
        assert(Verify.dump(spark, dir, out, Map(q -> fn)).isEmpty)
        assert((rdds -- base).isEmpty, s"$q run $run left persistent RDDs")
        assert(cacheEmpty, s"$q run $run left CacheManager entries")
      }
    }
    assert(pinned.toSet === picks.toSet, "every pick must pin something")
    val (measured, failed) = Bench.measure(spark, dir, queries)
    assert(failed.isEmpty && measured.length === picks.length)
    assert((rdds -- base).isEmpty)
    assert(cacheEmpty)
  }

  test("an admission gate's pins end with its micro-batch") {
    val (k, w) = (8, 4)
    val store = "fp_materialize_test"
    FingerprintStore.save(Seq((1L, "the original corpus document about " +
      "aviation telemetry and message parsing pipelines"))
      .toDF("doc_id", "text"), k, w, 80, 10, store)
    val corpusDir = Files.createTempDirectory("graft-corpus").toString
    val quarantineDir = Files.createTempDirectory("graft-quar").toString
    val ckpt = Files.createTempDirectory("graft-adm-ckpt").toString
    try {
      val base = rdds
      val ms = MemoryStream[(Long, String)](spark)
      val q = CorpusAdmission.admission(store, corpusDir, quarantineDir,
          k, w, 1000L, 500000L)
        .start(ms.toDF().toDF("doc_id", "text"), ckpt)
      try {
        ms.addData(
          (10L, "the original corpus document about aviation " +
            "telemetry and message parsing pipelines"),
          (11L, "a completely different text on winnowing fingerprints " +
            "and locality sensitive hashing for deduplication"))
        q.processAllAvailable()
        assert((rdds -- base).isEmpty)
        ms.addData((20L, "yet another unrelated piece of text about " +
          "spark catalyst expressions and code generation"))
        q.processAllAvailable()
        assert((rdds -- base).isEmpty)
      } finally q.stop()
      assert(spark.read.parquet(corpusDir).select("doc_id").as[Long]
        .collect().toSet === Set(11L, 20L))
    } finally spark.sql(s"DROP TABLE IF EXISTS $store")
  }

  test("a scope releases only the pins made on its own thread") {
    val base = rdds

    // two overlapping scopes on two threads: B ends while A still reads
    val aPinned = new CountDownLatch(1)
    val bReleased = new CountDownLatch(1)
    val a = Future(Materialize.scoped {
      val pin = Materialize.shared(spark.range(100).toDF("id"))
      aPinned.countDown()
      bReleased.await()
      pin.as[Long].collect().sum
    })
    aPinned.await()
    Materialize.scoped(Materialize.shared(spark.range(50).toDF()).count())
    bReleased.countDown()
    assert(Await.result(a, 2.minutes) === 4950L)
    assert((rdds -- base).isEmpty)

    // a thread the scope starts does not inherit it: its pin is unscoped
    var spawned: org.apache.spark.sql.DataFrame = null
    Materialize.scoped {
      val t = new Thread(() =>
        spawned = Materialize.shared(spark.range(20).toDF("id")))
      t.start()
      t.join()
    }
    assert((rdds -- base).size === 1)
    assert(spawned.as[Long].collect().sum === 190L)
    (rdds -- base).foreach(id =>
      spark.sparkContext.getPersistentRDDs(id).unpersist(blocking = true))
  }

  test("cached re-pins idempotently; an unscoped pin outlives any scope") {
    val df = spark.range(40).toDF("id").filter($"id" % 3 === 0)
    Materialize.scoped {
      assert(Materialize.cached(df) eq df)
      Materialize.cached(df)
      assert(df.storageLevel !== StorageLevel.NONE)
    }
    assert(df.storageLevel === StorageLevel.NONE)

    val unscoped = Materialize.shared(spark.range(30).toDF("id"))
    Materialize.scoped(Materialize.shared(spark.range(5).toDF()).count())
    assert(unscoped.as[Long].collect().sum === 435L)
  }
}
