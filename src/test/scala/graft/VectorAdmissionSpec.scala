package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.{Tables, VectorStore}
import graft.streaming.VectorAdmission

/** Streaming ANN admission end-to-end: a vector admitted in batch N
  * rejects its copies in batch N+1 (because admission appends it to the
  * same cluster-partitioned store the audit probes), near-copies of
  * initially-stored vectors are quarantined with the vector they
  * matched, and every append surfaces its drift.
  */
class VectorAdmissionSpec extends SparkSpec {
  import sqlImplicits._

  test("admission loop: copies quarantined across batches, fresh appended") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val path = Files.createTempDirectory("graft-vadm").toString
    VectorStore.save(emb, path, 10)
    val nStored = emb.count()
    val meta = VectorStore.readMeta(spark, path)

    // fresh = orthogonal to the codebook span (cos ~0 against every
    // stored direction that matters), same construction as
    // VectorStoreSpec — deterministic, never near-dup
    val cents0 = meta.cents.map(_.map(_.toDouble))
    val dims = cents0.head.length
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val basis = cents0.foldLeft(Vector.empty[Array[Double]]) { (bs, c) =>
      val r = c.clone()
      bs.foreach { b => val d = dot(r, b)
        (0 until dims).foreach(i => r(i) -= d * b(i)) }
      val n = math.sqrt(dot(r, r))
      if (n > 1e-9) bs :+ r.map(_ / n) else bs
    }
    def orthVec(seed: Int): Array[Float] = {
      val x = new Array[Double](dims)
      x(seed % dims) = 1.0
      basis.foreach { b => val d = dot(x, b)
        (0 until dims).foreach(i => x(i) -= d * b(i)) }
      val n = math.sqrt(dot(x, x))
      x.map(v => (v / n).toFloat)
    }
    val stored0 = emb.filter($"vec_id" === 0L)
      .select("embedding").head().getSeq[Float](0).toArray

    val quarantineDir = Files.createTempDirectory("graft-vadm-q").toString
    val ckpt = Files.createTempDirectory("graft-vadm-ckpt").toString
    val drifts = ArrayBuffer.empty[VectorStore.Drift]

    val ms = MemoryStream[(Long, Array[Float])](spark)
    val q = VectorAdmission.admission(path, quarantineDir,
        cosMicroMin = 900000L,
        onDrift = d => drifts.synchronized { drifts += d })
      .start(ms.toDF().toDF("vec_id", "embedding"), ckpt)
    try {
      // batch 1: a copy of stored vector 0 + a fresh vector
      ms.addData((5000L, stored0), (5001L, orthVec(0)))
      q.processAllAvailable()
      // batch 2: a copy of the vector ADMITTED in batch 1 + a fresh one
      ms.addData((6000L, orthVec(0)), (6001L, orthVec(1)))
      q.processAllAvailable()
    } finally q.stop()

    val quarantined = spark.read.parquet(quarantineDir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("stored_vec"), r.getAs[Long]("cos_micro")))
      .toMap
    // 5000 matched the initially-stored 0 exactly; 6000 matched 5001
    // ADMITTED IN BATCH 1 exactly
    assert(quarantined.keySet === Set(5000L, 6000L))
    assert(quarantined(5000L) === ((0L, 1000000L)))
    assert(quarantined(6000L) === ((5001L, 1000000L)))
    // the store grew by exactly the two admitted vectors, in their
    // kernel-assigned cluster partitions; the sidecar is untouched
    val store = spark.read.parquet(path)
    assert(store.count() === nStored + 2)
    assert(store.filter($"vec_id".isin(5001L, 6001L)).count() === 2)
    assert(VectorStore.readMeta(spark, path).baselineScoreMicro ===
      meta.baselineScoreMicro)
    // drift surfaced per appending batch; orthogonal vectors score ~0
    // so both batches sit far below the training baseline
    assert(drifts.size === 2)
    assert(drifts.forall(_.baselineScoreMicro === meta.baselineScoreMicro))
    assert(drifts.forall(_.driftMicro > 200000L))
  }

  test("audit prunes the store scan to the batch's clusters") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val path = Files.createTempDirectory("graft-vadm-prune").toString
    VectorStore.save(emb, path, 10)
    val batch = emb.filter($"vec_id" < 3L).select("vec_id", "embedding")
    val (_, quarantined) = VectorAdmission.auditBatch(path,
      batch.select(($"vec_id" + 7000L).as("vec_id"), $"embedding"),
      cosMicroMin = 900000L)
    val scan = quarantined.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("PartitionFilters"))
    assert(scan.exists(s => s.contains("cluster") && s.contains("IN")),
      s"cluster filter must prune store partitions:\n${scan.getOrElse("")}")
    // exact copies under shifted ids are all caught
    assert(quarantined.count() === 3)
  }

  test("dedupStore drops replay-duplicated rows, keeps layout + sidecar") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val path = Files.createTempDirectory("graft-vadm-dedup").toString
    VectorStore.save(emb, path, 10)
    val batch = emb.filter($"vec_id" < 5L)
      .select(($"vec_id" + 8000L).as("vec_id"), $"embedding")
    // a crash between append and checkpoint commit = the same batch
    // appended twice
    VectorStore.append(spark, path, batch)
    VectorStore.append(spark, path, batch)
    val n = emb.count()
    assert(spark.read.parquet(path).count() === n + 10)
    val (before, after) = VectorAdmission.dedupStore(spark, path)
    assert((before, after) === ((n + 10, n + 5)))
    // layout + sidecar survive: probe queries still partition-prune and
    // answer through the store's own codebook
    val out = VectorStore.annTopK(spark, path, 0L, 3, 10)
    assert(out.count() === 10)
  }
}
