package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.TextOps
import graft.sources.ComponentStore
import graft.streaming.{IncrementalClusters, MicroBatches}

/** T12 streaming incremental dedup clustering: after N micro-batches
  * the persisted component store equals the D7 batch components over
  * the full corpus — including transitive chains that SPAN batch
  * boundaries and two existing components MERGED by a later bridge
  * doc, the cases a per-batch-only clustering gets wrong.
  */
class IncrementalClustersSpec extends SparkSpec {
  import sqlImplicits._

  private val (k, w, ratioMin) = (8, 4, 300000L)

  private val tX = "the original corpus document about aviation " +
    "telemetry and message parsing pipelines for stream ingestion"
  private val tY = "a completely different text on winnowing " +
    "fingerprints and locality sensitive hashing for deduplication"
  private val tZ = "yet another unrelated piece of text about spark " +
    "catalyst expressions and code generation internals"

  private val allRows = Seq(
    (1L, tX), (2L, tY), // batch 1: two unrelated docs
    (3L, tX), (4L, tY), // batch 2: cross-batch copies of each
    (5L, tX + " " + tY), (6L, tZ)) // batch 3: bridge + fresh singleton

  private def expectedComponents: Map[Long, Long] = {
    val docs = allRows.toDF("doc_id", "text")
    val paired = TextOps.connectedComponents(
      IncrementalClusters.batchTwinPairs(docs, k, w, ratioMin)
        .select("d1", "d2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    allRows.map { case (id, _) => id -> paired.getOrElse(id, id) }.toMap
  }

  test("store equals batch D7 components after 3 micro-batches " +
    "(cross-batch chains + component merge)") {
    val fpT = "fp_inc_clusters_test"
    val compT = "comp_inc_clusters_test"
    val ckpt = Files.createTempDirectory("graft-incc-ckpt").toString
    try {
      val ms = MemoryStream[(Long, String)](spark)
      val q = MicroBatches.start(ms.toDF().toDF("doc_id", "text"), ckpt)(
        (batch, _) => IncrementalClusters.processBatch(batch, fpT, compT,
          k, w, ratioMin))
      try {
        ms.addData((1L, tX), (2L, tY)); q.processAllAvailable()
        ms.addData((3L, tX), (4L, tY)); q.processAllAvailable()
        ms.addData((5L, tX + " " + tY), (6L, tZ))
        q.processAllAvailable()
      } finally q.stop()
      val got = ComponentStore.load(spark, compT).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = expectedComponents
      assert(got === expected)
      // the fixture must actually exercise the hard cases, not pass
      // vacuously: a cross-batch pair...
      assert(got(3L) === got(1L))
      // ...and the batch-3 bridge doc MERGING the two batch-1/2
      // components into one (min label 1)
      assert(got(5L) === 1L && got(2L) === 1L && got(4L) === 1L)
      // the untouched doc stays a singleton keeper
      assert(got(6L) === 6L)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $fpT")
      spark.sql(s"DROP TABLE IF EXISTS $compT")
    }
  }

  test("replayed batch is a fixed point of the component merge") {
    val fpT = "fp_inc_replay_test"
    val compT = "comp_inc_replay_test"
    try {
      val b1 = Seq((1L, tX), (2L, tY)).toDF("doc_id", "text")
      val b2 = Seq((3L, tX), (4L, tY)).toDF("doc_id", "text")
      IncrementalClusters.processBatch(b1, fpT, compT, k, w,
        ratioMin)
      IncrementalClusters.processBatch(b2, fpT, compT, k, w,
        ratioMin)
      val once = ComponentStore.load(spark, compT).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // at-least-once: the SAME batch runs again against a store that
      // already holds its fingerprints and components
      IncrementalClusters.processBatch(b2, fpT, compT, k, w,
        ratioMin)
      val twice = ComponentStore.load(spark, compT).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(twice === once)
      assert(once(3L) === once(1L) && once(4L) === once(2L))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $fpT")
      spark.sql(s"DROP TABLE IF EXISTS $compT")
    }
  }
}
