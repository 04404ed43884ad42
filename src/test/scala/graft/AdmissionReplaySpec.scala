package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.sources.{FingerprintStore, GramStore, PhashStore, Tables,
  VectorStore}
import graft.streaming.{Admission, CorpusAdmission, MediaAdmission,
  UnifiedAdmission, VectorAdmission}

/** The at-least-once fixed point of every admission gate: a batch runs
  * through the gate's [[Admission]] (sinks written, stores appended),
  * then the SAME batch id runs again, twice — what `foreachBatch` does
  * after a crash before the checkpoint commit, here against stores that
  * already hold the batch's appends once and then twice. Every run must
  * reach the first run's verdicts and leave identical rows, every
  * column compared exactly, in each `batch_id=` sink directory.
  */
class AdmissionReplaySpec extends SparkSpec {
  import sqlImplicits._

  private val sf = AdmissionFixtures.sf
  private val seedText = "seed document about structured streaming " +
    "micro batches checkpoint recovery and exactly once sinks in spark " +
    "engines with watermarked stateful aggregation everywhere"
  private val freshText = "alpha " + (0 until 8).map(i =>
    s"segment$i aviation telemetry parsing rollout").mkString(" ")
  private val otherText = "charlie completely unrelated text about " +
    "winnowing and shingles plus locality sensitive hashing for " +
    "deduplication work"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Drop `table` and any warehouse directory a previous JVM left for
    * it (the catalog is per JVM, the warehouse is not).
    */
  private def fresh(table: String): String = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete()
    }
    rm(new java.io.File(s"spark-warehouse/$table"))
    table
  }

  /** A gate under replay: `setup` builds its stores and returns the
    * gate and one batch that both admits and quarantines; `tables` are
    * dropped afterwards.
    */
  private case class Gate(name: String, tables: Seq[String],
                          setup: () => (Admission, DataFrame))

  private val gates = Seq(
    Gate("CorpusAdmission", Seq("replay_corpus_fp"), () => {
      val store = fresh("replay_corpus_fp")
      FingerprintStore.save(Seq((1L, seedText)).toDF("doc_id", "text"),
        8, 4, 80, 10, store)
      (CorpusAdmission.admission(store, tmp("graft-rc"), tmp("graft-rcq"),
          8, 4, 1000L, 500000L),
        Seq((10L, seedText), (11L, freshText)).toDF("doc_id", "text"))
    }),
    Gate("VectorAdmission", Nil, () => {
      val emb = Tables.embeddings(spark, sf)
      val path = tmp("graft-rv")
      VectorStore.save(emb, path, 10)
      val orth = AdmissionFixtures.orthogonal(spark, path)
      val stored0 = emb.filter($"vec_id" === 0L).select("embedding")
        .head().getSeq[Float](0).toArray
      (VectorAdmission.admission(path, tmp("graft-rvq"), 900000L),
        Seq((5000L, stored0), (5001L, orth(0)), (5002L, orth(1)))
          .toDF("vec_id", "embedding"))
    }),
    Gate("MediaAdmission", Seq("replay_phash"), () => {
      // ids 2/4/8 carry images in distinct classes; 3842 is 2's image
      // (payloads repeat every 3840 ids); 9 carries a WAV
      val store = fresh("replay_phash")
      PhashStore.save(Seq((2L, "seed")).toDF("doc_id", "text"), store)
      (MediaAdmission.admission(store, tmp("graft-rm"), tmp("graft-rmq"),
          maxHamming = 3),
        Seq((3842L, "copy"), (4L, "fresh"), (8L, "fresh2"), (9L, "wav"))
          .toDF("doc_id", "text"))
    }),
    Gate("UnifiedAdmission", Seq("replay_uni_fp", "replay_uni_gram"),
      () => {
      val fpTable = fresh("replay_uni_fp")
      val gramTable = fresh("replay_uni_gram")
      val vecPath = tmp("graft-ru")
      VectorStore.save(Tables.embeddings(spark, sf), vecPath, 10)
      val orth = AdmissionFixtures.orthogonal(spark, vecPath)
      val seed = Seq((1L, seedText)).toDF("doc_id", "text")
      FingerprintStore.save(seed, 8, 4, 80, 10, fpTable)
      GramStore.save(seed, 32, gramTable)
      (UnifiedAdmission.admission(fpTable, gramTable, vecPath,
          tmp("graft-ruc"), tmp("graft-ruq"), UnifiedAdmission.Config()),
        Seq((9400L, seedText, orth(0)), (9401L, freshText, orth(1)),
          (9402L, otherText, orth(2)))
          .toDF("doc_id", "text", "embedding"))
    }))

  /** Every row as its exact rendering (arrays element by element),
    * sorted — an order-free, lossless comparison.
    */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  gates.foreach { g =>
    test(s"${g.name}: a replayed batch is a fixed point") {
      try {
        val (gate, batch) = g.setup()
        val sinks = gate.corpusDir.toSeq :+ gate.quarantineDir
        def sinkRows() =
          sinks.map(d => rows(spark.read.parquet(s"$d/batch_id=7")))
        val (admitted, quarantined) = gate.run(batch, 7L)
        val first = (rows(admitted), rows(quarantined))
        assert(first._1.nonEmpty && first._2.nonEmpty,
          s"the batch must both admit and quarantine: $first")
        val written = sinkRows()
        (1 to 2).foreach { replay =>
          val (a, q) = gate.run(batch, 7L)
          assert((rows(a), rows(q)) === first, s"verdicts, replay $replay")
          assert(sinkRows() === written, s"sink rows, replay $replay")
        }
      } finally g.tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
