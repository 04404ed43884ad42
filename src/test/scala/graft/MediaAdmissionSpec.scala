package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sources.PhashStore
import graft.streaming.MediaAdmission

/** T10 media admission: an image admitted in batch N rejects its
  * re-encode in batch N+1 via the merged phash class store; WAV
  * payloads pass the image gate untouched.
  *
  * Fixture id algebra: the generative payload is determined by
  * doc_id mod 3840, so id and id+3840 carry the IDENTICAL image;
  * ids 2/4/6/8 sit in four distinct classes at pairwise Hamming ≥ 7
  * (computed from the closed form), so nothing cross-matches at
  * maxHamming = 3.
  */
class MediaAdmissionSpec extends SparkSpec {
  import sqlImplicits._

  test("phash gate: stored classes reject copies, fresh classes merge") {
    val store = "phash_admission_test"
    // defensive cross-run hygiene: a previous JVM's warehouse dir can
    // outlive its metastore entry and block CREATE
    spark.sql(s"DROP TABLE IF EXISTS $store")
    val wh = new java.io.File(s"spark-warehouse/$store")
    if (wh.exists) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete()
      }
      rm(wh)
    }
    PhashStore.save(Seq((2L, "seed")).toDF("doc_id", "text"), store)
    val admittedDir = Files.createTempDirectory("graft-madm").toString
    val quarantineDir = Files.createTempDirectory("graft-mquar").toString
    val ckpt = Files.createTempDirectory("graft-madm-ckpt").toString
    val ms = MemoryStream[(Long, String)](spark)
    val q = MediaAdmission.admission(store, admittedDir, quarantineDir,
        maxHamming = 3)
      .start(ms.toDF().toDF("doc_id", "text"), ckpt)
    try {
      // batch 0: 3842 = identical image to seeded 2 -> quarantine;
      // 4 = fresh class -> admit; 9 = WAV -> not this gate's traffic
      ms.addData((3842L, "copy"), (4L, "fresh"), (9L, "wav"))
      q.processAllAvailable()
      // batch 1: 3844 = identical image to 4 ADMITTED IN BATCH 0 ->
      // quarantine against the merged class; 8 = fresh -> admit
      ms.addData((3844L, "copy2"), (8L, "fresh2"))
      q.processAllAvailable()
    } finally q.stop()

    val admitted = spark.read.parquet(admittedDir).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val quarantined = spark.read.parquet(quarantineDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("exemplar"), r.getAs[Long]("hamming"))).toMap
    assert(admitted === Set(4L, 8L))
    assert(quarantined.keySet === Set(3842L, 3844L))
    assert(quarantined(3842L) === ((2L, 0L))) // the seeded class
    assert(quarantined(3844L) === ((4L, 0L))) // merged in batch 0
    // the store census now holds all four classes
    val classes = PhashStore.load(spark, store).collect()
      .map(r => r.getAs[Long]("exemplar")).toSet
    assert(classes === Set(2L, 4L, 8L))
  }
}
