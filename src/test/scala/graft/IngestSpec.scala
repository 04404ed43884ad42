package graft

import java.io.PrintWriter
import java.net.ServerSocket
import java.nio.file.Files

import org.apache.spark.sql.streaming.StreamingQueryException

import graft.sources.Sbs1
import graft.streaming.Ingest

/** Streaming integration test: replay the reference's 14-line sample
  * corpus (plus one duplicate) over a local TCP server → socket source →
  * parse → watermarked dedup → Parquet sink (SURVEY.md §5.2.5).
  */
class IngestSpec extends SparkSpec {

  test("socket ingest: parse gates, PK dedup, date-partitioned sink") {
    val server = new ServerSocket(0)
    val port = server.getLocalPort
    // 14 sample lines (6 survive the gates) + an exact duplicate of the
    // MSG,3 line: same micro-batch => same parsed_time => PK dedup drops it
    val lines = Sbs1.sampleLines :+ Sbs1.sampleLines(7)
    @volatile var done = false
    val serverThread = new Thread(() => {
      val sock = server.accept()
      val out = new PrintWriter(sock.getOutputStream)
      lines.foreach(l => out.print(l + "\n"))
      out.flush()
      while (!done) Thread.sleep(50) // hold the connection open
      sock.close()
    })
    serverThread.setDaemon(true)
    serverThread.start()

    val sink = Files.createTempDirectory("graft-sink").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val q = Ingest.start(spark, Ingest.Config(
      host = "localhost", port = port, sinkDir = sink, checkpointDir = ckpt))
    try {
      def sinkCount(): Long =
        try spark.read.parquet(sink).count()
        catch { case _: Exception => -1L }
      val deadline = System.currentTimeMillis() + 90000
      while (sinkCount() < 6 && System.currentTimeMillis() < deadline)
        Thread.sleep(500)

      val rows = spark.read.parquet(sink)
      assert(rows.count() === 6,
        "6 of 14 sample lines survive the gates; the duplicate must dedup")
      assert(rows.select("transmission_type", "parsed_time", "hex_ident")
        .distinct().count() === 6, "PK uniqueness holds in the sink")
      assert(rows.columns.contains("ingest_date"),
        "sink is date-partitioned for time pruning")
      assert(rows.filter(rows("hex_ident") === "4CA2D6").count() === 1,
        "the duplicated MSG,3 line appears exactly once")
    } finally {
      done = true
      q.stop()
      server.close()
    }
  }

  test("a duplicate PK pair that straddles an input-partition boundary " +
      "lands once in the sink") {
    // 8 lines in one burst form one micro-batch; on local[4] the source
    // plans it as 4 partitions of 2 lines (Sbs1SourceSpec), so the pair at
    // offsets 0 and 7 is parsed in partitions 0 and 3
    val dup = Sbs1.sampleLines(7)
    val fillers = (1 to 6).map(i => dup.replace("4CA2D6", f"F0$i%04d"))
    val lines = dup +: fillers :+ dup
    val server = new ServerSocket(0)
    @volatile var done = false
    val serverThread = new Thread(() => {
      val sock = server.accept()
      val out = new PrintWriter(sock.getOutputStream)
      out.print(lines.map(_ + "\n").mkString)
      out.flush()
      while (!done) Thread.sleep(50)
      sock.close()
    })
    serverThread.setDaemon(true)
    serverThread.start()

    val sink = Files.createTempDirectory("graft-sink-straddle").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-straddle").toString
    val q = Ingest.start(spark, Ingest.Config(host = "localhost",
      port = server.getLocalPort, sinkDir = sink, checkpointDir = ckpt))
    try {
      def sinkCount(): Long =
        try spark.read.parquet(sink).count()
        catch { case _: Exception => -1L }
      val deadline = System.currentTimeMillis() + 90000
      while (sinkCount() < 7 && System.currentTimeMillis() < deadline)
        Thread.sleep(500)
      q.processAllAvailable()
      val rows = spark.read.parquet(sink)
      assert(rows.select("parsed_time").distinct().count() === 1,
        "the burst must land as one micro-batch")
      assert(rows.count() === 7, "7 distinct PKs among the 8 lines")
      assert(rows.filter(rows("hex_ident") === "4CA2D6").count() === 1,
        "the straddling duplicate lands exactly once")
    } finally {
      done = true
      q.stop()
      server.close()
    }
  }

  test("a restarted ingest delivers every line sent after the restart") {
    // run 1 commits 200 lines and stops; run 2 resumes on the same
    // checkpoint (committed offset 200) and is sent 300 new lines. The
    // source numbers run 2's first line 200, so all 300 must land; a
    // source that counted from 0 again would plan only [200, 300) of them
    val template = Sbs1.sampleLines(7)
    def lines(from: Int, n: Int): Seq[String] =
      (from until from + n).map(i => template.replace("4CA2D6", f"A$i%05d"))
    val server = new ServerSocket(0)
    val serverThread = new Thread(() => {
      for (run <- Seq(lines(0, 200), lines(200, 300))) {
        val sock = server.accept()
        val out = new PrintWriter(sock.getOutputStream)
        out.print(run.map(_ + "\n").mkString)
        out.flush()
        sock.getInputStream.read() // until the query's source hangs up
        sock.close()
      }
    })
    serverThread.setDaemon(true)
    serverThread.start()

    val cfg = Ingest.Config(host = "localhost", port = server.getLocalPort,
      sinkDir = Files.createTempDirectory("graft-sink-restart").toString,
      checkpointDir =
        Files.createTempDirectory("graft-ckpt-restart").toString)
    def sinkCount(): Long =
      try spark.read.parquet(cfg.sinkDir).count()
      catch { case _: Exception => -1L }
    def run(expected: Long): Unit = {
      val q = Ingest.start(spark, cfg)
      try {
        val deadline = System.currentTimeMillis() + 60000
        while (sinkCount() < expected &&
            System.currentTimeMillis() < deadline) Thread.sleep(500)
        q.processAllAvailable()
      } finally q.stop()
    }
    try {
      run(200)
      assert(sinkCount() === 200, "run 1 commits its 200 lines")
      run(500)
      val hexes = spark.read.parquet(cfg.sinkDir).collect()
        .map(_.getAs[String]("hex_ident")).toSeq
      assert(hexes.length - 200 === 300,
        "every line sent after the restart reaches the sink")
      assert(hexes.toSet === (0 until 500).map(i => f"A$i%05d").toSet)
    } finally server.close()
  }

  test("an unusable port fails the query instead of leaving a dead feed") {
    // `new Socket` rejects port 70000 with IllegalArgumentException, not an
    // IOException: the reader thread must still fail the query
    val sink = Files.createTempDirectory("graft-sink-dead").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-dead").toString
    val q = Ingest.start(spark, Ingest.Config(host = "localhost",
      port = 70000, sinkDir = sink, checkpointDir = ckpt))
    try {
      val e = intercept[StreamingQueryException](q.awaitTermination(30000))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[IllegalArgumentException]), e.toString)
    } finally q.stop()
  }

  /** At 100 TB the default in-memory state store is the first thing to
    * fall over; the dedup pipeline must run unchanged on the RocksDB
    * provider (spill-to-disk state, the production choice).
    */
  test("micro-batches land in the bucketed store; flights stays " +
      "Exchange-free over the streamed table") {
    import sqlImplicits._
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String](spark)
    val parsed = sources.Sbs1.parse(ms.toDF())
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-bstore-ckpt").toString
    val q = streaming.Ingest.deduped(parsed)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sources.AdsbStore.append(df, "adsb_stream_store")
      }
      .start()
    try {
      ms.addData(sources.Sbs1.sampleLines: _*)
      q.processAllAvailable()
      ms.addData(sources.Sbs1.sampleLines(1)) // a second micro-batch
      q.processAllAvailable()
      val store = spark.table("adsb_stream_store")
      assert(store.count() >= 6L,
        "both micro-batches' rows must be in the store")
      // the batch-grown layout serves the flagship plan shuffle-free
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = sources.AdsbStore.flights(spark, "adsb_stream_store")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"flights over the streamed store must stay Exchange-free:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      q.stop()
      spark.sql("DROP TABLE IF EXISTS adsb_stream_store")
    }
  }

  test("watermarked dedup runs on the RocksDB state store provider") {
    import sqlImplicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String](spark)
    val parsed = sources.Sbs1.parse(ms.toDF())
    val q = streaming.Ingest.deduped(parsed)
      .writeStream.format("memory").queryName("rocksdb_dedup")
      .outputMode("append").start()
    try {
      ms.addData(sources.Sbs1.sampleLines: _*)
      ms.addData(sources.Sbs1.sampleLines(7)) // dup in a later batch
      q.processAllAvailable()
      // same parsed_time only within a batch; the cross-batch duplicate
      // has a distinct PK, so >= 6 rows and per-batch uniqueness hold
      val n = spark.sql(
        "SELECT count(DISTINCT transmission_type, parsed_time, hex_ident) " +
          "FROM rocksdb_dedup").collect().head.getLong(0)
      assert(n === spark.sql("SELECT count(*) FROM rocksdb_dedup")
        .collect().head.getLong(0), "PK uniqueness holds under RocksDB")
      assert(n >= 6L)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
