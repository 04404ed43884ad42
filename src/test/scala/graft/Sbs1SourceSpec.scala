package graft

import java.io.PrintWriter
import java.net.ServerSocket

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.read.streaming.{ReadLimit,
  SupportsAdmissionControl}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{Sbs1, Sbs1InputPartition, Sbs1Offset, Sbs1Source,
  Sbs1SourceProvider}

/** The property the custom DSv2 source exists for: the query SURVIVES a
  * peer disconnect (the built-in socket source would fail it) and keeps
  * consuming after the in-source re-dial (SURVEY.md §2.7 T6).
  */
class Sbs1SourceSpec extends SparkSpec {

  test("sbs1 source reconnects across peer disconnects") {
    val server = new ServerSocket(0)
    val port = server.getLocalPort
    val first = Sbs1.sampleLines.take(3)
    val second = Sbs1.sampleLines.slice(3, 6)
    @volatile var done = false
    val t = new Thread(() => {
      // connection 1: three lines, then close (EOF at the source)
      val s1 = server.accept()
      val out1 = new PrintWriter(s1.getOutputStream)
      first.foreach(l => out1.print(l + "\n"))
      out1.flush()
      s1.close()
      // connection 2 (the re-dial): three more lines, hold open
      val s2 = server.accept()
      val out2 = new PrintWriter(s2.getOutputStream)
      second.foreach(l => out2.print(l + "\n"))
      out2.flush()
      while (!done) Thread.sleep(50)
      s2.close()
    })
    t.setDaemon(true)
    t.start()

    val q = spark.readStream.format("sbs1")
      .option("host", "localhost").option("port", port)
      .option("connectAttemptLimit", 20)
      .option("connectAttemptDelayMs", 200)
      .load()
      .writeStream.format("memory").queryName("sbs1_reconnect")
      .start()
    try {
      def received(): Long =
        spark.sql("SELECT * FROM sbs1_reconnect").count()
      val deadline = System.currentTimeMillis() + 90000
      while (received() < 6 && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
      }
      assert(received() === 6,
        "all lines from both connections must arrive; the disconnect " +
          "must not kill the query")
      assert(q.isActive, "query still running after peer disconnect")
      val values = spark.sql("SELECT value FROM sbs1_reconnect")
        .collect().map(_.getString(0)).toSet
      assert(values === (first ++ second).toSet)
    } finally {
      done = true
      q.stop()
      server.close()
    }
  }

  test("sbs1 source fails the query once the dial budget is exhausted") {
    val free = new ServerSocket(0)
    val port = free.getLocalPort
    free.close() // nothing listening: every dial fails
    val q = spark.readStream.format("sbs1")
      .option("host", "localhost").option("port", port)
      .option("connectAttemptLimit", 2)
      .option("connectAttemptDelayMs", 100)
      .load()
      .writeStream.format("memory").queryName("sbs1_deadfeed")
      .start()
    try {
      val ex = intercept[
          org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination(60000)
        // a silently-empty stream would time out with no exception —
        // that is exactly the bug this test pins
        fail("query kept running on a permanently-dead feed")
      }
      def messages(t: Throwable): List[String] =
        Option(t).map(x =>
          Option(x.getMessage).getOrElse("") :: messages(x.getCause))
          .getOrElse(Nil)
      assert(messages(ex).exists(_.contains("dial budget exhausted")),
        s"failure should name the exhausted dial budget: ${messages(ex)}")
      assert(!q.isActive)
    } finally if (q.isActive) q.stop()
  }

  test("a batch of N lines plans min(N, 4) contiguous partitions that " +
      "cover the offset range once, in order") {
    assert(spark.sparkContext.defaultParallelism === 4)
    val lines = (0 until 10).map(i => s"line-$i")
    val server = new ServerSocket(0)
    @volatile var done = false
    val t = new Thread(() => {
      val s = server.accept()
      val out = new PrintWriter(s.getOutputStream)
      out.print(lines.map(_ + "\n").mkString)
      out.flush()
      while (!done) Thread.sleep(50)
      s.close()
    })
    t.setDaemon(true)
    t.start()
    val stream = new Sbs1SourceProvider()
      .getTable(Sbs1Source.Schema, Array.empty, Map(
        "host" -> "localhost", "port" -> server.getLocalPort.toString).asJava)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      .toMicroBatchStream("unused")
    // a fresh query: Spark asks for the latest offset from the initial one
    def latestOffset() = stream.asInstanceOf[SupportsAdmissionControl]
      .latestOffset(stream.initialOffset(), ReadLimit.allAvailable())
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (latestOffset() != Sbs1Offset(10) &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(latestOffset() === Sbs1Offset(10))
      for ((s, e) <- Seq((0, 1), (0, 3), (2, 6), (3, 10), (0, 10), (5, 5))) {
        val parts = stream.planInputPartitions(Sbs1Offset(s), Sbs1Offset(e))
          .map(_.asInstanceOf[Sbs1InputPartition])
        assert(parts.length === math.min(e - s, 4), s"[$s, $e)")
        assert(parts.forall(_.lines.nonEmpty), s"[$s, $e): no empty split")
        assert(parts.map(_.start).toSeq ===
          parts.map(_.lines.length).scanLeft(s.toLong)(_ + _).init.toSeq,
          s"[$s, $e): contiguous, in offset order")
        assert(parts.flatMap(_.lines).toSeq === lines.slice(s, e),
          s"[$s, $e): every line exactly once, in order")
      }
    } finally {
      done = true
      stream.stop()
      server.close()
    }
  }
}
