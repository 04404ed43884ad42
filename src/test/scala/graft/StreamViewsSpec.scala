package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.Sbs1
import graft.streaming.StreamViews

/** Streaming window aggregations over a MemoryStream of raw SBS-1 lines:
  * deterministic event times injected per line (the stream analogue of
  * the per-batch stamp), complete-mode sink for stable assertions.
  */
class StreamViewsSpec extends SparkSpec {
  import sqlImplicits._

  // MSG,3 sample with a distinct hex per line; positions at controlled times
  private def posLine(hex: String): String =
    s"MSG,3,496,211,$hex,10057,2008/11/28,14:53:50.594,2008/11/28,14:58:51.153,,37000,,,51.45735,-1.02826,,,0,0,0,0"

  test("fixesPerWindow: tumbling hourly counts with event-time windows") {
    val ms = MemoryStream[(String, Timestamp)](spark)
    val parsed = Sbs1.parse(
      ms.toDF().toDF("value", "evt"), parsedTime = col("evt"))

    val q = StreamViews.fixesPerWindow(parsed, "1 hour", "0 seconds")
      .writeStream.format("memory").queryName("fixes_win")
      .outputMode("complete").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      ms.addData(
        (posLine("AAA111"), t("2024-01-01 10:05:00")),
        (posLine("AAA111"), t("2024-01-01 10:55:00")),
        (posLine("AAA111"), t("2024-01-01 11:05:00")),
        (posLine("BBB222"), t("2024-01-01 10:30:00")))
      q.processAllAvailable()
      val out = spark.sql(
        "SELECT hex_ident, window_start, n_fixes FROM fixes_win")
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getLong(2)))
        .toSet
      assert(out === Set(
        ("AAA111", "2024-01-01 10:00:00.0", 2L),
        ("AAA111", "2024-01-01 11:00:00.0", 1L),
        ("BBB222", "2024-01-01 10:00:00.0", 1L)))
    } finally q.stop()
  }

  test("flightSessions: gap-based session windows split legs") {
    val ms = MemoryStream[(String, Timestamp)](spark)
    val parsed = Sbs1.parse(
      ms.toDF().toDF("value", "evt"), parsedTime = col("evt"))
    val q = StreamViews.flightSessions(parsed, "30 minutes", "0 seconds")
      .writeStream.format("memory").queryName("flight_sessions")
      .outputMode("complete").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      ms.addData(
        // leg 1: two fixes 10 min apart; leg 2 starts 90 min later
        (posLine("AAA111"), t("2024-01-01 10:00:00")),
        (posLine("AAA111"), t("2024-01-01 10:10:00")),
        (posLine("AAA111"), t("2024-01-01 11:40:00")),
        (posLine("BBB222"), t("2024-01-01 10:05:00")))
      q.processAllAvailable()
      val out = spark.sql(
        "SELECT hex_ident, n_fixes FROM flight_sessions")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(out.count(_._1 == "AAA111") === 2,
        "a 90-minute gap must split the aircraft into two sessions")
      assert(out.filter(_._1 == "AAA111").map(_._2).sorted.toSeq ===
        Seq(1L, 2L))
      assert(out.count(_._1 == "BBB222") === 1)
    } finally q.stop()
  }

  test("streaming callsigns: first/last seen per day window") {
    val ms = MemoryStream[(String, Timestamp)](spark)
    def csLine(hex: String, cs: String): String =
      s"MSG,1,145,256,$hex,11267,2008/11/28,23:48:18.611,2008/11/28,23:53:19.161,$cs,,,,,,,,,,,"
    val parsed = Sbs1.parse(
      ms.toDF().toDF("value", "evt"), parsedTime = col("evt"))

    val q = StreamViews.callsigns(parsed, "0 seconds")
      .writeStream.format("memory").queryName("cs_win")
      .outputMode("complete").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      ms.addData(
        (csLine("AAA111", "FDX1"), t("2024-01-01 08:00:00")),
        (csLine("AAA111", "FDX1"), t("2024-01-01 19:00:00")),
        (csLine("AAA111", "FDX1"), t("2024-01-02 07:00:00")))
      q.processAllAvailable()
      val out = spark.sql(
        "SELECT CAST(date_seen AS STRING), callsign, hex_ident, " +
          "CAST(first_seen AS STRING), CAST(last_seen AS STRING) " +
          "FROM cs_win").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3), r.getString(4))).toSet
      assert(out === Set(
        ("2024-01-01", "FDX1", "AAA111",
          "2024-01-01 08:00:00", "2024-01-01 19:00:00"),
        ("2024-01-02", "FDX1", "AAA111",
          "2024-01-02 07:00:00", "2024-01-02 07:00:00")))
    } finally q.stop()
  }

  test("callsignEnrichedFixes: stream-stream interval join within " +
    "the lookback, co-keyed by aircraft") {
    val ms = MemoryStream[(String, Timestamp)](spark)
    def csLine(hex: String, cs: String): String =
      s"MSG,1,145,256,$hex,11267,2008/11/28,23:48:18.611,2008/11/28,23:53:19.161,$cs,,,,,,,,,,,"
    val parsed = Sbs1.parse(
      ms.toDF().toDF("value", "evt"), parsedTime = col("evt"))
    val q = StreamViews.callsignEnrichedFixes(parsed, "10 minutes",
      "0 seconds")
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      ms.addData(
        // in-window callsign (4 min before the fix) -> joins
        (csLine("AAA111", "FDX1"), t("2024-01-01 10:01:00")),
        // stale callsign (11 min before) -> outside the lookback
        (csLine("AAA111", "OLD9"), t("2024-01-01 09:54:00")),
        // other aircraft inside the window -> different key, no join
        (csLine("BBB222", "UAL5"), t("2024-01-01 10:03:00")),
        // callsign AFTER the fix -> lookback is strictly behind
        (csLine("AAA111", "LATE"), t("2024-01-01 10:06:00")),
        (posLine("AAA111"), t("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // advance both watermarks far past the interval so buffered
      // state flushes every eligible match
      ms.addData(
        (csLine("ZZZ999", "ADV1"), t("2024-01-01 12:00:00")),
        (posLine("ZZZ999"), t("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val out = spark.sql(
        "SELECT hex_ident, callsign, CAST(pos_time AS STRING) FROM ss_join")
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getString(2))).toSet
      assert(out === Set(
        ("AAA111", "FDX1", "2024-01-01 10:05:00"),
        ("ZZZ999", "ADV1", "2024-01-01 12:00:00")))
    } finally q.stop()
  }

  test("slidingActives: sliding-window sketched distinct actives") {
    val ms = MemoryStream[(Timestamp, Long)](spark)
    val q = StreamViews.slidingActives(
      ms.toDF().toDF("ts", "user_id"), "2 days", "1 day", "0 seconds")
      .writeStream.format("memory").queryName("slide_act")
      .outputMode("complete").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      // day 1: users 1,2 (user 1 twice); day 2: users 2,3
      ms.addData(
        (t("2024-01-01 08:00:00"), 1L), (t("2024-01-01 09:00:00"), 1L),
        (t("2024-01-01 10:00:00"), 2L),
        (t("2024-01-02 08:00:00"), 2L), (t("2024-01-02 09:00:00"), 3L))
      q.processAllAvailable()
      val out = spark.sql(
        "SELECT window_start, active_users FROM slide_act")
        .collect()
        .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      // HLL++ sparse mode is exact at these cardinalities; the window
      // covering both days sees the distinct UNION (3, not 2+2) —
      // the sketch merges, it does not add
      assert(out("2024-01-01 00:00:00.0") === 3L,
        s"2-day window spanning both days must merge to 3: $out")
      assert(out("2023-12-31 00:00:00.0") === 2L, s"day-1-only: $out")
      assert(out("2024-01-02 00:00:00.0") === 2L, s"day-2-only: $out")
    } finally q.stop()
  }

  test("streaming exact dedup: first occurrence wins within watermark") {
    val ms = MemoryStream[(Long, String, Timestamp)](spark)
    val docs = ms.toDF().toDF("doc_id", "text", "evt")
    val q = graft.streaming.StreamViews.dedupDocs(docs, "evt", "0 seconds")
      .writeStream.format("memory").queryName("doc_dedup")
      .outputMode("append").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      ms.addData(
        (1L, "the quick brown fox", t("2024-01-01 10:00:00")),
        (2L, "the quick brown fox", t("2024-01-01 10:01:00")), // dup
        (3L, "a different document", t("2024-01-01 10:02:00")))
      q.processAllAvailable()
      val out = spark.sql("SELECT doc_id FROM doc_dedup").collect()
        .map(_.getLong(0)).toSet
      assert(out.size === 2)
      assert(out.contains(3L))
      assert(out.intersect(Set(1L, 2L)).size === 1,
        "exactly one of the duplicate pair survives")
    } finally q.stop()
  }

  test("stream-static join enriches fixes with a broadcast registry") {
    val ms = MemoryStream[(String, Timestamp)](spark)
    val parsed = Sbs1.parse(
      ms.toDF().toDF("value", "evt"), parsedTime = col("evt"))
    val registry = Seq(
      ("AAA111", "B738", "FedEx"), ("ZZZ999", "A320", "Other"))
      .toDF("hex_ident", "ac_type", "operator")
    val q = graft.streaming.StreamViews.enriched(parsed, registry)
      .select("hex_ident", "ac_type", "operator")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      ms.addData(
        (posLine("AAA111"), t("2024-01-01 10:00:00")),
        (posLine("BBB222"), t("2024-01-01 10:01:00"))) // not in registry
      q.processAllAvailable()
      val out = spark.sql(
        "SELECT hex_ident, ac_type, operator FROM enriched").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(out === Set(
        ("AAA111", "B738", "FedEx"),
        ("BBB222", null, null)), s"got $out")
    } finally q.stop()
  }

  test("monitoring listener captures per-batch progress") {
    val mon = graft.streaming.Monitoring.attach(spark)
    try {
      val ms = MemoryStream[(String, Timestamp)](spark)
      val parsed = Sbs1.parse(ms.toDF().toDF("value", "evt"),
        parsedTime = col("evt"))
      val q = parsed.writeStream.format("memory")
        .queryName("monitored_q").outputMode("append").start()
      try {
        ms.addData((posLine("AAA111"), Timestamp.valueOf("2024-01-01 10:00:00")))
        q.processAllAvailable()
        ms.addData((posLine("BBB222"), Timestamp.valueOf("2024-01-01 10:01:00")))
        q.processAllAvailable()
        // progress events reach the listener on Spark's asynchronous
        // listener bus, possibly after processAllAvailable returns
        def monitored = mon.summaries.find(_.name == "monitored_q")
        val deadline = System.currentTimeMillis() + 30000
        while (!monitored.exists(_.totalRows >= 2L) &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
        val sum = monitored
        assert(sum.isDefined, s"got ${mon.summaries}")
        assert(sum.get.totalRows === 2L)
        assert(sum.get.batches >= 2L)
      } finally q.stop()
    } finally spark.streams.removeListener(mon)
  }
}
