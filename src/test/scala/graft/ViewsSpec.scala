package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Views

/** Golden tests for the three views over a hand-built fixture, including the
  * ±10-minute band-join boundary cases (inclusive per the reference's
  * `>=` / `<=`, create_schema.sql:124).
  */
class ViewsSpec extends SparkSpec {
  import sqlImplicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** (hex_ident, callsign, parsed_time, lat, lon, altitude) minimal frame. */
  private def frame(rows: Seq[(String, String, String, java.lang.Float)]): DataFrame =
    rows.map { case (h, c, t, lat) => (h, c, ts(t), lat) }
      .toDF("hex_ident", "callsign", "parsed_time", "lat")
      .withColumn("lon", $"lat" * -2f)
      .withColumn("altitude", lit(1000))

  val f: Float = 40.0f

  test("callsigns: groups by day, excludes '' and NULL callsigns (3VL)") {
    val df = frame(Seq(
      ("AAA", "FDX1",  "2020-01-01 10:00:00", f),
      ("AAA", "FDX1",  "2020-01-01 12:00:00", f),
      ("AAA", "FDX1",  "2020-01-02 09:00:00", f),   // next day -> own group
      ("AAA", "",      "2020-01-01 11:00:00", f),   // '' filtered
      ("BBB", null,    "2020-01-01 11:00:00", f)))  // NULL filtered (3VL)
    val out = Views.callsigns(df).orderBy("date_seen").collect()
    assert(out.length === 2)
    assert(out(0).getAs[Timestamp]("first_seen") === ts("2020-01-01 10:00:00"))
    assert(out(0).getAs[Timestamp]("last_seen") === ts("2020-01-01 12:00:00"))
    assert(out(1).getAs[Date]("date_seen").toString === "2020-01-02")
  }

  test("locations: NULL lat excluded, 5-col projection") {
    val df = frame(Seq(
      ("AAA", "X", "2020-01-01 10:00:00", f),
      ("AAA", "X", "2020-01-01 10:00:01", null)))
    val out = Views.locations(df)
    assert(out.columns.toSeq ===
      Seq("hex_ident", "parsed_time", "lon", "lat", "altitude"))
    assert(out.count() === 1)
  }

  test("flights: band join is inclusive at exactly ±10 minutes") {
    val df = frame(Seq(
      ("AAA", "FDX1", "2020-01-01 10:00:00", f),  // defines first=last=10:00
      // position fixes with no callsign — joined via the band:
      ("AAA", "",     "2020-01-01 09:50:00", f),  // exactly first-10m: IN
      ("AAA", "",     "2020-01-01 10:10:00", f),  // exactly last+10m:  IN
      ("AAA", "",     "2020-01-01 09:49:59", f),  // just outside: OUT
      ("AAA", "",     "2020-01-01 10:10:01", f),  // just outside: OUT
      ("BBB", "",     "2020-01-01 10:00:00", f))) // other aircraft: OUT
    val out = Views.flights(df).orderBy("parsed_time").collect()
    assert(out.map(_.getAs[Timestamp]("parsed_time")).toSeq === Seq(
      ts("2020-01-01 09:50:00"), ts("2020-01-01 10:00:00"),
      ts("2020-01-01 10:10:00")))
    assert(out.forall(_.getAs[String]("callsign") == "FDX1"))
  }

  test("flights: DISTINCT collapses multiplied rows from overlapping bands") {
    // same callsign seen twice on one day with overlapping windows would
    // multiply each position row; DISTINCT restores set semantics
    val df = frame(Seq(
      ("AAA", "FDX1", "2020-01-01 10:00:00", f),
      ("AAA", "FDX1", "2020-01-01 10:05:00", f)))
    val out = Views.flights(df)
    assert(out.count() === 2)  // one per distinct position, not 2x2
  }

  test("flights: a position can match two different callsigns (both kept)") {
    val df = frame(Seq(
      ("AAA", "FDX1", "2020-01-01 10:00:00", f),
      ("AAA", "UPS2", "2020-01-01 10:01:00", f)))
    val out = Views.flights(df)
    // each position matches both callsign windows -> 2 positions x 2 = 4
    assert(out.count() === 4)
  }

  test("registerPersistent: catalog views survive a new session") {
    val df = frame(Seq(
      ("AAA", "FDX1", "2020-01-01 10:00:00", f),
      ("AAA", "",     "2020-01-01 10:05:00", f),
      ("BBB", "UPS9", "2020-01-01 11:00:00", f)))
    df.write.mode("overwrite").saveAsTable("adsb_messages_t")
    try {
      Views.registerPersistent(spark, "adsb_messages_t")
      // a NEW session = a fresh "connection" to the same warehouse: temp
      // state is gone, but catalog views resolve — the reference's
      // CREATE OR REPLACE VIEW persistence semantics
      val s2 = spark.newSession()
      assert(s2.catalog.tableExists("flights"))
      val out = s2.sql(
        "SELECT DISTINCT callsign FROM flights WHERE hex_ident = 'AAA'")
        .collect().map(_.getString(0)).toSeq
      assert(out === Seq("FDX1"))
      // each view's output ≡ the DataFrame formulation on the same data
      val fact = spark.table("adsb_messages_t")
      Seq("callsigns" -> Views.callsigns(fact),
          "locations" -> Views.locations(fact),
          "flights" -> Views.flights(fact)).foreach { case (view, viaDf) =>
        val viaSql = s2.sql(s"SELECT * FROM $view")
        assert(viaSql.columns.toSeq === viaDf.columns.toSeq, view)
        assert(viaSql.collect().map(_.toSeq.toString).sorted.toSeq ===
          viaDf.collect().map(_.toSeq.toString).sorted.toSeq, view)
      }
    } finally {
      spark.sql("DROP VIEW IF EXISTS flights")
      spark.sql("DROP VIEW IF EXISTS locations")
      spark.sql("DROP VIEW IF EXISTS callsigns")
      spark.sql("DROP TABLE IF EXISTS adsb_messages_t")
    }
  }

  test("register: SQL surface works verbatim against the temp views") {
    val df = frame(Seq(
      ("AAA", "FDX1", "2020-01-01 10:00:00", f),
      ("AAA", "FDX1", "2020-01-01 10:05:00", f),
      ("BBB", "UPS9", "2020-01-01 11:00:00", f)))
    Views.register(df)
    val fdx = spark.sql(
      "SELECT callsign, hex_ident FROM callsigns " +
        "WHERE callsign LIKE 'FDX%'").collect()
    assert(fdx.length === 1 && fdx.head.getString(0) === "FDX1")
    assert(spark.sql("SELECT * FROM locations").count() === 3)
    assert(spark.sql(
      "SELECT DISTINCT callsign FROM flights WHERE hex_ident = 'AAA'")
      .collect().map(_.getString(0)).toSeq === Seq("FDX1"))
    assert(spark.sql("SELECT count(*) FROM adsb_messages")
      .collect().head.getLong(0) === 3L)
  }
}
