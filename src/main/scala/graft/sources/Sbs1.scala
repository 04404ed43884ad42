package graft.sources

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._

import graft.AdsbSchema
import graft.functions.Sbs1Parse

/** SBS-1 ("BaseStation") line parser: one generator,
  * [[graft.functions.Sbs1Parse]], over the raw line column, then the
  * `parsed_time` stamp. It reproduces the reference ingest semantics
  * (dump1090-postgres.py:92-131):
  *
  *   - strip a trailing `\r` per record             (py:100)
  *   - split on `,`; DROP any record != 22 fields   (py:101-102)
  *   - empty string fields become NULL              (py:107-109)
  *   - strict PG-style casts: a row whose *non-null* text fails the cast of
  *     its target column is DROPPED (PG 22P02 rollback path, py:118-123) —
  *     a plain Spark cast would instead keep the row with a null, which is
  *     the wrong semantics (SURVEY.md §2.9.6)
  *   - rows violating a NOT NULL column (transmission_type, hex_ident,
  *     generated_date, generated_time) are dropped too (the reference would
  *     crash on PG 23502; we keep the stream alive — SURVEY.md §2.9.3)
  *   - `parsed_time` = processing-time stamp appended as the 23rd column
  *     (py:103,206-207); injectable for deterministic tests.
  *
  * The kernel scans each line once and runs exactly once per line, inside
  * whole-stage codegen, on the live stream and the archive path alike.
  */
object Sbs1 {

  /** The reference's implicit parser-conformance corpus: the 14 sample SBS-1
    * lines at README.md:82-94 — all 6 message types, all 8 transmission
    * types. Only 6 lines survive the reference's gates (FIXTURES.md §A).
    */
  val sampleLines: Seq[String] = Seq(
    "SEL,,496,2286,4CA4E5,27215,2010/02/19,18:06:07.710,2010/02/19,18:06:07.710,RYR1427",
    "ID,,496,7162,405637,27928,2010/02/19,18:06:07.115,2010/02/19,18:06:07.115,EZY691A",
    "AIR,,496,5906,400F01,27931,2010/02/19,18:06:07.128,2010/02/19,18:06:07.128",
    "STA,,5,179,400AE7,10103,2008/11/28,14:58:51.153,2008/11/28,14:58:51.153,RM",
    "CLK,,496,-1,,-1,2010/02/19,18:18:19.036,2010/02/19,18:18:19.036",
    "MSG,1,145,256,7404F2,11267,2008/11/28,23:48:18.611,2008/11/28,23:53:19.161,RJA1118,,,,,,,,,,,",
    "MSG,2,496,603,400CB6,13168,2008/10/13,12:24:32.414,2008/10/13,12:28:52.074,,,0,76.4,258.3,54.05735,-4.38826,,,,,,0",
    "MSG,3,496,211,4CA2D6,10057,2008/11/28,14:53:50.594,2008/11/28,14:58:51.153,,37000,,,51.45735,-1.02826,,,0,0,0,0",
    "MSG,4,496,469,4CA767,27854,2010/02/19,17:58:13.039,2010/02/19,17:58:13.368,,,288.6,103.2,,,-832,,,,,",
    "MSG,5,496,329,394A65,27868,2010/02/19,17:58:12.644,2010/02/19,17:58:13.368,,10000,,,,,,,0,,0,0",
    "MSG,6,496,237,4CA215,27864,2010/02/19,17:58:12.846,2010/02/19,17:58:13.368,,33325,,,,,,0271,0,0,0,0",
    "MSG,7,496,742,51106E,27929,2011/03/06,07:57:36.523,2011/03/06,07:57:37.054,,3775,,,,,,,,,,0",
    "MSG,8,496,194,405F4E,27884,2010/02/19,17:58:13.244,2010/02/19,17:58:13.368,,,,,,,,,,,,0")

  /** Batch re-ingest of archived SBS-1 logs: line files (plain or
    * compressed — Spark's text source decodes .gz etc. transparently)
    * through the same parse kernel as the live stream. A
    * directory of daily archives becomes the fact table in one call;
    * at scale, point this at the partitioned log store and write the
    * result with `partitionBy(ingest_date)` like the streaming sink.
    */
  def readArchive(spark: org.apache.spark.sql.SparkSession, path: String,
                  parsedTime: Column = current_timestamp()): DataFrame =
    parse(spark.read.text(path), parsedTime = parsedTime)

  /** Parse a DataFrame of raw SBS-1 lines (`rawCol`: StringType) into the
    * canonical 23-column ADS-B frame, dropping invalid records exactly as
    * the reference does. The input columns ride along past the kernel so
    * `parsedTime` may reference one (e.g. a per-record event time in
    * tests/streams); the final projection drops them.
    *
    * @param parsedTime processing-time stamp; defaults to
    *                   `current_timestamp()` (per-micro-batch semantics,
    *                   matching the reference's per-recv-batch stamp).
    */
  def parse(raw: DataFrame, rawCol: String = "value",
            parsedTime: Column = current_timestamp()): DataFrame =
    raw.select(col("*"), GraftSqlBridge.column(Sbs1Parse(
        GraftSqlBridge.expression(col(rawCol)),
        raw.sparkSession.conf.get("spark.sql.session.timeZone"))))
      .select(AdsbSchema.sbs1Fields.map(col) :+
        parsedTime.as("parsed_time"): _*)
}
