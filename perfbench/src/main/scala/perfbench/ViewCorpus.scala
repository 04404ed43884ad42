package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.AdsbSchema
import graft.functions.Hashing.micro
import graft.operators.Views
import graft.sources.{AdsbStore, Sbs1}

/** The `view_queries` workload: the reference query corpus
  * (create_schema.sql's three views and README.md's ad-hoc queries) over
  * one fact table stored twice -- in the streaming sink's `ingest_date`
  * partition layout and in `AdsbStore.save`'s hex_ident bucket layout.
  * The table comes from the seeded archive through `Sbs1.readArchive`,
  * with each message's own generated time as `parsed_time`.
  */
object ViewCorpus {

  val Bucketed = "adsb_bucketed"
  private val adsbCols = AdsbSchema.schema.fieldNames.toSeq.map(col)

  case class Layout(name: String, load: () => DataFrame,
                    flights: () => DataFrame)

  /** Query name → plan over a layout, in corpus order. */
  def corpus(now: String, trackHex: String)
  : Seq[(String, Layout => DataFrame)] = {
    val t = lit(java.sql.Timestamp.valueOf(now))
    val w = Window.partitionBy(col("hex_ident"))
      .orderBy(col("parsed_time"), col("lon"))
    def d(a: Column, b: Column) = a - b
    Seq(
      "callsigns" -> (l => Views.callsigns(l.load())),
      "locations" -> (l => Views.locations(l.load())),
      "flights" -> (l => l.flights()),
      "fdx" -> (l => Views.callsigns(l.load())
        .filter(col("callsign").like("FDX%"))),
      "track_one" -> (l => Views.locations(l.load())
        .filter(col("hex_ident") === trackHex)
        .orderBy("parsed_time").limit(10)),
      "recent5" -> (l => l.load().orderBy(col("parsed_time").desc).limit(5)),
      "points_24h" -> (l => Views.locations(l.load())
        .filter(col("parsed_time").between(t - expr("INTERVAL 24 HOURS"), t))
        .select(col("hex_ident"), col("lon").as("x"), col("lat").as("y"))),
      "lines" -> (l => Views.locations(l.load())
        .select(col("hex_ident"), col("parsed_time"), col("lon"), col("lat"))
        .withColumn("num", row_number().over(w).cast("long"))
        .withColumn("x2", lead(col("lon"), 1).over(w))
        .withColumn("y2", lead(col("lat"), 1).over(w))
        .filter(col("y2").isNotNull)
        .select(col("hex_ident"), col("num"), col("lon").as("x"),
          col("lat").as("y"), col("x2"), col("y2"))),
      "speed" -> { l =>
        val legs = Views.locations(l.load())
          .select(col("hex_ident"), col("parsed_time"), col("lon"), col("lat"))
          .withColumn("x0", lag(col("lon"), 1).over(w))
          .withColumn("y0", lag(col("lat"), 1).over(w))
          .withColumn("t0", lag(col("parsed_time"), 1).over(w))
          .filter(col("t0").isNotNull && col("parsed_time") > col("t0"))
        val dist = sqrt(d(col("lon"), col("x0")) * d(col("lon"), col("x0")) +
          d(col("lat"), col("y0")) * d(col("lat"), col("y0")))
        legs.withColumn("dt_micros",
            expr("timestampdiff(MICROSECOND, t0, parsed_time)"))
          .select(col("hex_ident"), col("parsed_time"),
            micro(dist).as("dist_micro"), col("dt_micros"),
            micro(dist / (col("dt_micros") / lit(1000000.0))).as("speed_micro"))
      })
  }

  /** Archive → fact table in both layouts; returns the set-up timings. */
  def build(spark: SparkSession, archive: String, work: String,
            tracer: Option[Tracer]): (Seq[Layout], Map[String, Any]) = {
    def timed[T](name: String)(body: => T): (T, Long) = {
      val t0 = System.nanoTime()
      val r = tracer.fold(body)(_.span(name)(_ => body))
      (r, System.nanoTime() - t0)
    }
    val part = s"$work/tables/partitioned"
    val field = (i: Int) => get(split(col("value"), ","), lit(i))
    val ownTime = try_to_timestamp(concat_ws(" ", field(6), field(7)),
      lit("yyyy/MM/dd HH:mm:ss.SSS"))
    val (_, parseNs) = timed("sbs1.read_archive") {
      Sbs1.readArchive(spark, archive, parsedTime = ownTime)
        .withColumn("ingest_date", to_date(col("parsed_time")))
        .write.mode("overwrite").partitionBy("ingest_date").parquet(part)
    }
    val (_, saveNs) = timed("adsb_store.save") {
      AdsbStore.save(spark.read.parquet(part).select(adsbCols: _*), Bucketed)
    }
    val layouts = Seq(
      Layout("partitioned", () => spark.read.parquet(part).select(adsbCols: _*),
        () => Views.flights(spark.read.parquet(part).select(adsbCols: _*))),
      Layout("bucketed", () => AdsbStore.load(spark, Bucketed)
        .select(adsbCols: _*), () => AdsbStore.flights(spark, Bucketed)))
    (layouts, Map("parse_write_ns" -> parseNs, "save_ns" -> saveNs,
      "store_files" -> spark.table(Bucketed).inputFiles.length,
      "rows" -> layouts.map(l => l.name -> l.load().count()).toMap))
  }

  def run(spark: SparkSession, opts: Map[String, String], work: String,
          tracer: Option[Tracer]): Map[String, Any] = {
    val (layouts, setup) = build(spark, opts("archive"), work, tracer)
    val queries = corpus(opts("now"), opts("track-hex"))
    // the first warm-up pass stores each output for run.py's check; the
    // other passes run the same plans into the noop sink
    def pass(p: Int, parent: Int): Seq[Map[String, Any]] =
      for ((q, f) <- queries; l <- layouts) yield {
        val plan = tracer.map(_ => planMs(f(l)))
        val out = if (p == 0) Some(s"$work/out/$q.${l.name}") else None
        execute(spark, s"views:$q:${l.name}:$p", s"$q.${l.name}", tracer,
          () => f(l), out, parent) ++ Map("q" -> q, "layout" -> l.name,
          "pass" -> p, "plan_ms" -> plan)
      }
    def spanned(p: Int) =
      tracer.fold(pass(p, -1))(_.span("view_queries.pass")(id => pass(p, id)))
    // warm-up passes until a pass is no longer faster than the best one
    // before it by more than `warmup-settle`, within the pass and time caps
    val minW = opts("warmup-min").toInt
    val maxW = opts("warmup-max").toInt
    val settle = opts("warmup-settle").toDouble
    val capNs = opts("warmup-cap-s").toDouble * 1e9
    val warmups = scala.collection.mutable.ArrayBuffer.empty[Seq[Map[String, Any]]]
    val warmNs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val w0 = System.nanoTime()
    def settled = warmNs.size >= 2 &&
      warmNs.last > warmNs.init.min * (1 - settle)
    while (warmups.size < minW || (warmups.size < maxW && !settled &&
           System.nanoTime() - w0 < capNs)) {
      val t0 = System.nanoTime()
      warmups += spanned(warmups.size)
      warmNs += System.nanoTime() - t0
    }
    val warm = warmups.size
    val measured = scala.collection.mutable.ArrayBuffer.empty[Seq[Map[String, Any]]]
    val firstNs = System.nanoTime()
    val budget = opts("seconds").toDouble * 1e9
    do measured += spanned(warm + measured.size)
    while (System.nanoTime() - firstNs < budget)
    Map("setup" -> setup, "first_measured_ns" -> firstNs,
      "warmup" -> warmups.flatten, "warmup_pass_ns" -> warmNs.toList,
      "passes" -> measured.toList)
  }

  /** One timed execution into the noop sink, or into parquet at `out`. A
    * failure is recorded with its error and no timing is used for it
    * downstream.
    */
  private def execute(spark: SparkSession, key: String, span: String,
                      tracer: Option[Tracer], df: () => DataFrame,
                      out: Option[String], parent: Int): Map[String, Any] = {
    val c0 = Main.cpuNs()
    val t0 = System.nanoTime()
    val err = try {
      def go(): Unit = TaskMeter.grouped(spark, key) {
        val w = df().write.mode("overwrite")
        out.fold(w.format("noop").save())(w.parquet)
      }
      tracer.fold(go())(_.span(s"views.$span", parent)(_ => go()))
      None
    } catch { case NonFatal(e) => Some(e.toString) }
    Map("key" -> key, "start_ns" -> t0, "end_ns" -> System.nanoTime(),
      "cpu_ns" -> (Main.cpuNs() - c0), "error" -> err)
  }

  /** Planning phases of a fresh plan (analysis, optimization, planning). */
  private def planMs(df: DataFrame): Map[String, Long] = {
    val qe = df.queryExecution
    qe.executedPlan
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
  }

  /** Isolated `Sbs1.parse` over a sample of the archive into the noop sink
    * (one untimed run first so codegen is warm).
    */
  def parseProbe(spark: SparkSession, sample: String,
                 tracer: Tracer): Map[String, Any] = {
    val raw = spark.read.text(sample)
    val lines = raw.count()
    def go(): Unit = Sbs1.parse(raw).write.format("noop").mode("overwrite").save()
    go()
    val c0 = Main.cpuNs()
    val t0 = System.nanoTime()
    tracer.span("sbs1.parse")(_ => TaskMeter.grouped(spark, "parse_probe")(go()))
    val wall = System.nanoTime() - t0
    Map("lines" -> lines, "kept" -> Sbs1.parse(raw).count(), "wall_ns" -> wall,
      "cpu_ns" -> (Main.cpuNs() - c0))
  }
}
