package graft.sources

import org.apache.spark.sql.{classic, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.types.StructType

/** The one module that writes or rewrites a bucketed catalog table.
  * Every store declares its tables' [[Layout]] once and saves, appends,
  * merges and compacts through here.
  *
  * A bucketed table's layout lives in the catalog, and Spark rejects an
  * append that does not restate it exactly ("Specified bucketing does
  * not match"). So the rule is: a write that CREATES the table uses the
  * store's declared [[Layout]] with [[Buckets]] buckets; a write to an
  * EXISTING table restates that table's own catalog spec, whatever its
  * count, columns or sort order (no spec at all writes unbucketed). A
  * deployment that needs thousands of buckets creates its store tables
  * with DDL, and every later append, merge rewrite and [[compact]]
  * follows that count.
  *
  * Column order: a bucketed `saveAsTable` keeps the frame's column
  * order, and an append resolves columns by name (StorageLayoutSpec
  * pins both), so a store's reads need no order-pinning `select`.
  */
object Bucketed {

  /** The bucket count of a table this module creates. */
  val Buckets = 8

  /** A store table's layout: hash-bucketed by `bucketCol`, each bucket
    * file sorted by `sortCols`.
    */
  final case class Layout(bucketCol: String, sortCols: String*)

  /** Write `df` into catalog table `table` (`mode` as in
    * `DataFrameWriter.mode`): `layout` if the write creates the table,
    * else the table's own catalog spec.
    */
  def write(df: DataFrame, table: String, layout: Layout,
            mode: String): Unit =
    save(df, table, mode,
      if (df.sparkSession.catalog.tableExists(table))
        catalogSpec(df.sparkSession, table)
      else Some(BucketSpec(Buckets, Seq(layout.bucketCol),
        layout.sortCols)))

  /** Create `table` empty with `schema` if it does not exist — the cold
    * start of a streaming loop that appends from its first batch.
    */
  def ensure(spark: SparkSession, table: String, schema: StructType,
             layout: Layout): Unit =
    if (!spark.catalog.tableExists(table))
      write(spark.createDataFrame(java.util.List.of[Row](), schema), table,
        layout, "overwrite")

  /** Compact a bucketed table in place: every append job adds its own
    * file per bucket, and a thousand appends mean a thousand files per
    * bucket on every audit's scan.
    *
    * A plain coalesce-rewrite would destroy the property the store
    * exists for: joins are Exchange-free only while rows live in the
    * file their hash says. So compaction rewrites THROUGH the table's
    * catalog spec (one shuffle-free pass: the scan is already
    * partitioned by the bucket key) into a fresh table, then swaps
    * names in the catalog. Returns (filesBefore, filesAfter).
    *
    * NOT atomic for concurrent readers/writers: the swap is two catalog
    * renames, and between them the table name resolves to nothing — a
    * concurrent query (or a streaming append like
    * [[graft.streaming.CorpusAdmission]]'s) fails that one batch with
    * TABLE_OR_VIEW_NOT_FOUND. QUIESCE FIRST: stop (or pause past) the
    * admission stream, compact, then restart. A failed batch is not
    * data loss (the stream's checkpoint replays it, and the replay is
    * idempotent per the store's contract), but routine compaction
    * should not rely on that.
    */
  def compact(spark: SparkSession, table: String): (Int, Int) = {
    val spec = catalogSpec(spark, table)
    require(spec.nonEmpty, s"$table is not a bucketed table")
    def fileCount(t: String): Int = spark.table(t).inputFiles.length
    val before = fileCount(table)
    val tmp = s"${table}__compact_tmp"
    val old = s"${table}__compact_old"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    // force the BUCKET-AWARE scan for the rewrite: with the default
    // autoBucketedScan a plain scan (no join/agg to feed) falls back
    // to size-based file splits, so two input splits holding the same
    // bucket's rows re-emit two files per bucket — the rewrite would
    // not bound the file count. Bucket-aware, the scan is exactly one
    // partition per bucket and the write one file per occupied bucket.
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val autoWas = spark.conf.get(autoKey)
    spark.conf.set(autoKey, "false")
    try save(spark.table(table), tmp, "errorifexists", spec)
    finally spark.conf.set(autoKey, autoWas)
    spark.sql(s"ALTER TABLE $table RENAME TO $old")
    try spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    catch {
      case e: Throwable =>
        spark.sql(s"ALTER TABLE $old RENAME TO $table") // restore
        throw e
    }
    spark.sql(s"DROP TABLE $old")
    (before, fileCount(table))
  }

  /** The bucket spec the catalog holds for an existing `table`. */
  private def catalogSpec(spark: SparkSession,
                          table: String): Option[BucketSpec] = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    state.catalog.getTableMetadata(
      state.sqlParser.parseTableIdentifier(table)).bucketSpec
  }

  private def save(df: DataFrame, table: String, mode: String,
                   spec: Option[BucketSpec]): Unit = {
    val writer = df.write.mode(mode)
    spec.fold(writer) { s =>
      val bucketed = writer.bucketBy(s.numBuckets,
        s.bucketColumnNames.head, s.bucketColumnNames.tail: _*)
      if (s.sortColumnNames.isEmpty) bucketed
      else bucketed.sortBy(s.sortColumnNames.head,
        s.sortColumnNames.tail: _*)
    }.saveAsTable(table)
  }
}
