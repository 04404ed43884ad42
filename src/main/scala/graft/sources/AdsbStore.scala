package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Views

/** Persisted ADS-B message store bucketed by `hex_ident` — the 100 TB
  * deployment shape for the flagship `flights` view (reference
  * create_schema.sql:116-124), mirroring [[GramStore]] /
  * [[FingerprintStore]]'s design for the dedup families.
  *
  * Why this layout: every expensive step of the flights pipeline keys
  * on `hex_ident` —
  *
  *  - the `callsigns` aggregate groups by (callsign, hex_ident, day),
  *    and a HashPartitioning on `hex_ident` already satisfies that
  *    clustering (the bucket key is a subset of the grouping key), so
  *    the aggregate runs with NO Exchange;
  *  - the locations ⋈ callsigns band join equi-keys on `hex_ident`, and
  *    both sides are scans of THIS table, so they arrive co-partitioned
  *    bucket-for-bucket — no Exchange on either side;
  *  - the trailing DISTINCT's clustering contains `hex_ident`, so it
  *    too reuses the bucket partitioning.
  *
  * Net: on the bucketed layout the ENTIRE flights plan — scan, filter,
  * aggregate, band join, distinct — runs with zero shuffles
  * (StorageLayoutSpec pins the physical plan; output is spec-asserted
  * identical to the inline [[Views.flights]] path). At 100 TB that is
  * the difference between a full-fact-table Exchange per query and a
  * plan whose only data movement is the final result.
  *
  * `sortBy(hex_ident)` makes the join's sort a scan-side no-op when
  * one file per bucket holds, and gives point lookups (`WHERE
  * hex_ident = ...`, the reference's track query README.md:241-247)
  * row-group min/max skipping inside the single bucket that can
  * contain the key. A table this store creates has
  * [[Bucketed.Buckets]] buckets; a deployment sizes one bucket's rows
  * per executor sort budget — at 100 TB of positions, thousands of
  * buckets — by creating the table with DDL, which every later write
  * then follows.
  *
  * The streaming path lands here too: [[graft.streaming.Ingest]]'s
  * micro-batches [[append]] into the same bucket layout, so the
  * analytical views stay Exchange-free over a store that grows one
  * batch at a time, and periodic per-bucket compaction is
  * [[Bucketed.compact]].
  */
object AdsbStore {

  private val layout = Bucketed.Layout("hex_ident", "hex_ident")

  def save(adsb: DataFrame, table: String): Unit =
    Bucketed.write(adsb, table, layout, "overwrite")

  def append(batch: DataFrame, table: String): Unit =
    Bucketed.write(batch, table, layout, "append")

  /** The stored fact table, bucket metadata intact. */
  def load(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** The flights view over the bucketed store — identical output to
    * [[Views.flights]] on the same rows (spec-asserted), planned with
    * zero Exchange (spec-pinned).
    */
  def flights(spark: SparkSession, table: String): DataFrame =
    Views.flights(load(spark, table))
}
