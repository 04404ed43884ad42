package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The SBS-1 parse as a pure `split`/`try_cast`/`try_to_date` expression
  * pipeline — the formulation the production kernel
  * ([[graft.functions.Sbs1Parse]]) replaced, kept verbatim as the
  * differential oracle of `Sbs1KernelSpec`. Test code only: nothing in
  * the engine may call it.
  */
object Sbs1Oracle {

  /** PG `integer` text coercion accepts only optionally-signed digit runs
    * (with surrounding whitespace); `288.6` fails — unlike Spark's lax cast.
    */
  private val pgIntRe = "^\\s*[+-]?\\d+\\s*$"

  private def emptyToNull(c: Column): Column =
    when(c === "", lit(null)).otherwise(c)

  /** Typed value for one SBS-1 field + whether PG would accept it.
    * try_cast/try_to_date (null on failure, even under ANSI mode) model the
    * PG error: a *non-null* input whose typed value comes back null means
    * PG would have raised, so the row is dropped.
    */
  private def typed(name: String, c: Column): (Column, Column) = {
    val intCols   = Set("transmission_type", "altitude", "ground_speed",
                        "track", "alert", "emergency", "spi", "is_on_ground")
    val floatCols = Set("lat", "lon", "vertical_rate")
    val dateCols  = Set("generated_date", "logged_date")
    name match {
      case n if intCols(n) =>
        // the rlike gate rejects what PG integer rejects ('288.6'); the
        // try_cast additionally nulls out-of-range values (PG would error)
        val v = when(c.rlike(pgIntRe), c.try_cast("int"))
        (v.as(n), c.isNull || v.isNotNull)
      case n if floatCols(n) =>
        val v = c.try_cast("float")
        (v.as(n), c.isNull || v.isNotNull)
      case n if dateCols(n) =>
        val v = try_to_date(c, "yyyy/MM/dd")
        (v.as(n), c.isNull || v.isNotNull)
      case n => (c.as(n), lit(true))
    }
  }

  /** Parse a DataFrame of raw SBS-1 lines (`rawCol`: StringType) into the
    * canonical 23-column ADS-B frame, dropping invalid records exactly as
    * the reference does.
    *
    * @param parsedTime processing-time stamp; defaults to
    *                   `current_timestamp()` (per-micro-batch semantics,
    *                   matching the reference's per-recv-batch stamp).
    */
  def parse(raw: DataFrame, rawCol: String = "value",
            parsedTime: Column = current_timestamp()): DataFrame = {
    // split with limit -1 keeps trailing empty fields (MSG,1 ends in ",,,")
    val parts = split(regexp_replace(col(rawCol), "\r$", ""), ",", -1)
    // input columns ride along so `parsedTime` may reference one (e.g. a
    // per-record event time in tests/streams); the final projection
    // drops them
    val withParts = raw.select(col("*"), parts.as("p"))

    // functions.get (not apply) — null on out-of-bounds instead of the
    // ANSI-mode INVALID_ARRAY_INDEX error for short (non-22-field) records
    val fields = AdsbSchema.sbs1Fields.zipWithIndex.map { case (n, i) =>
      typed(n, emptyToNull(get(col("p"), lit(i))))
    }
    val cols   = fields.map(_._1)
    val casts  = fields.map(_._2)

    val arityOk = size(col("p")) === lit(22)
    val notNullOk = Seq("transmission_type", "hex_ident", "generated_date",
                        "generated_time")
      .map(n => emptyToNull(get(col("p"),
        lit(AdsbSchema.sbs1Fields.indexOf(n)))).isNotNull)
      .reduce(_ && _)
    val valid = casts.foldLeft(arityOk && notNullOk)(_ && _)

    withParts
      .select((cols :+ parsedTime.as("parsed_time")) :+ valid.as("__valid"): _*)
      .filter(col("__valid"))
      .drop("__valid")
  }
}
