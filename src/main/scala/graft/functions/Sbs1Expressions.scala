package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.time.ZoneId
import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast,
  EvalMode, Expression, Generator, Literal, ParseToDate,
  SpecificInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{DateType, FloatType, IntegerType,
  StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.AdsbSchema

/** Single-pass SBS-1 line parser shared by interpreted eval and generated
  * code. One scan of the line's UTF-8 bytes does what the reference does
  * per record (dump1090-postgres.py:100-123):
  *
  *   - strip a trailing `\r` (exactly `regexp_replace(line, "\r$", "")`)
  *   - split on `,`; a record with other than 22 fields is dropped
  *   - an empty field is NULL
  *   - NOT NULL columns (transmission_type, hex_ident, generated_date,
  *     generated_time) must be non-empty
  *   - integer columns accept PG integer text only (`\s*[+-]?\d+\s*`,
  *     in range), float columns what `CAST(x AS FLOAT)` accepts, date
  *     columns `yyyy/MM/dd`; a non-NULL field that fails its cast drops
  *     the line (PG 22P02/22003 rollback)
  *
  * The result is bit-identical to the `split`/`try_cast`/`try_to_date`
  * formulation (`Sbs1KernelSpec` holds it as the oracle). Common shapes
  * — ASCII lines, plain decimal numbers, canonical `yyyy/MM/dd` dates —
  * take byte-level fast paths whose results provably equal Spark's casts;
  * anything else (non-ASCII text, exponents, `NaN`, `inf`, hex floats,
  * out-of-range or non-canonical dates, a `\r` near the end) is handed
  * to the very expressions the formulation uses (the `\r$` regex,
  * `Cast` in TRY mode, `ParseToDate`), so no semantic is re-implemented
  * where an edge case could drift.
  *
  * Not thread-safe: one instance per task (generated code keeps one per
  * generated iterator; interpreted eval one per thread).
  */
final class Sbs1Kernel(zone: ZoneId) {
  import Sbs1Kernel._

  private val row = new SpecificInternalRow(Schema.fields.map(_.dataType)
    .toSeq)
  private val out = new OneRow(row)
  // field i spans bytes [starts(i), starts(i + 1) - 1)
  private val starts = new Array[Int](Arity + 1)

  // slow-path delegates: Spark's own expressions over one string field
  private lazy val one = new SpecificInternalRow(Seq(StringType))
  private lazy val field = BoundReference(0, StringType, nullable = true)
  private lazy val intCast =
    Cast(field, IntegerType, None, EvalMode.TRY)
  private lazy val floatCast =
    Cast(field, FloatType, None, EvalMode.TRY)
  private lazy val dateParse =
    ParseToDate(field, Some(Literal(DateFormat)), Some(zone.getId),
      ansiEnabled = false).replacement

  /** Zero or one row for `line` (null → none). The row is reused by the
    * next call; callers that keep it must copy.
    */
  def rows(line: UTF8String): Iterator[InternalRow] = {
    out.pending = line != null && parse(line)
    out
  }

  /** Fill the output row from `line`; false when the line is dropped. */
  private def parse(line: UTF8String): Boolean = {
    val b = canonical(line)
    val n = b.length
    var commas = 0
    var p = 0
    while (p < n) {
      if (b(p) == ',') {
        commas += 1
        if (commas >= Arity) return false
        starts(commas) = p + 1
      }
      p += 1
    }
    if (commas != Arity - 1) return false
    starts(Arity) = n + 1
    var i = 0
    while (i < Arity) {
      if (!put(i, b, starts(i), starts(i + 1) - 1)) return false
      i += 1
    }
    true
  }

  /** The line's bytes as the formulation sees them after `\r$` stripping.
    * `regexp_replace` and `split` decode to a Java string and re-encode,
    * so a non-ASCII line is decoded and re-encoded first (malformed UTF-8
    * turns into U+FFFD there too); the bytes are always a private copy,
    * since the output strings are slices of them.
    */
  private def canonical(line: UTF8String): Array[Byte] = {
    val n = line.numBytes
    var b = new Array[Byte](n)
    line.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET)
    var high = 0
    var p = 0
    while (p < n) { high |= b(p); p += 1 }
    if (high < 0) b = line.toString.getBytes(UTF_8)
    // `\r$` can only match within the last 4 bytes: `\r` at the end,
    // before one final line terminator (≤ 3 bytes), or before `\r\n`
    p = math.max(0, b.length - 4)
    while (p < b.length && b(p) != '\r') p += 1
    if (p < b.length) {
      val m = CrEnd.matcher(new String(b, UTF_8))
      if (m.find()) b = m.replaceAll("").getBytes(UTF_8)
    }
    b
  }

  private def put(i: Int, b: Array[Byte], from: Int, to: Int): Boolean =
    if (from == to) {
      row.setNullAt(i)
      !Required(i)
    } else Kinds(i) match {
      case KString =>
        row.update(i, UTF8String.fromBytes(b, from, to - from))
        true
      case KInt => putInt(i, b, from, to)
      case KFloat => putFloat(i, b, from, to)
      case _ => putDate(i, b, from, to)
    }

  /** `\s*[+-]?\d+\s*` over ASCII; value range-checked like the cast. */
  private def putInt(i: Int, b: Array[Byte], from: Int, to: Int): Boolean = {
    var p = from
    while (p < to && isSpace(b(p))) p += 1
    val neg = p < to && b(p) == '-'
    if (p < to && (b(p) == '-' || b(p) == '+')) p += 1
    val digits = p
    var v = 0L
    while (p < to && b(p) >= '0' && b(p) <= '9') {
      if (v <= IntLimit) v = v * 10 + (b(p) - '0')
      p += 1
    }
    val nDigits = p - digits
    while (p < to && isSpace(b(p))) p += 1
    if (p == to && nDigits > 0) {
      val x = if (neg) -v else v
      if (x < Int.MinValue || x > Int.MaxValue) false
      else { row.setInt(i, x.toInt); true }
    } else if (isAscii(b, from, to)) false
    else {
      // `$` also matches before a final U+0085/U+2028/U+2029
      val s = UTF8String.fromBytes(b, from, to - from)
      PgInt.matcher(s.toString).find() && {
        one.update(0, s)
        intCast.eval(one) match {
          case v: Integer => row.setInt(i, v); true
          case _ => false
        }
      }
    }
  }

  /** A plain decimal with a mantissa below 2^24 and at most 10 fraction
    * digits is one correctly rounded float division of two exact floats
    * — the value `Float.parseFloat` (the cast) returns; anything else
    * goes to the cast itself.
    */
  private def putFloat(i: Int, b: Array[Byte], from: Int,
                       to: Int): Boolean = {
    var p = from
    val neg = b(p) == '-'
    if (b(p) == '-' || b(p) == '+') p += 1
    var m = 0L
    var nDigits = 0
    var dot = -1
    var plain = true
    while (plain && p < to) {
      val c = b(p)
      if (c >= '0' && c <= '9') {
        m = m * 10 + (c - '0')
        nDigits += 1
        plain = m < FloatExact
      } else if (c == '.' && dot < 0) dot = p
      else plain = false
      p += 1
    }
    val scale = if (dot < 0) 0 else to - dot - 1
    if (plain && nDigits > 0 && scale < Pow10.length) {
      val f = m.toFloat / Pow10(scale)
      row.setFloat(i, if (neg) -f else f)
      true
    } else {
      one.update(0, UTF8String.fromBytes(b, from, to - from))
      floatCast.eval(one) match {
        case v: java.lang.Float => row.setFloat(i, v); true
        case _ => false
      }
    }
  }

  /** Canonical `dddd/dd/dd` in 1600-9999 is a proleptic Gregorian date in
    * every parser policy; other shapes go to `ParseToDate`.
    */
  private def putDate(i: Int, b: Array[Byte], from: Int,
                      to: Int): Boolean = {
    def d(k: Int): Int = {
      val c = b(from + k) - '0'
      if (c >= 0 && c <= 9) c else -100000
    }
    if (to - from == 10 && b(from + 4) == '/' && b(from + 7) == '/') {
      val y = d(0) * 1000 + d(1) * 100 + d(2) * 10 + d(3)
      val mo = d(5) * 10 + d(6)
      val day = d(8) * 10 + d(9)
      if (y >= 1600 && mo >= 1 && mo <= 12 && day >= 1 &&
          day <= monthLength(y, mo)) {
        row.setInt(i, epochDay(y, mo, day))
        return true
      }
    }
    one.update(0, UTF8String.fromBytes(b, from, to - from))
    dateParse.eval(one) match {
      case v: Integer => row.setInt(i, v); true
      case _ => false
    }
  }
}

object Sbs1Kernel {
  /** The 22 typed SBS-1 fields; all nullable, like the formulation's. */
  val Schema: StructType = StructType(
    AdsbSchema.schema.fields.take(AdsbSchema.sbs1Fields.length)
      .map(_.copy(nullable = true)))

  private val Arity = Schema.length
  private val KString = 0
  private val KInt = 1
  private val KFloat = 2
  private val KDate = 3
  private val Kinds: Array[Int] = Schema.fields.map(_.dataType match {
    case IntegerType => KInt
    case FloatType => KFloat
    case DateType => KDate
    case _ => KString
  })
  /** The NOT NULL constraint columns of the reference table. */
  private val Required: Array[Boolean] =
    AdsbSchema.schema.fields.take(Arity).map(!_.nullable)

  private val DateFormat = "yyyy/MM/dd"
  private val CrEnd = Pattern.compile("\r$")
  private val PgInt = Pattern.compile("^\\s*[+-]?\\d+\\s*$")
  private val IntLimit = 1L << 31
  private val FloatExact = 1L << 24
  private val Pow10: Array[Float] = Array(1f, 1e1f, 1e2f, 1e3f, 1e4f, 1e5f,
    1e6f, 1e7f, 1e8f, 1e9f, 1e10f)

  /** Java regex `\s`: space, \t, \n, \u000B, \f, \r. */
  private def isSpace(c: Byte): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  private def isAscii(b: Array[Byte], from: Int, to: Int): Boolean = {
    var p = from
    while (p < to && b(p) >= 0) p += 1
    p == to
  }

  private def monthLength(y: Int, m: Int): Int = m match {
    case 2 => if ((y % 4 == 0 && y % 100 != 0) || y % 400 == 0) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** Days since 1970-01-01 of a proleptic Gregorian date, y ≥ 1. */
  private def epochDay(y: Int, m: Int, d: Int): Int = {
    val yy = if (m <= 2) y - 1 else y
    val era = yy / 400
    val yoe = yy - era * 400
    val doy = (153 * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    era * 146097 + yoe * 365 + yoe / 4 - yoe / 100 + doy - 719468
  }

  /** Reusable zero-or-one row iterator. */
  private final class OneRow(row: InternalRow)
    extends scala.collection.AbstractIterator[InternalRow] {
    var pending = false
    override def hasNext: Boolean = pending
    override def next(): InternalRow = {
      if (!pending) Iterator.empty.next()
      pending = false
      row
    }
  }
}

/** `sbs1_parse(line)`: a generator yielding the 22 typed SBS-1 fields of
  * a raw line, or no row when the reference would drop it. Dates that
  * need Spark's parser resolve in `timeZoneId` (the session zone). As a
  * generator it is evaluated exactly once per line, and no predicate on
  * its output can be pushed beneath it and re-evaluate it (a nullable
  * struct plus `Filter` would be inlined into the pushed filter and every
  * field access). Codegen keeps one [[Sbs1Kernel]] per generated
  * iterator and feeds `GenerateExec` its reusable 0-or-1-row iterator.
  */
case class Sbs1Parse(child: Expression, timeZoneId: String)
  extends UnaryExpression with Generator {

  @transient private lazy val zoneId = DateTimeUtils.getZoneId(timeZoneId)

  override def elementSchema: StructType = Sbs1Kernel.Schema

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"sbs1_parse requires string input, got $t")
    }

  override def prettyName: String = "sbs1_parse"

  @transient private lazy val evalKernel =
    ThreadLocal.withInitial[Sbs1Kernel](() => new Sbs1Kernel(zoneId))

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    evalKernel.get()
      .rows(child.eval(input).asInstanceOf[UTF8String])
      .map(_.copy()).toList

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernelClass = classOf[Sbs1Kernel].getName
    val zone = ctx.addReferenceObj("zoneId", zoneId, classOf[ZoneId].getName)
    val kernel = ctx.addMutableState(kernelClass, "sbs1Kernel",
      v => s"$v = new $kernelClass($zone);", forceInline = true)
    val line = child.genCode(ctx)
    ev.copy(code =
      code"""
         |${line.code}
         |scala.collection.Iterator ${ev.value} =
         |  $kernel.rows(${line.isNull} ? null : ${line.value});
       """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): Sbs1Parse = copy(child = newChild)
}
