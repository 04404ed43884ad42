package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.sources.Sbs1

/** Differential parity of the single-pass parse kernel
  * ([[graft.functions.Sbs1Parse]]) against the expression pipeline it
  * replaced ([[Sbs1Oracle]]): the same output schema and, line for line,
  * the same kept/dropped decision and the same typed values — floats
  * compared by their bits — in generated code and interpreted alike.
  * Any semantic the kernel cannot match is a failing line here.
  */
class Sbs1KernelSpec extends SparkSpec {
  import sqlImplicits._

  private val base = Seq("MSG", "3", "496", "211", "4CA2D6", "10057",
    "2008/11/28", "14:53:50.594", "2008/11/28", "14:58:51.153", "RJA1118",
    "37000", "120", "259", "51.45735", "-1.02826", "-64", "0271", "0", "0",
    "0", "0")

  /** Java `\s` whitespace, other Unicode spaces, line terminators. */
  private val spaces = Seq(" ", "\t", "\n", "\u000B", "\f", "\r", "\u0085",
    "\u2028", "\u2029", "\u00A0", "\u2007", "\u3000", "\r\n")
  /** Edge tokens for every column kind: signs, non-ASCII digits, int
    * overflow, float syntaxes the cast accepts, broken dates, non-BMP
    * and lone-surrogate text.
    */
  private val tokens = Seq("", "0", "-0", "+0", "+", "-", "--1", "+-1",
    "007", "12a", "٣", "７", "1٣", "৫৫",
    "2147483647", "2147483648", "-2147483648", "-2147483649", "99999999999",
    "00000000000000000012", "1.5", "288.6", "1e5", "1E-3", "-2.5e+2",
    "NaN", "nan", "-NaN", "inf", "+inf", "-inf", "Infinity", "-Infinity",
    "INF", "0x1p3", "0x1.8p1", "-0x10", "1.5f", "2d", "3F", ".5", "5.", ".",
    "-0.0", "3.4028236e38", "1e-46", "16777215", "16777216", "16777217",
    "123456789.125", "0.1234567890123", "51.4573500", "0.0000000001",
    "2024/02/29", "2023/02/29", "2024/02/30", "2024/2/1", "2024/01/1",
    "2024/13/01", "2024/00/10", "1600/01/01", "1599/12/31", "0001/01/01",
    "0000/01/01", "12024/01/01", "+2024/01/01", "2024-01-01",
    "2024/01/01 00:00", "😀", "\uD83D", "é", "x,y")
  private val kinds = Seq(1, 4, 6, 7, 8, 10, 11, 14, 16, 21)
  private val endings = Seq("", "\r", "\r\r", "\r ", "\r\n", "\r\r\n",
    "\r\u0085", "\r\u2028", "\n", " \r", "\r\r\r")

  /** Every token, bare and padded, in each column kind; every ending. */
  private val systematic: Seq[String] = {
    val padded = tokens ++ (for {
      t <- Seq("5", "-12", "51.5", "2024/01/05", "x"); s <- spaces
      v <- Seq(s + t, t + s, s + t + s)
    } yield v)
    val placed = for (t <- padded; k <- kinds) yield
      base.updated(k, t).mkString(",")
    val ended = for (e <- endings; l <- Sbs1.sampleLines :+ base.mkString(","))
      yield l + e
    placed ++ ended
  }

  /** Fixed-seed random lines: a valid base mutated 1-4 times by tokens,
    * padding, field drops/additions, emptied NOT NULL fields, endings.
    */
  private val generated: Seq[String] = {
    val token = Gen.oneOf(tokens ++ spaces)
    val mutate: Seq[String] => Gen[Seq[String]] = f => Gen.oneOf(
      for (i <- Gen.choose(0, f.length - 1); t <- token) yield f.updated(i, t),
      for (i <- Gen.choose(0, f.length - 1); s <- Gen.oneOf(spaces))
        yield f.updated(i, s + f(i) + s),
      Gen.const(f.dropRight(1)),
      Gen.const(f :+ ""),
      for (i <- Gen.oneOf(1, 4, 6, 7)) yield f.updated(i, ""),
      for (e <- Gen.oneOf(endings)) yield f.updated(f.length - 1,
        f.last + e))
    def line(n: Int, f: Seq[String]): Gen[Seq[String]] =
      if (n == 0) Gen.const(f) else mutate(f).flatMap(line(n - 1, _))
    val gen = for {
      n <- Gen.choose(1, 4)
      f <- line(n, base)
    } yield f.mkString(",")
    Gen.listOfN(3000, gen).pureApply(Gen.Parameters.default, Seed(20240229L))
  }

  /** Each output row rendered exactly: strings by their UTF-8 bytes (a
    * collected Java string would hide malformed bytes), floats by their
    * bit pattern.
    */
  private def rendered(df: DataFrame): Map[Long, String] =
    df.select(df.schema.fields.map {
      case f if f.dataType.isInstanceOf[StringType] => hex(col(f.name))
      case f => col(f.name)
    }.toSeq: _*).collect().map { r =>
      r.getTimestamp(r.length - 1).getTime / 1000 ->
        r.toSeq.map {
          case f: java.lang.Float =>
            "f" + java.lang.Float.floatToRawIntBits(f)
          case v => String.valueOf(v)
        }.mkString("|")
    }.toMap

  /** parsed_time carries the line index, so rows pair up line for line. */
  private def assertParity(raw: DataFrame, lines: Int): Unit = {
    val stamp = timestamp_seconds(col("i"))
    val kernel = Sbs1.parse(raw, parsedTime = stamp)
    val oracle = Sbs1Oracle.parse(raw, parsedTime = stamp)
    assert(kernel.schema === oracle.schema)
    val (k, o) = (rendered(kernel), rendered(oracle))
    val bad = (0L until lines).filter(i => k.get(i) != o.get(i))
    val lineOf = raw.collect().map(r => r.getAs[Long]("i") -> r.get(0)).toMap
    assert(bad.isEmpty, s"${bad.size} of $lines lines differ, e.g.:\n" +
      bad.take(8).map { i =>
        val l = String.valueOf(lineOf(i)).flatMap {
          case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04X"
          case c => c.toString
        }
        s"  $l\n    kernel: ${k.get(i)}\n    oracle: ${o.get(i)}"
      }.mkString("\n"))
  }

  private def linesDF(lines: Seq[String]): DataFrame =
    lines.zipWithIndex.map { case (l, i) => (l, i.toLong) }.toDF("value", "i")

  private def bothModes(body: => Unit): Unit = {
    body
    val keys = Seq("spark.sql.codegen.wholeStage",
      "spark.sql.codegen.factoryMode")
    val prev = keys.map(spark.conf.getOption)
    spark.conf.set(keys(0), "false")
    spark.conf.set(keys(1), "NO_CODEGEN")
    try body
    finally keys.zip(prev).foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("README sample lines: kernel == expression pipeline") {
    bothModes(assertParity(linesDF(Sbs1.sampleLines), 14))
  }

  test("every edge token in every column kind, every line ending") {
    bothModes(assertParity(linesDF(systematic), systematic.length))
  }

  test("fixed-seed generated corpus: kernel == expression pipeline") {
    val kept = Sbs1.parse(linesDF(generated)).count()
    assert(kept > generated.length / 10 && kept < generated.length * 9 / 10,
      s"the corpus must exercise both gates: $kept of ${generated.length} kept")
    bothModes(assertParity(linesDF(generated), generated.length))
  }

  test("malformed UTF-8 and NULL lines: kernel == expression pipeline") {
    val bytes: Seq[Array[Byte]] = Seq(
      base.updated(10, "AB\u00FFCD").mkString(",").getBytes("ISO-8859-1"),
      (base.mkString(",") + "\r").getBytes("ISO-8859-1") ++
        Array[Byte](-61),
      base.updated(4, "4C\u00C3").mkString(",").getBytes("ISO-8859-1"),
      base.updated(11, "5\u00C2\u0085").mkString(",").getBytes("ISO-8859-1"),
      null)
    val raw = bytes.zipWithIndex.map { case (b, i) => (b, i.toLong) }
      .toDF("b", "i").select(col("b").cast("string").as("value"), col("i"))
    bothModes(assertParity(raw, bytes.length))
  }
}
