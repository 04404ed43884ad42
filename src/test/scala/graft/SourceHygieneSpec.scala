package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `graft.operators.Materialize` is the only module that pins or unpins
  * a relation: no other main source calls the Dataset/RDD persistence
  * API or clears the session's caches behind its back. And no main
  * source runs driver-side jobs on a thread pool: a sweep is a column
  * of one plan, and a pin's scope is the thread that opened it. And
  * `graft.sources.Bucketed` is the only module that writes a bucketed
  * catalog table. And every streaming operator is a batch step started
  * through `MicroBatches.start` or `Admission.start`, and reads its
  * session from its batch. And every graft SQL function is a kernel bound
  * through `graft.functions.KernelCall`: no main source writes codegen by
  * hand, except the `sbs1_parse` generator in `Sbs1Expressions.scala`.
  */
class SourceHygieneSpec extends AnyFunSuite {

  private val Forbidden = Seq(".cache()", ".persist(", "localCheckpoint(",
    "unpersist(", "clearCache", "getPersistentRDDs")

  // a single dedicated `Thread` (the sbs1 reader) is not a pool
  private val PoolTokens = Seq("Executors\\.", "ExecutionContext\\.from",
    "Future\\(", "\\.par\\b").map(_.r)

  private val TableWrites = Seq(".bucketBy(", "saveAsTable(")

  private val HandCodegen = Seq("doGenCode", "nullSafeEval",
    "nullSafeCodeGen", "defineCodeGen", "addReferenceObj")

  private val StreamRunners =
    Set("MicroBatches.scala", "Admission.scala", "Ingest.scala")

  private def mainSources(keep: Path => Boolean): List[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && keep(p)).toList
    finally walk.close()
  }

  // (file, 1-based line number, line) of every non-comment line
  private def codeLines(files: List[Path]) = for {
    f <- files
    (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
    t = line.trim
    if !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
  } yield (f, i + 1, line)

  test("no pin or unpin outside Materialize.scala (comment lines skipped)") {
    val files =
      mainSources(_.getFileName.toString != "Materialize.scala")
    assert(files.nonEmpty)
    val hits = for {
      (f, n, line) <- codeLines(files)
      token <- Forbidden if line.contains(token)
    } yield s"$f:$n: $token"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("no driver thread pool in any main source, Materialize.scala " +
      "included (comment lines skipped)") {
    val files = mainSources(_ => true)
    assert(files.exists(_.getFileName.toString == "Materialize.scala"))
    val hits = for {
      (f, n, line) <- codeLines(files)
      token <- PoolTokens if token.findFirstIn(line).nonEmpty
    } yield s"$f:$n: $token"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("no bucketBy or saveAsTable outside Bucketed.scala (comment " +
      "lines skipped)") {
    val files = mainSources(_.getFileName.toString != "Bucketed.scala")
    assert(files.nonEmpty)
    val hits = for {
      (f, n, line) <- codeLines(files)
      token <- TableWrites if line.contains(token)
    } yield s"$f:$n: $token"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("no hand-written codegen outside Sbs1Expressions.scala (comment " +
      "lines skipped)") {
    val files =
      mainSources(_.getFileName.toString != "Sbs1Expressions.scala")
    assert(files.nonEmpty)
    val hits = for {
      (f, n, line) <- codeLines(files)
      token <- HandCodegen if line.contains(token)
    } yield s"$f:$n: $token"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  // the signature of the def opening at `text(from)`: up to its `=` at
  // bracket depth 0 (not `=>`, `==`, `<=`, `>=`, `!=`)
  private def signature(text: String, from: Int): String = {
    var depth = 0
    var i = from
    def isDef(j: Int) = text(j) == '=' && depth == 0 &&
      !(j + 1 < text.length && "=>".contains(text(j + 1))) &&
      !(j > 0 && "=<>!".contains(text(j - 1)))
    while (i < text.length && !isDef(i)) {
      if ("([{".contains(text(i))) depth += 1
      else if (")]}".contains(text(i))) depth -= 1
      i += 1
    }
    text.substring(from, i)
  }

  test("streaming operators are batch steps: no own start, no session " +
      "beside the batch (comment lines skipped)") {
    val files =
      mainSources(_.startsWith(Paths.get("src/main/scala/graft/streaming")))
    assert(files.exists(_.getFileName.toString == "MicroBatches.scala"))
    val lines = codeLines(files)
    val starts = for {
      (f, n, line) <- lines
      if line.contains("def start(") &&
        !StreamRunners(f.getFileName.toString)
    } yield s"$f:$n: def start("
    val Def = "\\bdef\\s".r
    val BatchParam = "\\bbatch\\s*:".r
    val sessionBesideBatch = files.flatMap { f =>
      val mine = lines.filter(_._1 == f)
      // the file's code lines joined, with each line's start offset
      val offsets = mine.scanLeft(0)(_ + _._3.length + 1)
      val text = mine.map(_._3).mkString("\n")
      Def.findAllMatchIn(text).map(_.start)
        .filter { at =>
          val sig = signature(text, at)
          sig.contains("SparkSession") && BatchParam.findFirstIn(sig).nonEmpty
        }
        .map(at => s"$f:${mine(offsets.lastIndexWhere(_ <= at))._2}: " +
          "def taking a SparkSession beside its batch")
    }
    val hits = starts ++ sessionBesideBatch
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
