package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `graft.operators.Materialize` is the only module that pins or unpins
  * a relation: no other main source calls the Dataset/RDD persistence
  * API or clears the session's caches behind its back.
  */
class SourceHygieneSpec extends AnyFunSuite {

  private val Forbidden = Seq(".cache()", ".persist(", "localCheckpoint(",
    "unpersist(", "clearCache", "getPersistentRDDs")

  test("no pin or unpin outside Materialize.scala (comment lines skipped)") {
    val root = Paths.get("src/main/scala")
    val files = {
      val walk = Files.walk(root)
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "Materialize.scala")
        .toList
      finally walk.close()
    }
    assert(files.nonEmpty)
    val hits = for {
      f: Path <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      t = line.trim
      if !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
      token <- Forbidden if line.contains(token)
    } yield s"$f:${i + 1}: $token"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
