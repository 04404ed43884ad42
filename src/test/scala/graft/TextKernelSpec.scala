package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** The tokenization-adjacent kernels
  * (`functions/TextExpressions.scala`) pinned bit-for-bit against the
  * interpreted expression towers they replace, over the real corpus AND
  * the degenerate edges (empty text, space runs, below-width inputs).
  */
class TextKernelSpec extends SparkSpec {
  import sqlImplicits._

  private val corpus = "/root/testdata/sf0.001"

  private val edges = Seq(
    (1L, ""), (2L, " "), (3L, "  "), (4L, "one"),
    (5L, "one two three four"), (6L, "one two three four five"),
    (7L, "one two three four five six"),
    (8L, " leading and  double  spaces trailing "),
    (9L, "a b c d e f g h i j k l m n o p"))

  private def edgeDf: DataFrame = edges.toDF("doc_id", "text")

  private def assertSame(kernel: DataFrame, expr: DataFrame): Unit = {
    val k = kernel.collect().map(_.toSeq)
    val e = expr.collect().map(_.toSeq)
    assert(k.toSeq === e.toSeq)
  }

  test("word_shingles ≡ shingles∘tokens on the corpus and every edge") {
    for (df <- Seq(edgeDf,
        graft.sources.Tables.documents(spark, corpus)
          .select("doc_id", "text"));
        n <- Seq(2, 5)) {
      assertSame(
        df.select(col("doc_id"),
          TextOps.textShingles(col("text"), n).as("sh"))
          .orderBy("doc_id"),
        df.select(col("doc_id"),
          TextOps.shingles(TextOps.tokens(col("text")), n).as("sh"))
          .orderBy("doc_id"))
    }
  }

  test("chunk_stats ≡ the substr/sha2/tokens expression tower, " +
    "including the empty-document single-empty-chunk edge") {
    val (cl, st) = (200, 150)
    def tower(df: DataFrame): DataFrame = {
      val len = length(col("text"))
      val nc = ((len - 1) / lit(st)).cast("long") + 1L
      val chunkCol = (i: Column) => substr(col("text"), i * st + 1L,
        lit(cl))
      val chunks = transform(sequence(lit(0L), nc - 1L), i =>
        struct(i.as("chunk_idx"),
          sha2(chunkCol(i).cast("binary"), 256).as("chunk_sha"),
          length(chunkCol(i)).cast("long").as("chunk_chars"),
          size(TextOps.tokens(chunkCol(i))).cast("long")
            .as("chunk_tokens")))
      df.select(col("doc_id"), explode(chunks).as("c"))
        .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
          col("c.chunk_sha").as("chunk_sha"),
          col("c.chunk_chars").as("chunk_chars"),
          col("c.chunk_tokens").as("chunk_tokens"))
    }
    for (df <- Seq(edgeDf,
        graft.sources.Tables.documents(spark, corpus)
          .select("doc_id", "text"))) {
      assertSame(
        TextOps.chunkDocs(df, cl, st).orderBy("doc_id", "chunk_idx"),
        tower(df).orderBy("doc_id", "chunk_idx"))
    }
    // the empty doc: exactly one chunk of zero chars and ONE token
    // (split -1 tokenizes "" as one empty token) — both engines' shape
    val e = TextOps.chunkDocs(edgeDf.filter(col("doc_id") === 1L),
      cl, st).collect()
    assert(e.length === 1 && e(0).getLong(1) === 0L &&
      e(0).getLong(3) === 0L && e(0).getLong(4) === 1L)
  }

  test("char_grams ≡ the substr transform where defined; empty-array " +
    "guard below k chars (where the unguarded sequence descends)") {
    def towerGrams(c: Column): Column =
      transform(sequence(lit(1), length(c) - 2), i => c.substr(i, lit(3)))
    def kernelGrams(c: Column): Column =
      graft.functions.Kernels.CharGrams.using(3)(c)
    val names = graft.sources.Tables.customer(spark, corpus)
      .select(col("c_custkey").as("id"), col("c_name").as("s"))
      .unionByName(Seq((9001L, "abc"), (9002L, "abcd"),
        (9003L, "ab cd ef")).toDF("id", "s"))
    assertSame(
      names.select(col("id"), kernelGrams(col("s")).as("g")).orderBy("id"),
      names.select(col("id"), towerGrams(col("s")).as("g")).orderBy("id"))
    val short = Seq((1L, ""), (2L, "a"), (3L, "ab")).toDF("id", "s")
      .select(kernelGrams(col("s")).as("g")).collect()
    assert(short.forall(_.getSeq[String](0).isEmpty),
      "below 3 chars the kernel returns the guarded empty array")
  }

  test("the kernels run inside whole-stage codegen — zero " +
    "CodegenFallback, zero planned higher-order functions") {
    val docs = graft.sources.Tables.documents(spark, corpus)
      .select("doc_id", "text")
    Seq(
      "shingleSet" -> docs.select(col("doc_id"),
        TextOps.textShingles(col("text"), 5).as("sh")),
      "chunkDocs" -> TextOps.chunkDocs(docs, 200, 150)
    ).foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CodegenFallback"),
        s"$name must carry no interpreted HOF:\n$p")
      assert(!p.contains("transform(") && !p.contains("aggregate("),
        s"$name must not plan higher-order functions:\n$p")
      // `*(n)` prefixes mark whole-stage-codegen'd operators
      assert(p.contains("*(1)"), s"$name must whole-stage-codegen:\n$p")
    }
  }
}
