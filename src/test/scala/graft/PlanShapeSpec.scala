package graft

import graft.operators.{SimilarityOps, TextOps}
import graft.sources.Tables

/** Physical-plan shape pins for the training-mix operators — the scale
  * claims in SURVEY §2.10 asserted on plans, not taken on faith.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("quantizeInt8 is shuffle-free (fold + posexplode projection)") {
    val p = plan(SimilarityOps.quantizeInt8(Tables.embeddings(spark, dir)))
    assert(!p.contains("Exchange"), s"expected no shuffle:\n$p")
  }

  test("milli-normalize / SQ8 kernels stay in whole-stage codegen — " +
      "zero CodegenFallback in the touched plans (VERDICT r14 item 2)") {
    // the former aggregate/transform higher-order formulations were
    // CodegenFallback; the fused expressions must not be
    val emb = Tables.embeddings(spark, dir)
    Seq(
      "anisotropy" -> SimilarityOps.anisotropyCensus(emb),
      "quantizeInt8" -> SimilarityOps.quantizeInt8(emb),
      "dimVariance" -> SimilarityOps.dimVariance(emb)
    ).foreach { case (name, df) =>
      val p = plan(df)
      assert(!p.contains("CodegenFallback"),
        s"$name must carry no interpreted HOF:\n$p")
      assert(!p.contains("transform(") && !p.contains("aggregate("),
        s"$name must not plan higher-order functions:\n$p")
    }
  }

  test("tokenCounts is shuffle-free (pure projection)") {
    val p = plan(TextOps.tokenCounts(
      Tables.documents(spark, dir).select("doc_id", "text")))
    assert(!p.contains("Exchange"), s"expected no shuffle:\n$p")
  }

  test("packSequences shuffles once, on the shard key") {
    val p = plan(TextOps.packSequences(
      Tables.documents(spark, dir).select("doc_id", "text"), 8, 2048L))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1, s"expected exactly one shard shuffle:\n$p")
    assert(p.contains("hashpartitioning(shard"),
      s"the one shuffle must be on shard:\n$p")
  }

  test("sign-LSH signature stage is shuffle-free (per-row expression)") {
    val p = plan(SimilarityOps.signLshSignatures(
      Tables.embeddings(spark, dir), SimilarityOps.ScaleLshPlanes))
    assert(!p.contains("Exchange"), s"expected no shuffle:\n$p")
    assert(!p.contains("Generate"), s"expected no explode:\n$p")
  }

  test("spearmanCensus: two hash Exchanges (the distinct-user daily " +
    "census), windows confined to SinglePartition over the census") {
    val ev = Tables.events(spark, dir)
      .select("event_id", "user_id", "event_type", "ts", "value")
    val p = plan(graft.operators.RelationalQueries.spearmanCensus(ev))
    val h = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(h === 2, s"expected (day,user)+(day) Exchanges only:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"no global sort anywhere:\n$p")
  }

  test("yuleK: exactly two hash Exchanges ((source,word) census then " +
    "source rollup), no windows, no joins") {
    val p = plan(TextOps.yuleK(Tables.documents(spark, dir)))
    val h = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(h === 2, s"expected two partial-agg'd Exchanges:\n$p")
    assert(!p.contains("Join"), s"expected no join:\n$p")
    assert(!p.contains("Exchange SinglePartition") &&
      !p.contains("rangepartitioning"),
      s"nothing funnels to one partition:\n$p")
  }

  test("spliceCoherence: two hash Exchanges — the doc window's " +
    "partitioning is reused by the distinct and the doc aggregate") {
    val p = plan(TextOps.spliceCoherence(Tables.documents(spark, dir)))
    val h = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(h === 2, s"expected doc + source Exchanges only:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"no global sort anywhere:\n$p")
  }

  test("sampleSplit aggregates with map-side partials") {
    val p = plan(TextOps.sampleSplit(Tables.documents(spark, dir), 80, 10))
    assert(p.contains("partial_count") || p.contains("partial"),
      s"expected partial aggregation before the shuffle:\n$p")
  }

  test("shuffleShard shuffles once, on the shard key (partitioned window)") {
    val p = plan(TextOps.shuffleShard(
      Tables.documents(spark, dir).select("doc_id", "text"), 4))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1, s"expected exactly one shard shuffle:\n$p")
    assert(p.contains("hashpartitioning(shard"),
      s"the one shuffle must be on shard:\n$p")
    assert(!p.contains("Exchange SinglePartition") &&
      !p.contains("rangepartitioning"),
      s"no global ordering anywhere:\n$p")
  }

  test("substringMatches: gram dedup is in the kernel, not a shuffle") {
    // r16: substringMatches eagerly materializes the gram relation
    // (Materialize.shared), so the serving plan reads checkpointed
    // blocks and the kernel lives in the GRAM-STAGE plan — pin each
    // half of the split where it now executes
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val gramPlan = plan(TextOps.gramFirstPositions(docs, 32))
    assert(gramPlan.contains("gram_first_pos"),
      s"kernel expression must be in the gram-stage plan:\n$gramPlan")
    // the raw per-position gram stream must not hit an Exchange keyed
    // by (h, doc_id) — the per-doc reduction happens inside
    // gram_first_pos; the only hash Exchanges are the df cap / join on
    // h and the final pair aggregation
    assert(!"hashpartitioning\\(h#\\d+, doc_id".r
      .findFirstIn(gramPlan).isDefined,
      s"no (h, doc) shuffle — kernel dedup replaces it:\n$gramPlan")
    val p = plan(TextOps.substringMatches(docs, 32, 50L))
    assert(!"hashpartitioning\\(h#\\d+, doc_id".r.findFirstIn(p).isDefined,
      s"no (h, doc) shuffle in the audit stage either:\n$p")
  }

  test("bpeTrain round: one pair-keyed Exchange with map-side partials") {
    val vocab = TextOps.bpeVocab(
      Tables.documents(spark, dir).select("doc_id", "text"))
    val p = plan(TextOps.bpePairCounts(vocab.localCheckpoint()))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1,
      s"a training round shuffles once, on the pair key:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial"),
      s"pair counts must combine map-side before the Exchange:\n$p")
  }

  test("bpeTrain rewrite: zero-shuffle fold projection") {
    val vocab = TextOps.bpeVocab(
      Tables.documents(spark, dir).select("doc_id", "text"))
    val p = plan(TextOps.bpeMergeApplied(vocab.localCheckpoint(), "e", "r"))
    assert(!p.contains("Exchange"), s"expected no shuffle:\n$p")
  }

  test("knnLabelConfusion: top-k pushes down as WindowGroupLimit") {
    val e = Tables.embeddings(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, 10, SimilarityOps.KmRounds)
    val p = plan(SimilarityOps.knnLabelConfusion(e, cents, 5))
    // the scale claim: the rank filter runs map-side BEFORE the (d1)
    // Exchange (partial WindowGroupLimit) and again after (final), so
    // only ~k rows per vector per partition ever shuffle — never the
    // full within-cluster pair stream
    val limits = "WindowGroupLimit".r.findAllIn(p).length
    assert(limits >= 2,
      s"expected partial+final WindowGroupLimit around the Exchange:\n$p")
    assert(p.contains("Partial") && p.contains("Final"),
      s"expected a map-side partial rank limit:\n$p")
  }

  test("coverageCurve: the rank cut pushes down as WindowGroupLimit") {
    val docs = Tables.documents(spark, dir)
    val p = plan(TextOps.coverageCurve(docs))
    // the scale claim: row_number <= maxK runs as a group limit
    // (partial before the source Exchange + final after), so the
    // cumulative window downstream sees <= 1000 rows per source —
    // never the type census
    val limits = "WindowGroupLimit".r.findAllIn(p).length
    assert(limits >= 2,
      s"expected partial+final WindowGroupLimit for the rank cut:\n$p")
  }

  test("mipsTopK: both passes are TakeOrdered, no sort, no real join") {
    val e = Tables.embeddings(spark, dir)
    val p = plan(SimilarityOps.mipsTopK(e, 0L, 10))
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2,
      s"expected seed + final TakeOrderedAndProject:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"MIPS must not shuffle-join or cross-join the corpus:\n$p")
  }

  test("zipfCensusBucketed: census window is PARTITIONED; only the " +
      "bucket carry orders globally; output == flat census") {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    // bucketBits=1 puts freq 1 in bucket 0 and freqs 2-3 in bucket 1
    // even on the tiny fixture, so the two-level path actually splits
    val bucketed = TextOps.zipfCensusBucketed(docs, bucketBits = 1)
    // AdaptiveSparkPlanExec hides its tree from collect(); unwrap it
    val root = bucketed.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val wins = root.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "the census-sized cumulative must run under a bucket-partitioned " +
        "window")
    val global = wins.filter(_.partitionSpec.isEmpty)
    assert(global.length === 1,
      s"exactly one global window (the bucket carry), got " +
        s"${global.length}")
    // row-identical to the flat formulation
    assert(bucketed.collect().map(_.toSeq).toSet ===
      TextOps.zipfCensus(docs).collect().map(_.toSeq).toSet)
  }

  test("zipfCensus: the window runs over the census, not the corpus") {
    val p = plan(TextOps.zipfCensus(
      Tables.documents(spark, dir).select("doc_id", "text")))
    // two partial-agg'd hash Exchanges (word census, then frequency
    // census); the only SinglePartition Exchange feeds the cumulative
    // window over distinct-frequency rows — O(sqrt(T)) by pigeonhole
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx === 2, s"expected word + frequency Exchanges only:\n$p")
    assert(p.contains("partial_count"),
      s"both censuses must combine map-side:\n$p")
    val single = "Exchange SinglePartition".r.findAllIn(p).length
    assert(single === 1,
      s"exactly one census-sized window Exchange:\n$p")
  }

  test("protoPrune: assignment-shaped — one cluster Exchange, no join") {
    val e = Tables.embeddings(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, 10, SimilarityOps.KmRounds)
    val p = plan(SimilarityOps.protoPrune(e, cents, 7, 10))
    assert("FileScan parquet".r.findAllIn(p).length === 1,
      s"the corpus must be scanned exactly once:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1,
      s"both windows must share one cluster-keyed shuffle:\n$p")
    assert(p.contains("hashpartitioning(cluster"),
      s"the one shuffle must be on cluster:\n$p")
    assert(!p.contains("Join"),
      s"no join — this is the NON-pairwise curation op:\n$p")
  }

  test("clusterMargins is shuffle-free (three sibling kernels, one scan)") {
    val e = Tables.embeddings(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, 10, SimilarityOps.KmRounds)
    val p = plan(SimilarityOps.clusterMargins(e, cents, 100000L))
    assert(!p.contains("Exchange"), s"expected a pure projection:\n$p")
    assert("FileScan parquet".r.findAllIn(p).length === 1,
      s"one scan feeds all three kernels:\n$p")
  }

  test("embedDiversity: no pair join, two partial-agg'd Exchanges") {
    val p = plan(SimilarityOps.embedDiversity(
      Tables.embeddings(spark, dir)))
    assert(!p.contains("Join"),
      s"the sum-vector identity must not plan any join:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 2,
      s"expected (label, i) then (label) Exchanges only:\n$p")
    assert(p.contains("partial_sum"),
      s"dimension sums must combine map-side:\n$p")
    assert(!p.contains("Exchange SinglePartition") &&
      !p.contains("rangepartitioning"),
      s"no global ordering anywhere:\n$p")
  }

  test("clusterMix: one linear plan, corpus scanned exactly once") {
    val e = Tables.embeddings(spark, dir)
    val cents = SimilarityOps.kmeansCodebook(e, 10, SimilarityOps.KmRounds)
    val p = plan(SimilarityOps.clusterMix(e, cents, 10))
    assert("FileScan parquet".r.findAllIn(p).length === 1,
      s"the corpus must be scanned exactly once (no self-join of the " +
        s"census):\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1,
      s"expected exactly one cluster-keyed shuffle:\n$p")
    assert(p.contains("hashpartitioning(cluster"),
      s"the one shuffle must be on cluster:\n$p")
    assert(!p.contains("Join"), s"no join anywhere in the plan:\n$p")
  }

  /** The SBS-1 parse kernel runs once per line: one `sbs1_parse`
    * generator, no `split(` left for Catalyst to inline into a pushed
    * filter and every field projection.
    */
  private def assertOneKernel(name: String, optimized: String): Unit = {
    assert("sbs1_parse\\(".r.findAllIn(optimized).length === 1,
      s"$name must evaluate the parse kernel exactly once:\n$optimized")
    assert(!optimized.contains("split("),
      s"$name must not split the line:\n$optimized")
  }

  test("Sbs1.readArchive: one parse kernel, no split, in codegen") {
    val archive = java.nio.file.Files.createTempDirectory("sbs1-plan")
    java.nio.file.Files.writeString(archive.resolve("day.sbs"),
      graft.sources.Sbs1.sampleLines.mkString("", "\n", "\n"))
    val df = graft.sources.Sbs1.readArchive(spark, archive.toString)
    assertOneKernel("readArchive", df.queryExecution.optimizedPlan.toString)
    val p = plan(df)
    assert("\\*\\(\\d+\\) Generate sbs1_parse".r.findFirstIn(p).isDefined,
      s"the kernel must run inside whole-stage codegen:\n$p")
  }

  test("Ingest.stream: one parse kernel, no split") {
    val df = graft.streaming.Ingest.stream(spark, graft.streaming.Ingest
      .Config(host = "localhost", port = 1, sinkDir = "", checkpointDir = ""))
    // a streaming plan cannot be planned as a batch: optimize the
    // analyzed plan directly
    val optimized = spark.asInstanceOf[org.apache.spark.sql.classic
      .SparkSession].sessionState.optimizer.execute(df.queryExecution.analyzed)
    assertOneKernel("Ingest.stream", optimized.toString)
  }
}
