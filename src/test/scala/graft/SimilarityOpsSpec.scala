package graft

import graft.operators.SimilarityOps

class SimilarityOpsSpec extends SparkSpec {
  import sqlImplicits._

  private def emb(rows: (Long, Seq[Float], Int)*) =
    rows.toDF("vec_id", "embedding", "label")

  private val vecs = emb(
    (0L, Seq(1f, 0f), 0),
    (1L, Seq(0.6f, 0.8f), 0), // cos vs v0 = 0.6
    (2L, Seq(1f, 0f), 1),     // cos vs v0 = 1.0 (exact dup, other label)
    (3L, Seq(0f, 1f), 0),     // cos vs v0 = 0.0
    (4L, Seq(-1f, 0f), 1))    // cos vs v0 = -1.0

  test("annTopK: exact cosines, rank order, ties broken by vec_id") {
    val out = SimilarityOps.annTopK(vecs, 0L, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out === Seq((2L, 1000000L), (1L, 600000L), (3L, 0L)))
  }

  test("mipsTopK: unnormalized ranking, pruning preserves the exact " +
    "result, negative-tau pass is brute force") {
    // long vector v1 must outrank the parallel unit v2 (MIPS, not
    // cosine). k=1, seedPool=2 forces REAL pruning: tau = dot(q,v1) =
    // 3e6 > 0 with a full k seeds, so v2/v3 (qn2*n2 = 1e12 < 9e12)
    // are skipped — correctly, neither can beat 3e6
    val m = emb(
      (0L, Seq(1f, 0f), 0),      // query
      (1L, Seq(3f, 0f), 0),      // dot 3,000,000
      (2L, Seq(1f, 0f), 0),      // dot 1,000,000
      (3L, Seq(0f, 1f), 0))      // dot 0
    val top1 = SimilarityOps.mipsTopK(m, 0L, 1, seedPool = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(top1 === Seq((1L, 3000000L)))
    // seedPool < k is clamped up to k so the bar stays backed by a
    // full k seeds — v2 belongs to top-2 and must survive (tau = 1e6,
    // v3 sits exactly AT the bound qn2*n2 = tau^2 and is kept: only
    // strictly-below is provably safe to skip)
    val out = SimilarityOps.mipsTopK(m, 0L, 2, seedPool = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out === Seq((1L, 3000000L), (2L, 1000000L)))
    // all dots negative -> tau < 0 -> vacuous bound, still exact
    val neg = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(-2f, 0f), 0),     // dot -2,000,000
      (2L, Seq(-1f, 0f), 0))     // dot -1,000,000
    val outNeg = SimilarityOps.mipsTopK(neg, 0L, 2, seedPool = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(outNeg === Seq((2L, -1000000L), (1L, -2000000L)))
  }

  test("mipsTopK equals brute force on the real corpus") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = SimilarityOps.mipsTopK(e, 0L, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // independent brute force over collected milli vectors
    val all = e.collect().map(r => (r.getAs[Long]("vec_id"),
      r.getAs[Seq[Float]]("embedding")
        .map(v => math.floor(v.toDouble * 1000.0).toLong).toArray))
    val q = all.find(_._1 == 0L).get._2
    val brute = all.filter(_._1 != 0L)
      .map { case (id, v) =>
        (id, v.zip(q).map { case (a, b) => a * b }.sum) }
      .sortBy { case (id, d) => (-d, id) }.take(10)
    assert(out.toSeq === brute.toSeq)
  }

  test("pcaPower: converges to the dominant axis on an exact integer " +
    "trajectory; deterministic across reruns") {
    // 3 vectors on the x-axis (milli 2000) vs 1 on y (milli 1000):
    // C = diag(1.2e7, 1e6); the minor component decays 83 -> 6 -> 0
    // over the rescale rounds, the dominant pins at 1000
    val m = emb(
      (0L, Seq(2f, 0f), 0), (1L, Seq(2f, 0f), 0), (2L, Seq(2f, 0f), 0),
      (3L, Seq(0f, 1f), 0))
    val out = SimilarityOps.pcaPower(m).orderBy("dim").collect()
      .map(r => (r.getAs[Long]("dim"), r.getAs[Long]("x")))
    assert(out.toSeq === Seq((0L, 1000L), (1L, 0L)))
    val again = SimilarityOps.pcaPower(m).orderBy("dim").collect()
      .map(r => (r.getAs[Long]("dim"), r.getAs[Long]("x")))
    assert(again.toSeq === out.toSeq)
  }

  test("normCensus: integer floor-division buckets, shares") {
    val m = emb(
      (0L, Seq(1f, 0f), 0),   // n2 = 1e6 -> bucket 0
      (1L, Seq(3f, 0f), 0),   // n2 = 9e6 -> bucket 2
      (2L, Seq(0f, 0f), 0))   // n2 = 0   -> bucket 0
    val out = SimilarityOps.normCensus(m).orderBy("bucket").collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("lo"),
        r.getAs[Long]("n"), r.getAs[Long]("frac_micro")))
    assert(out.toSeq === Seq(
      (0L, 0L, 2L, 666666L),
      (2L, 8000000L, 1L, 333333L)))
  }

  test("dimVariance: constant dimension reads exactly zero and dead, " +
    "hand-computed milli variance") {
    val m = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(1f, 1f), 0))
    val out = SimilarityOps.dimVariance(m).orderBy("dim").collect()
      .map(r => (r.getAs[Long]("dim"), r.getAs[Long]("n"),
        r.getAs[Long]("s"), r.getAs[Long]("s2"),
        r.getAs[Long]("mean_milli_micro"), r.getAs[Long]("var_micro"),
        r.getAs[Boolean]("is_dead")))
    // dim0: both 1000 -> var 0, dead; dim1: 0/1000 -> mean 500,
    // var = 500000 - 250000 = 250000 milli^2
    assert(out.toSeq === Seq(
      (0L, 2L, 2000L, 2000000L, 1000000000L, 0L, true),
      (1L, 2L, 1000L, 1000000L, 500000000L, 250000000000L, false)))
  }

  test("labelBalance: shares, max share, normalized entropy; " +
    "single-label case reads zero by convention") {
    // labels: 0 x3, 1 x1 -> shares 750000/250000, max 750000
    // Hnorm = [micro(.75*ln(4/3)/ln2) + micro(.25*ln4/ln2)]
    val m = emb(
      (0L, Seq(1f, 0f), 0), (1L, Seq(1f, 0f), 0), (2L, Seq(1f, 0f), 0),
      (3L, Seq(1f, 0f), 1))
    val out = SimilarityOps.labelBalance(m).orderBy("label").collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Long]("n"),
        r.getAs[Long]("share_micro"), r.getAs[Long]("n_labels"),
        r.getAs[Long]("maxshare_micro"), r.getAs[Long]("hnorm_micro")))
    def t(n: Double, tt: Double, l: Double): Long =
      math.floor(1000000.0 *
        ((n / tt) * math.log(tt / n) / math.log(l))).toLong
    val h = t(3, 4, 2) + t(1, 4, 2)
    assert(out.toSeq === Seq(
      (0, 3L, 750000L, 2L, 750000L, h),
      (1, 1L, 250000L, 2L, 750000L, h)))
    val single = SimilarityOps.labelBalance(emb((0L, Seq(1f), 7)))
      .collect().head
    assert(single.getAs[Long]("hnorm_micro") === 0L)
    assert(single.getAs[Long]("maxshare_micro") === 1000000L)
  }

  test("embedNearDupPairs respects label blocking") {
    val out = SimilarityOps.embedNearDupPairs(vecs, 500000L)
      .orderBy("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("cos_micro")))
    // v0/v2 are identical but in different labels -> never compared;
    // label-0 pairs above 0.5: (v0,v1) cos 0.6 and (v1,v3) cos 0.8
    // (799999: float32 inputs put the double a hair under 0.8)
    assert(out === Seq((0L, 1L, 600000L), (1L, 3L, 799999L)))
  }

  test("annIvfWith assigns to nearest centroid and probes top clusters") {
    // explicit milli-integer codebook: c0 = [1,0], c1 = [.6,.8]
    val cents = Array(Array(1000L, 0L), Array(600L, 800L))
    val out = SimilarityOps.annIvfWith(vecs, 0L, cents, 2, 5).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("cluster"),
        r.getAs[Long]("cos_micro")))
    val byId = out.map(o => o._1 -> o).toMap
    assert(byId(2L)._2 === 0L, "duplicate of v0 clusters to centroid 0")
    assert(byId(2L)._3 === 1000000L)
    assert(byId(3L)._2 === 1L, "[0,1] is closer to [.6,.8] than [1,0]")
    // ranking: cos desc with vec_id tiebreak
    assert(out.map(_._1).toSeq === Seq(2L, 1L, 3L, 4L))
  }

  test("annIvf assignment is a zero-shuffle literal-codebook projection") {
    // the codebook lives as literals inside the assignment expression:
    // no centroid join, no per-vector aggregation, no window — the only
    // allowed exchanges are the broadcast of the single-row query side
    val cents = Array(Array(1000L, 0L), Array(600L, 800L))
    val plan = SimilarityOps.annIvfWith(vecs, 0L, cents, 2, 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"no window operator expected:\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"no assignment aggregation expected:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"no shuffle expected:\n$plan")
  }

  test("kmeansCodebook: deterministic, and rounds=0 gives the md5 seeds") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.sources.Tables.embeddings(spark, dir)
    val a = SimilarityOps.kmeansCodebook(e, 10, 2)
    val b = SimilarityOps.kmeansCodebook(e, 10, 2)
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    // untrained codebook = the md5-ranked seed vectors themselves
    val seeds = SimilarityOps.kmeansCodebook(e, 10, 0)
    import org.apache.spark.sql.functions._
    val expect = e
      .withColumn("h", graft.functions.Hashing.md5Long(
        concat(lit("km:"), col("vec_id").cast("string"))))
      .orderBy("h", "vec_id").limit(10)
      .select(transform(col("embedding"),
        v => floor(v.cast("double") * lit(1000.0))))
      .collect().map(_.getSeq[Long](0))
    assert(seeds.map(_.toSeq).toSeq === expect.map(_.toSeq).toSeq)
  }

  test("kmeans_assign: codegen and interpreted paths agree") {
    import graft.functions.KmeansAssign.kmeansAssign
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = SimilarityOps.kmeansCodebook(e, 10, 1)
    val df = e.select(kmeansAssign(org.apache.spark.sql.functions
      .col("embedding"), cents))
    val withCodegen = df.collect()
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interpreted = df.collect()
      assert(withCodegen.map(_.getLong(0)).toSeq ===
        interpreted.map(_.getLong(0)).toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("trained codebook recall >= untrained-seed codebook recall") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.sources.Tables.embeddings(spark, dir)
    val exact = SimilarityOps.annTopK(e, 0L, 10).collect()
      .map(_.getLong(0)).toSet
    def recall(rounds: Int): Double = {
      val got = SimilarityOps.annIvf(e, 0L, 10, 3, 10, rounds).collect()
        .map(_.getLong(0)).toSet
      (got & exact).size.toDouble / exact.size
    }
    val (r0, rTrained) = (recall(0), recall(SimilarityOps.KmRounds))
    assert(rTrained >= r0,
      s"Lloyd training must not lose recall: trained=$rTrained seeds=$r0")
    assert(rTrained > 0.0, "IVF must find some of the true top-k")
  }

  test("quantizeInt8: absmax scaling, floor semantics, zero-vector guard") {
    val out = SimilarityOps.quantizeInt8(emb(
        (0L, Seq(1f, -0.5f), 0),
        (1L, Seq(0f, 0f), 0)))
      .orderBy("vec_id", "i").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out === Seq(
      (0L, 1L, 127L, 1000000L),   // 1.0 * 127 / 1.0 = 127
      (0L, 2L, -64L, 1000000L),   // floor(-63.5) = -64
      (1L, 1L, 0L, 0L),           // zero vector -> q = 0, scale 0
      (1L, 2L, 0L, 0L)))
  }

  test("sq8FidelityCensus: hand-computed integer parts, buckets, " +
      "zero-vector exclusion, lexicographic worst exemplar") {
    // hand-computed (milli × int8 integer cosine):
    //  v0 [0.5, 0.5]    → parts (127000, 500000, 32258) → fid 10⁶,
    //    bucket 0 (codes perfectly aligned)
    //  v1 [0.25, -0.75] → (105750, 625000, 17893) → fid 999997,
    //    bucket 1 (loss 3)
    //  v2 [0.001, 1.0]  → (127000, 1000001, 16129) → fid 999999,
    //    bucket 1 (loss 1) — ties into v1's bucket; min-fid exemplar
    //    must be v1 (fid 999997 < 999999)
    //  v3 [0, 0]        → sm = 0, EXCLUDED
    val out = SimilarityOps.sq8FidelityCensus(emb(
        (0L, Seq(0.5f, 0.5f), 0),
        (1L, Seq(0.25f, -0.75f), 0),
        (2L, Seq(0.001f, 1f), 0),
        (3L, Seq(0f, 0f), 0)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.toSeq === Seq(
      (0L, 1L, 1000000L, 1000000L, 1000000L, 0L, 1000000L),
      (1L, 2L, 999997L, 999999L, 1999996L, 1L, 999998L)))
  }

  test("signLshPairs: identical vectors always collide; verified cosine exact") {
    // v0 == v5 (identical, all 16 sign bits equal -> every band matches);
    // the rest are axis-aligned and orthogonal-ish
    val vecs64 = emb(
      (0L, Seq.tabulate(64)(i => (i % 7 - 3).toFloat / 3f), 0),
      (5L, Seq.tabulate(64)(i => (i % 7 - 3).toFloat / 3f), 1),
      (7L, Seq.tabulate(64)(i => if (i == 0) 1f else 0f), 2))
    val out = SimilarityOps.signLshPairs(vecs64, 16, 4, 900000L)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("cos_micro")))
    assert(out.toSeq === Seq((0L, 5L, 1000000L)),
      s"identical pair must be found with cosine exactly 1: ${out.toSeq}")
  }

  test("annRecall: dense grid, monotone in nProbe, exact at full probe") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = SimilarityOps.kmeansCodebook(e, 10, SimilarityOps.KmRounds)
    val out = SimilarityOps.annRecall(e, 3L, cents, Seq(1, 3, 10), 10)
      .orderBy("query_id", "nprobe").collect()
    assert(out.length === 9, "3 queries x 3 probe widths, zero-filled")
    out.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val recalls = rows.sortBy(_.getLong(1)).map(_.getAs[Long]("recall_micro"))
      assert(recalls.zip(recalls.tail).forall(p => p._1 <= p._2),
        s"recall must be monotone in nProbe for query $q: ${recalls.toSeq}")
      assert(recalls.last === 1000000L,
        s"probing every cluster is brute force (query $q): ${recalls.toSeq}")
    }
    // hits/k wiring: recall_micro is exactly micro(hits / k)
    assert(out.forall(r =>
      r.getAs[Long]("recall_micro") === r.getAs[Long]("hits") * 100000L))
  }

  test("annRecallSampled: sample-covers-corpus case equals full-truth " +
    "recall exactly; Wilson band behaves at the anchors") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = e.count()
    val cents = SimilarityOps.kmeansCodebook(e, 10, SimilarityOps.KmRounds)
    val k = 10
    val probes = Seq(1, 3, 10)
    // full-truth reference: annRecall over EVERY vector as a query
    val full = SimilarityOps.annRecall(e, n + 1, cents, probes, k)
      .groupBy("nprobe")
      .agg(org.apache.spark.sql.functions.sum("hits").as("hits"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("nq"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // (1) sample >= corpus: the sampled estimate IS full-truth recall
    val whole = SimilarityOps
      .annRecallSampled(e, n.toInt + 5, cents, probes, k)
      .orderBy("nprobe").collect()
    whole.foreach { r =>
      val (fh, fq) = full(r.getLong(0))
      assert(r.getAs[Long]("n_queries") === fq)
      assert(r.getAs[Long]("hits") === fh,
        s"pooled hits must equal full-truth hits at nprobe ${r.getLong(0)}")
      assert(r.getAs[Long]("trials") === fq * k)
      assert(r.getAs[Long]("recall_micro") ===
        math.floor(1e6 * (fh.toDouble / (fq * k))).toLong)
    }
    // (2) a genuine sample: interval brackets the point estimate,
    // CONTAINS the full-truth pooled recall at every probe width on
    // this corpus, hits monotone in nProbe, exact anchor at full probe
    val sampled = SimilarityOps
      .annRecallSampled(e, 10, cents, probes, k)
      .orderBy("nprobe").collect()
    assert(sampled.map(_.getAs[Long]("hits")).toSeq ===
      sampled.map(_.getAs[Long]("hits")).sortBy(identity).toSeq)
    // Wilson endpoint float wobble: at p-hat = 1 the exact upper
    // bound is (1 + z^2/n)/(1 + z^2/n) = 1, but the numerator and
    // denominator round DIFFERENTLY (half's sqrt path vs the direct
    // z^2/n), so the computed ratio can land one ulp under 1 and
    // micro-floor to 999999 — deterministic and identical on both
    // engines (the oracle hash-matches), just not the exact endpoint;
    // the band claims below carry a one-micro slack for exactly this
    sampled.foreach { r =>
      val (lo, mid, hi) = (r.getAs[Long]("lo_micro"),
        r.getAs[Long]("recall_micro"), r.getAs[Long]("hi_micro"))
      assert(lo <= mid && mid <= hi + 1L)
      val (fh, fq) = full(r.getLong(0))
      val fullRecall = (1e6 * fh.toDouble / (fq * k)).toLong
      assert(lo <= fullRecall && fullRecall <= hi + 1L,
        s"Wilson band must contain full-truth recall at nprobe " +
          s"${r.getLong(0)}: [$lo, $hi] vs $fullRecall")
    }
    val anchor = sampled.last
    assert(anchor.getLong(0) === 10L)
    assert(anchor.getAs[Long]("recall_micro") === 1000000L,
      "probing every cluster is brute force")
    assert(anchor.getAs[Long]("hi_micro") >= 999999L)
    assert(anchor.getAs[Long]("lo_micro") < 1000000L)
  }

  test("clusterMix: shares and weights from the assignment census") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = e.count()
    val nc = 10
    val cents = SimilarityOps.kmeansCodebook(e, nc, SimilarityOps.KmRounds)
    val out = SimilarityOps.clusterMix(e, cents, nc).collect()
    assert(out.map(_.getAs[Long]("n_vecs")).sum === n,
      "every vector lands in exactly one cluster")
    out.foreach { r =>
      val nv = r.getAs[Long]("n_vecs")
      assert(r.getAs[Long]("share_micro") ===
        math.floor(1e6 * (nv.toDouble / n)).toLong)
      assert(r.getAs[Long]("weight_micro") ===
        math.floor(1e6 * (n.toDouble / (nc.toLong * nv))).toLong,
        "weight = uniform target share / actual share")
    }
    // balanced-mixture identity: share * weight = 1/nc in exact math
    // (micro floors make it approximate here); spot-check the bound
    out.foreach { r =>
      val prod = r.getAs[Long]("share_micro").toDouble *
        r.getAs[Long]("weight_micro") / 1e12
      assert(math.abs(prod - 1.0 / nc) < 0.01,
        s"share x weight should approximate 1/$nc, got $prod")
    }
  }

  test("pqEncode assigns per-subspace codes; pqAdcTopK ranks by exact " +
    "integer table lookups") {
    // 4 dims, 2 subspaces of 2; books in milli units
    val e = emb(
      (0L, Seq(1f, 0f, 0f, 1f), 0),     // query
      (1L, Seq(1f, 0f, 0f, 1f), 0),     // exact copy -> top adc
      (2L, Seq(0f, 1f, 0f, 1f), 0),     // half match
      (3L, Seq(0f, 1f, 1f, 0f), 0))     // anti-aligned per subspace
    val books = Seq(
      Array(Array(1000L, 0L), Array(0L, 1000L)),  // sub 0: c0=[1,0], c1=[0,1]
      Array(Array(0L, 1000L), Array(1000L, 0L)))  // sub 1: c0=[0,1], c1=[1,0]
    val codes = SimilarityOps.pqEncode(e, books, 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("code0"),
        r.getAs[Long]("code1")))
    assert(codes.toSeq === Seq((0L, 0L, 0L), (1L, 0L, 0L),
      (2L, 1L, 0L), (3L, 1L, 1L)))
    // query milli vec = [1000,0,0,1000]; LUTs: sub0 c0 dot = 1e6,
    // c1 = 0; sub1 c0 = 1e6, c1 = 0 -> adc: v1 = 2e6, v2 = 1e6, v3 = 0
    val top = SimilarityOps.pqAdcTopK(e, books, 2, 0L, 3).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("adc")))
    assert(top.toSeq === Seq((1L, 2000000L), (2L, 1000000L), (3L, 0L)))
  }

  test("pqCodebooks trains independent subspace books that round-trip " +
    "through encode") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val books = SimilarityOps.pqCodebooks(e, 4, 16, 8)
    assert(books.length === 4)
    assert(books.forall(_.length === 8))
    assert(books.forall(_.forall(_.length === 16)))
    // books differ across subspaces (values, not just ids)
    assert(books.map(_.head.toSeq).distinct.length === 4)
    // trained side by side, each book is still its own slice's codebook
    books.zipWithIndex.foreach { case (book, j) =>
      val alone = SimilarityOps.kmeansCodebook(e.select(
        org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.slice(
          org.apache.spark.sql.functions.col("embedding"), j * 16 + 1, 16)
          .as("embedding")), 8, SimilarityOps.KmRounds)
      assert(book.map(_.toSeq).toSeq === alone.map(_.toSeq).toSeq,
        s"subspace $j")
    }
    val codes = SimilarityOps.pqEncode(e, books, 16)
    assert(codes.columns.toSeq ===
      Seq("vec_id", "code0", "code1", "code2", "code3"))
    val rng = codes.agg(
      org.apache.spark.sql.functions.min("code0"),
      org.apache.spark.sql.functions.max("code3")).head()
    assert(rng.getLong(0) >= 0L && rng.getLong(1) <= 7L)
  }

  test("pqRerankTopK: full shortlist degenerates to exact annTopK; " +
      "narrow shortlist reranks by exact cosine") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = e.count().toInt
    val books = SimilarityOps.pqCodebooks(e, 4, 16, 8)
    // shortlist = corpus: ADC cannot exclude anyone, so the rerank IS
    // the exact ranking
    val full = SimilarityOps
      .pqRerankTopK(e, books, 16, 0L, shortlist = n, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val exact = SimilarityOps.annTopK(e, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("cos_micro")))
    assert(full.toSeq === exact.toSeq)
    // narrow shortlist: results are a subset of the ADC shortlist,
    // ordered by exact cosine (descending, ties to lower id)
    val short = SimilarityOps.pqAdcTopK(e, books, 16, 0L, 25)
      .collect().map(_.getLong(0)).toSet
    val rr = SimilarityOps
      .pqRerankTopK(e, books, 16, 0L, shortlist = 25, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rr.length === 10)
    assert(rr.forall { case (id, _) => short(id) })
    assert(rr.map(_._2).toSeq === rr.map(_._2).sortBy(-_).toSeq)
  }

  test("pqResidualTopK: deterministic through both trainings, " +
      "probed-cluster-bounded, and residual codes beat-or-match " +
      "raw-PQ recall at full probe") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def run() = SimilarityOps
      .pqResidualTopK(e, 10, 3, 4, 16, 8, 0L, 10)
      .collect()
      .map(r => (r.getLong(0), r.getAs[Long]("cluster"),
        r.getAs[Long]("adc")))
    val out = run()
    // bit-identical rerun: coarse training, four residual trainings,
    // probe selection, and the ADC ranking are all deterministic
    assert(out.toSeq === run().toSeq)
    // every result sits in a probed cluster
    val cents = SimilarityOps.kmeansCodebook(e, 10, 2)
    val probed = SimilarityOps.probeClusters(e, cents, 0L, 3)
      .map(_.toLong).toSet
    assert(out.forall { case (_, c, _) => probed(c) })
    // the IVFADC claim: at full probe width, spending the same code
    // budget on RESIDUALS recalls at least as much of the exact top-k
    // as raw-vector PQ (residuals have less variance per bit)
    val truth = SimilarityOps.annTopK(e, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val res = SimilarityOps.pqResidualTopK(e, 10, 10, 4, 16, 8, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val raw = SimilarityOps
      .pqAdcTopK(e, SimilarityOps.pqCodebooks(e, 4, 16, 8), 16, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    assert((res & truth).size >= (raw & truth).size,
      s"residual recall ${(res & truth).size} < raw ${(raw & truth).size}")
  }

  test("pqAdcBatch matches per-query pqAdcTopK") {
    val e = emb(
      (0L, Seq(1f, 0f, 0f, 1f), 0),
      (1L, Seq(0f, 1f, 1f, 0f), 0),
      (2L, Seq(1f, 0f, 1f, 0f), 0),
      (3L, Seq(0f, 1f, 0f, 1f), 0))
    val books = Seq(
      Array(Array(1000L, 0L), Array(0L, 1000L)),
      Array(Array(0L, 1000L), Array(1000L, 0L)))
    val batch = SimilarityOps.pqAdcBatch(e, books, 2, 2L, 3)
      .collect()
      .map(r => (r.getLong(0), r.getAs[Long]("rank"), r.getLong(2),
        r.getAs[Long]("adc"))).sortBy(t => (t._1, t._2))
    val single = Seq(0L, 1L).flatMap { q =>
      SimilarityOps.pqAdcTopK(e, books, 2, q, 3).collect()
        .zipWithIndex.map { case (r, i) =>
          (q, (i + 1).toLong, r.getLong(0), r.getAs[Long]("adc"))
        }
    }
    assert(batch.toSeq === single)
  }

  test("pqRecallCurve: recall rises with the code budget, exact at " +
    "point-perfect codebooks") {
    // 4 vectors, all subvectors distinct -> nCents=4 trains every
    // point into its own centroid (seeds are the points; integer-mean
    // refresh is a fixpoint), ADC becomes the exact milli dot, and
    // recall anchors at 1.0; nCents=1 collapses every code to one
    // centroid -> ADC is constant and top-k degenerates to id order
    val e = emb(
      (0L, Seq(1f, 0f, 0f, 1f), 0),
      (1L, Seq(0.9f, 0.1f, 0.2f, 0.8f), 0),
      (2L, Seq(0f, 1f, 1f, 0f), 0),
      (3L, Seq(0.1f, 0.9f, 0.8f, 0.2f), 0))
    val out = SimilarityOps.pqRecallCurve(e, Seq(1, 4), 2, 2, 2L, 2)
      .collect()
      .map(r => (r.getAs[Long]("n_cents"), r.getLong(1),
        r.getAs[Long]("recall_micro")))
    val byBudget = out.groupBy(_._1).view
      .mapValues(_.map(_._3).sum).toMap
    assert(out.filter(_._1 == 4L).forall(_._3 === 1000000L),
      s"point-perfect codebook must reach exact recall: ${out.toSeq}")
    assert(byBudget(1L) <= byBudget(4L),
      s"recall must not fall as the budget grows: ${out.toSeq}")
  }

  test("pqIvfTopK at full probe width equals unpruned ADC") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = SimilarityOps.kmeansCodebook(e, 10, SimilarityOps.KmRounds)
    val books = SimilarityOps.pqCodebooks(e, 4, 16, 8)
    val full = SimilarityOps.pqIvfTopK(e, cents, books, 16, 0L, 10, 10)
      .select("vec_id", "adc").collect().map(_.toSeq).toSeq
    val unpruned = SimilarityOps.pqAdcTopK(e, books, 16, 0L, 10)
      .collect().map(_.toSeq).toSeq
    assert(full === unpruned, "probing every cluster is plain ADC")
    // narrow probe returns a subset drawn only from probed clusters
    val probed = SimilarityOps.probeClusters(e, cents, 0L, 2)
      .map(_.toLong).toSet
    SimilarityOps.pqIvfTopK(e, cents, books, 16, 0L, 2, 10).collect()
      .foreach(r => assert(probed.contains(r.getAs[Long]("cluster"))))
  }

  test("pqServeTopK at full probe width equals plain ADC rerank") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = SimilarityOps.kmeansCodebook(e, 10, SimilarityOps.KmRounds)
    val books = SimilarityOps.pqCodebooks(e, 4, 16, 8)
    val full = SimilarityOps.pqServeTopK(e, cents, books, 16, 0L, 10,
      25, 10).collect().map(_.toSeq).toSeq
    val plain = SimilarityOps.pqRerankTopK(e, books, 16, 0L, 25, 10)
      .collect().map(_.toSeq).toSeq
    assert(full === plain,
      "probing every cluster degenerates to the two-stage rerank")
    // narrow probe: results only from probed clusters
    val probed = SimilarityOps.probeClusters(e, cents, 0L, 2)
      .map(_.toLong).toSet
    import org.apache.spark.sql.functions.col
    val assignedIn = e.select(col("vec_id"),
        graft.functions.KmeansAssign.kmeansAssign(col("embedding"),
          cents).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    SimilarityOps.pqServeTopK(e, cents, books, 16, 0L, 2, 25, 10)
      .collect().foreach(r =>
        assert(probed.contains(assignedIn(r.getAs[Long]("vec_id"))),
          s"vec ${r.getLong(0)} outside probed clusters"))
  }

  test("semDedup: cluster-blocked keep-lowest-id verdicts") {
    // codebook c0 = [1,0], c1 = [0,1]; cluster 0 holds v0,v1,v2 and
    // cluster 1 holds v3,v4. v2 duplicates v0 across the similarity
    // bar; v1 is near v0 but below it; v4 duplicates v3 within c1.
    val e = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(0.9f, 0.436f), 0),  // cos vs v0 ~ 0.9
      (2L, Seq(1f, 0f), 0),        // exact dup of v0
      (3L, Seq(0f, 1f), 0),
      (4L, Seq(0f, 1f), 0))        // exact dup of v3
    val cents = Array(Array(1000L, 0L), Array(0L, 1000L))
    val out = SimilarityOps.semDedup(e, cents, 950000L)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("cluster"),
        r.getAs[Long]("dup_cos_micro"), r.getAs[Long]("kept")))
    assert(out.map(o => (o._1, o._2)).toSeq ===
      Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)))
    // lowest id of each dup group survives; sub-threshold v1 survives
    assert(out.map(o => o._1 -> o._4).toMap ===
      Map(0L -> 1L, 1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 0L))
    assert(out(2)._3 === 1000000L, "v2 reports its qualifying cosine")
    assert(out(1)._3 === 0L, "below-threshold neighbors never qualify")
  }

  test("knnLabelConfusion: majority vote, tie to lowest label, blocked") {
    // cluster 0: v0..v2 label 0, v3 mislabeled 1 — its three neighbors
    // all vote 0, so it lands off-diagonal (1 -> 0). cluster 1: an
    // exact-dup pair agreeing at label 2 (each has ONE neighbor —
    // fewer than k is fine). cluster 2: three mutually-identical
    // vectors with distinct labels — every vote ties 1:1 and the
    // tie breaks to the LOWEST label, never engine order.
    val e = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(0.99f, 0.141f), 0),
      (2L, Seq(0.98f, 0.199f), 0),
      (3L, Seq(0.97f, 0.243f), 1),
      (4L, Seq(0f, 1f), 2),
      (5L, Seq(0f, 1f), 2),
      (6L, Seq(0.7f, 0.7f), 3),
      (7L, Seq(0.7f, 0.7f), 4),
      (8L, Seq(0.7f, 0.7f), 5))
    val cents = Array(Array(1000L, 0L), Array(0L, 1000L),
      Array(1000L, 1000L))
    val out = SimilarityOps.knnLabelConfusion(e, cents, 3).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out === Map(
      (0, 0) -> 3L, (1, 0) -> 1L, (2, 2) -> 2L,
      (3, 4) -> 1L, (4, 3) -> 1L, (5, 3) -> 1L), s"got $out")
  }

  test("cosineCensus: within-cluster buckets and cumulative counts") {
    // cluster 0 holds the exact dup pair (v0, v2) at cos 1.0;
    // cluster 1 holds (v1, v3) at cos ~0.8 (float rounding lands the
    // micro value just under 800000 -> bucket 750000); cross-cluster
    // pairs like (v0, v3) must NOT appear — blocking bounds the census
    val e = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(0.6f, 0.8f), 0), // nearest centroid is c1
      (2L, Seq(1f, 0f), 0),     // exact dup of v0
      (3L, Seq(0f, 1f), 0))
    val cents = Array(Array(1000L, 0L), Array(0L, 1000L))
    val out = SimilarityOps.cosineCensus(e, cents).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map(
      1000000L -> ((1L, 1L)),
      750000L -> ((1L, 2L))), s"got $out")
  }

  test("protoPrune: hardness ranks, floor-fraction keeps, exact ties") {
    // cluster 0 (centroid [1,0]) holds v0..v3 at decreasing cosine to
    // the centroid; cluster 1 holds a single vector (rank 1 of 1 —
    // kept iff 1*den <= 1*num, i.e. dropped at 1/2). keep 1/2 of each
    // cluster => floor(4*1/2) = 2 hardest of cluster 0 kept.
    val e = emb(
      (0L, Seq(1f, 0f), 0),        // cos to c0 = 1.0 (most prototypical)
      (1L, Seq(0.99f, 0.141f), 0), // ~0.990
      (2L, Seq(0.9f, 0.436f), 0),  // ~0.900
      (3L, Seq(0.8f, 0.6f), 0),    // 0.8 (hardest)
      (4L, Seq(0f, 1f), 0))
    val cents = Array(Array(1000L, 0L), Array(0L, 1000L))
    val out = SimilarityOps.protoPrune(e, cents, 1, 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("cluster"),
        r.getAs[Long]("hardness_rank"), r.getAs[Long]("n_cluster"),
        r.getAs[Long]("kept")))
    assert(out === Seq(
      (0L, 0L, 4L, 4L, 0L), // most prototypical = last rank, pruned
      (1L, 0L, 3L, 4L, 0L),
      (2L, 0L, 2L, 4L, 1L), // hardest two kept at 1/2
      (3L, 0L, 1L, 4L, 1L),
      (4L, 1L, 1L, 1L, 0L)), // floor(1 * 1/2) = 0 kept
      s"got ${out.toSeq}")
    // keep-all sanity: 1/1 keeps every vector
    val all = SimilarityOps.protoPrune(e, cents, 1, 1)
      .agg(org.apache.spark.sql.functions.sum("kept")).head().getLong(0)
    assert(all === 5L)
  }

  test("clusterMargins: runner-up score, ties, and boundary flags") {
    // reference formula (the documented kernel contract): milli
    // components, exact long dot, floor(1e6 * dot / sqrt(ssq))
    def refScores(v: Seq[Float], cents: Array[Array[Long]]): Seq[Long] = {
      val vm = v.map(x => math.floor(x.toDouble * 1000.0).toLong)
      cents.toSeq.map { c =>
        val ssq = c.map(x => x * x).sum
        if (ssq == 0L) -2000000L
        else {
          val dot = vm.zip(c).map { case (a, b) => a * b }.sum
          math.floor(1000000.0 * (dot.toDouble / math.sqrt(ssq.toDouble)))
            .toLong
        }
      }
    }
    val vecs = Seq(
      0L -> Seq(1f, 0f),       // on c0's axis: wide margin
      1L -> Seq(0.5f, 0.5f),   // best c2; runner-up = the c0/c1 TIE
      2L -> Seq(0.924f, 0.383f)) // near the c0/c2 bisector: tiny margin
    val e = emb(vecs.map { case (id, v) => (id, v, 0) }: _*)
    val cents = Array(Array(1000L, 0L), Array(0L, 1000L),
      Array(707L, 707L))
    val bar = 5000000L
    val out = SimilarityOps.clusterMargins(e, cents, bar)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("cluster"),
        r.getAs[Long]("best_micro"), r.getAs[Long]("second_micro"),
        r.getAs[Long]("margin_micro"), r.getAs[Long]("boundary")))
    vecs.zip(out).foreach { case ((id, v), o) =>
      val ss = refScores(v, cents)
      val sorted = ss.zipWithIndex.sortBy { case (s, j) => (-s, j) }
      assert(o._2 === sorted.head._2.toLong, s"cluster of vec $id")
      assert(o._3 === sorted.head._1, s"best of vec $id")
      assert(o._4 === sorted(1)._1, s"runner-up of vec $id (rank-2)")
      assert(o._5 === sorted.head._1 - sorted(1)._1, s"margin of vec $id")
      assert(o._6 === (if (o._5 <= bar) 1L else 0L))
    }
    // structural: v1's runner-up is the exact c0/c1 tie score, and the
    // near-bisector v2 flags boundary while axis-aligned v0 does not
    assert(refScores(Seq(0.5f, 0.5f), cents)(0) ===
      refScores(Seq(0.5f, 0.5f), cents)(1), "c0/c1 must tie for v1")
    assert(out(2)._6 === 1L && out(0)._6 === 0L,
      s"boundary flags: ${out.toSeq}")
    // exact-tie codebook: two identical centroids => margin exactly 0
    val tie = SimilarityOps.clusterMargins(e,
      Array(Array(1000L, 0L), Array(1000L, 0L)), 0L).collect()
    assert(tie.forall(r => r.getAs[Long]("margin_micro") === 0L))
    assert(tie.forall(r => r.getAs[Long]("boundary") === 1L))
  }

  test("embedDiversity: sum-vector identity equals brute-force pairs") {
    val e = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(0.6f, 0.8f), 0),
      (2L, Seq(0f, 1f), 0),
      (3L, Seq(0.5f, 0.5f), 1),
      (4L, Seq(0.5f, 0.5f), 1), // identical pair -> coherence 10^6
      (5L, Seq(0.25f, -0.75f), 2)) // singleton -> coherence 0
    val out = SimilarityOps.embedDiversity(e).orderBy("label").collect()
      .map(r => (r.getInt(0), r.getAs[Long]("n_vecs"),
        r.getAs[Long]("self_dot_sum"), r.getAs[Long]("sum_vec_dot"),
        r.getAs[Long]("coherence_micro")))
    // label 0 milli vectors: (1000,0), (600,800), (0,1000)
    // t = 1e6 + (360000+640000) + 1e6 = 3e6
    // sum vec = (1600, 1800); ssum = 2560000 + 3240000 = 5800000
    // coherence = (5800000-3e6)/(2*3e6) = 2800000/6000000 = 0.4666..
    assert(out(0) === ((0, 3L, 3000000L, 5800000L, 466666L)))
    // label 1: identical vectors -> exactly 1.0
    assert(out(1)._5 === 1000000L)
    // label 2: singleton -> 0 by contract
    assert(out(2) === ((2, 1L, 625000L, 625000L, 0L)))
    // brute-force cross-check for label 0: mean pairwise dot over the
    // 3 pairs: (1000,0)·(600,800)=600000, (1000,0)·(0,1000)=0,
    // (600,800)·(0,1000)=800000 -> sum*2 = 2800000 = ssum - t
    assert(out(0)._4 - out(0)._3 === 2L * (600000L + 0L + 800000L))
  }

  test("labelCentroidGeometry: integer-mean centroids, exact cosines") {
    // label 0 -> centroid (1000, 0); label 1 -> (0, 1000);
    // label 2 = {(1,0),(0,1)} -> (500, 500);
    // label 3 = {(1,0),(0,0),(0,0)} -> (333, 0)   [1000/3 truncated]
    // label 4 = {(-1,0),(0,0),(0,0)} -> (-333, 0) [toward ZERO, not floor]
    val e = emb(
      (0L, Seq(1f, 0f), 0), (1L, Seq(1f, 0f), 0),
      (2L, Seq(0f, 1f), 1),
      (3L, Seq(1f, 0f), 2), (4L, Seq(0f, 1f), 2),
      (5L, Seq(1f, 0f), 3), (6L, Seq(0f, 0f), 3), (7L, Seq(0f, 0f), 3),
      (8L, Seq(-1f, 0f), 4), (9L, Seq(0f, 0f), 4), (10L, Seq(0f, 0f), 4))
    val out = SimilarityOps.labelCentroidGeometry(e)
      .orderBy("label_a", "label_b").collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getAs[Long]("cos_micro"), r.getAs[Long]("n_a"),
          r.getAs[Long]("n_b")))).toMap
    assert(out.size === 10, "all label pairs")
    assert(out((0, 1))._1 === 0L)
    assert(out((0, 2))._1 === 707106L) // cos 45 deg, micro-floored
    assert(out((0, 3)) === ((1000000L, 2L, 3L)),
      "parallel centroids at different norms still cos 1.0")
    assert(out((3, 4))._1 === -1000000L, "antiparallel -> exactly -1")
    assert(out((2, 4))._1 === -707107L,
      "negative cosines floor DOWN (-0.7071.. -> -707107)")
  }

  test("hardNegatives: same-label vectors never mined, rank by cosine") {
    // query v0 (label 0): v1 is its nearest SAME-label vector and must
    // be excluded; negatives rank v2 (dup, label 1), then v3, then v4
    val e = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(0.99f, 0.141f), 0), // same label — never a negative
      (2L, Seq(1f, 0f), 1),        // cos 1.0
      (3L, Seq(0.6f, 0.8f), 1),    // cos 0.6
      (4L, Seq(0f, 1f), 2))        // cos 0.0
    val out = SimilarityOps.hardNegatives(e, 1L, 2)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Int]("neg_label"),
        r.getAs[Long]("cos_micro")))
    assert(out === Seq(
      (0L, 1L, 2L, 1, 1000000L),
      (0L, 2L, 3L, 1, 600000L)), s"got ${out.toSeq}")
  }

  test("semDedup verdicts are blind to cross-cluster duplicates") {
    // v0 and v1 are identical but assigned to different clusters by a
    // codebook that splits them — SemDeDup by construction only dedups
    // within a cluster (the paper's recall/cost tradeoff)
    val e = emb((0L, Seq(1f, 0f), 0), (1L, Seq(1f, 0f), 0))
    val split = Array(Array(1000L, 0L), Array(1000L, 0L))
    // both score identically against both centroids; tie-break keeps
    // them together -> same cluster -> v1 dropped
    val same = SimilarityOps.semDedup(e, split, 900000L)
      .orderBy("vec_id").collect().map(_.getAs[Long]("kept"))
    assert(same.toSeq === Seq(1L, 0L))
    val apart = Array(Array(1000L, 0L), Array(0L, 1000L))
    // force v1 into cluster 1 by zeroing... identical vectors cannot be
    // split by any codebook; instead verify with distinct vectors that
    // near-dups landing in different clusters are both kept
    val e2 = emb((0L, Seq(1f, 0.02f), 0), (1L, Seq(0.02f, 1f), 0))
    val kept2 = SimilarityOps.semDedup(e2, apart, 0L)
      .orderBy("vec_id").collect().map(_.getAs[Long]("kept"))
    assert(kept2.toSeq === Seq(1L, 1L),
      "different clusters are never compared even at threshold 0")
  }

  test("sqSearch: int8 codes collapse near-ties; truth flag exposes it") {
    // v3 and v5 quantize to the SAME code vector [127, 12, 0, 0]
    // (floor(100*127/1000) = floor(995*127/10000) = 12), so SQ scores
    // them identically and ties to the lower id — while exact cosine
    // ranks v5 first (995/10000 < 100/1000). With k=1 the SQ winner is
    // v3 and it is NOT in the exact top-1: in_truth = false is the
    // measured quantization cost, not a bug.
    val sq = emb(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (3L, Seq(1000f, 100f, 0f, 0f), 0),
      (5L, Seq(10000f, 995f, 0f, 0f), 0))
    val k1 = SimilarityOps.sqSearch(sq, 1L, 1).collect()
    assert(k1.length === 1)
    assert(k1.head.getAs[Long]("vec_id") === 3L)
    assert(k1.head.getAs[Boolean]("in_truth") === false)
    // at k=2 both enter; equal codes => equal sq_micro, both in truth
    val k2 = SimilarityOps.sqSearch(sq, 1L, 2)
      .orderBy("rank").collect()
    assert(k2.map(_.getAs[Long]("vec_id")).toSeq === Seq(3L, 5L))
    assert(k2.map(_.getAs[Long]("sq_micro")).distinct.length === 1)
    assert(k2.forall(_.getAs[Boolean]("in_truth")))
  }

  test("filteredAnn: post-filtering loses below-rank candidates that " +
    "pre-filtering keeps") {
    // predicate = label < 1; unfiltered top-2 is v1 (blocked) + v2, so
    // post-filter returns 1 survivor; pre-filter truth is {v2, v3}
    val m = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(1f, 0f), 5),     // cos 1.0, fails predicate
      (2L, Seq(0.8f, 0.6f), 0), // cos 0.8, passes
      (3L, Seq(0.6f, 0.8f), 0), // cos 0.6, passes
      (4L, Seq(0f, 1f), 5))     // cos 0.0, fails
    val out = SimilarityOps.filteredAnn(m, 1L, 1, 2).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("n_post") === 1L)
    assert(r.getAs[Long]("hits") === 1L)
    assert(r.getAs[Long]("recall_micro") === 500000L)
  }

  test("labelMrr: first-relevant rank via aggregation, no window") {
    // query v0 (label 0); same-label candidates score 0.6 (v1) and
    // 0.0 (v3); two other-label candidates outrank v1 -> the first
    // relevant hit is v1 at global rank 3, rr = floor(1e6/3)
    val m = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(0.6f, 0.8f), 0),   // cos 0.6, relevant
      (2L, Seq(1f, 0f), 1),       // cos 1.0, not relevant
      (3L, Seq(0f, 1f), 0),       // cos 0.0, relevant but worse
      (4L, Seq(0.8f, 0.6f), 1))   // cos 0.8, not relevant
    val out = SimilarityOps.labelMrr(m, 1L).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("best_vec_id") === 1L)
    assert(r.getAs[Long]("best_cos_micro") === 600000L)
    assert(r.getAs[Long]("first_rank") === 3L)
    assert(r.getAs[Long]("rr_micro") === 333333L)
    // a query whose label never recurs drops out entirely
    val lone = emb((0L, Seq(1f, 0f), 7), (1L, Seq(0f, 1f), 1))
    assert(SimilarityOps.labelMrr(lone, 1L).collect().isEmpty)
  }

  test("mrlRecall: truncation loses the tail signal; full width exact") {
    // truncated to 2 dims, v1 looks IDENTICAL to the query (its mass
    // beyond dim 2 is invisible) and beats v2; at full width v2 wins
    val m = emb(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(0.9f, 0f, 0.5f, 0f), 0),  // trunc2 cos 1.0, full 0.874
      (2L, Seq(0.95f, 0.1f, 0f, 0f), 0)) // cos 0.9945 at both widths
    val out = SimilarityOps.mrlRecall(m, 1L, Seq(2, 4), 1)
      .orderBy("dim").collect()
      .map(r => (r.getAs[Long]("dim"), r.getAs[Long]("hits"),
        r.getAs[Long]("recall_micro")))
    assert(out.toSeq === Seq((2L, 0L, 0L), (4L, 1L, 1000000L)))
  }

  test("mmrDiversified: diversity displaces a redundant high scorer") {
    // query (1,0,0); 1 = best hit (cos .894), 2 ≈ near-copy of 1
    // (cos .885, msim .9997 -> negative score forever), 3 = relevant
    // and moderately novel (cos .707, msim .316), 4 = orthogonal.
    // greedy order: 1, 3, 4 — the pure-relevance runner-up (the
    // near-copy) is displaced out of the whole top-3, which is MMR's
    // entire point. Asserted against an in-test replay of the rule.
    val m = emb(
      (0L, Seq(1f, 0f, 0f), 0),
      (1L, Seq(2f, 1f, 0f), 0),
      (2L, Seq(1.9f, 1f, 0f), 0),
      (3L, Seq(1f, -1f, 0f), 0),
      (4L, Seq(0f, 0f, 1f), 0))
    val out = SimilarityOps.mmrDiversified(m, 0L, 4, 3)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("msim"), r.getAs[Long]("score_micro")))
    // in-test replay of the greedy rule over exact micro cosines
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val vs = Map(1L -> Seq(2f, 1f, 0f), 2L -> Seq(1.9f, 1f, 0f),
      3L -> Seq(1f, -1f, 0f), 4L -> Seq(0f, 0f, 1f))
    val q = Seq(1f, 0f, 0f)
    def mi(x: Double): Long = math.floor(1e6 * x).toLong
    var sel = List.empty[Long]
    val expect = (1 to 3).map { rank =>
      val scored = vs.keys.filterNot(sel.contains).map { id =>
        val msim = if (sel.isEmpty) 0L
          else sel.map(s => mi(cos(vs(id), vs(s)))).max
        (id, msim, mi(cos(vs(id), q)) - msim)
      }.toSeq
      val (id, msim, sc) =
        scored.minBy { case (id, _, sc) => (-sc, id) }
      sel = sel :+ id
      (rank.toLong, id, msim, sc)
    }
    assert(out.toSeq === expect)
    assert(out.map(_._2).toSeq === Seq(1L, 3L, 4L))
    assert(!out.map(_._2).contains(2L)) // near-copy displaced from top-3
  }

  test("centroidDrift: orthogonal halves read 0, identical halves 1, " +
    "single-half labels drop") {
    // label 0: half-0 centroid (1,0) vs half-1 (0,1) -> cos 0
    // label 1: identical halves -> dot/(sqrt(ssq)*sqrt(ssq)) rounds to
    //   1-ulp below 1, so the micro floor reads 999999 (the self-cosine
    //   floor boundary; both engines compute the identical ops)
    // label 2: only half 0 -> no comparison, absent
    val m = emb(
      (0L, Seq(1f, 0f), 0), (2L, Seq(1f, 0f), 0), (1L, Seq(0f, 1f), 0),
      (4L, Seq(1f, 1f), 1), (5L, Seq(1f, 1f), 1),
      (6L, Seq(1f, 0f), 2))
    val out = SimilarityOps.centroidDrift(m).orderBy("label").collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Long]("n_a"),
        r.getAs[Long]("n_b"), r.getAs[Long]("cos_micro")))
    assert(out.toSeq === Seq(
      (0, 2L, 1L, 0L),
      (1, 1L, 1L, 999999L)))
  }

  test("ndcgAtK: hand-computed DCG/IDCG, budget-capped ideal, " +
    "integer division, weight literals") {
    // weights: w1 = 1000000, w2 = 630929, w3 = 500000 (exact floors)
    assert(SimilarityOps.ndcgWeightMicro(1) === 1000000L)
    assert(SimilarityOps.ndcgWeightMicro(2) === 630929L)
    assert(SimilarityOps.ndcgWeightMicro(3) === 500000L)
    // query v0 (label 0); ranking: v1 cos 1.0 (rel), v2 cos 0.6,
    // v3 cos 0.0 (rel), v4 cos -1.0 — top-3 = v1, v2, v3
    // dcg = w1 + w3 = 1500000; n_rel = 2 (v1, v3) so the ideal is
    // capped at m = 2: idcg = w1 + w2 = 1630929
    val m = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(1f, 0f), 0),
      (2L, Seq(0.6f, 0.8f), 1),
      (3L, Seq(0f, 1f), 0),
      (4L, Seq(-1f, 0f), 1))
    val out = SimilarityOps.ndcgAtK(m, 1L, 3).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("n_rel") === 2L)
    assert(r.getAs[Long]("hits") === 2L)
    assert(r.getAs[Long]("dcg_micro") === 1500000L)
    assert(r.getAs[Long]("idcg_micro") === 1630929L)
    // 1500000 * 1e6 div 1630929 = 919721
    assert(r.getAs[Long]("ndcg_micro") === 919721L)
  }

  test("ndcgAtK: perfect ranking reads exactly 1e6 when the budget " +
    "covers k") {
    // all corpus rows share the query's label -> every rank relevant,
    // dcg = idcg regardless of the weight values
    val m = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(1f, 0f), 0),
      (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0f, 1f), 0))
    val r = SimilarityOps.ndcgAtK(m, 1L, 3).collect().head
    assert(r.getAs[Long]("ndcg_micro") === 1000000L)
  }

  test("hubnessCensus: hand-computed k-occurrences, antihub row via " +
    "the corpus left join") {
    // one centroid -> one cluster; k = 1:
    //   v0 -> v1 (cos 1e6), v1 -> v0 (cos 1e6),
    //   v2 -> tie (cos 0 vs both) broken by min vec_id -> v0
    // k-occ: v0 = 2 (hub), v1 = 1, v2 = 0 (antihub)
    val m = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(1f, 0f), 0),
      (2L, Seq(0f, 1f), 1))
    val cents = Array(Array(1000L, 0L))
    val out = SimilarityOps.hubnessCensus(m, cents, 1).orderBy("k_occ")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((0L, 1L), (1L, 1L), (2L, 1L)))
  }

  test("knnReciprocityCensus: hand-computed reciprocal pair, " +
    "non-reciprocated edge, corpus left join") {
    // one cluster, k = 1: v0 -> v1, v1 -> v0 (reciprocal pair),
    // v2 -> v0 but v0's list is {v1} -> not reciprocated
    // census: n_recip 0 -> 1 vec (v2), n_recip 1 -> 2 vecs (v0, v1)
    val m = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(1f, 0f), 0),
      (2L, Seq(0f, 1f), 1))
    val cents = Array(Array(1000L, 0L))
    val out = SimilarityOps.knnReciprocityCensus(m, cents, 1)
      .orderBy("n_recip")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((0L, 1L), (1L, 2L)))
  }

  test("graphAnnSweep: widest-beam slice equals graphAnn row-for-row; " +
    "full grid emitted with sane recall bounds") {
    import graft.operators.SimilarityQueries._
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    val sweep = SimilarityOps.graphAnnSweep(e, cents, BatchQueryMax,
      GraphM, BeamSweep, GraphRounds, TopK, NCentroids).collect()
      .map(r => (r.getAs[Long]("beam_w"), r.getAs[Long]("query_id"),
        r.getAs[Long]("n_visited"), r.getAs[Long]("hits"),
        r.getAs[Long]("recall_micro")))
    val nQ = e.filter(
      org.apache.spark.sql.functions.col("vec_id") < BatchQueryMax)
      .count()
    assert(sweep.length === BeamSweep.size * nQ)
    assert(sweep.forall(t => t._5 >= 0L && t._5 <= 1000000L))
    assert(sweep.forall(t => t._3 >= 1L)) // entry point always visited
    // the widest beam IS the V35 configuration
    val wide = sweep.filter(_._1 == GraphBeam.toLong)
      .map(t => (t._2, t._3, t._4, t._5)).sortBy(_._1).toSeq
    val v35 = SimilarityOps.graphAnn(e, cents, BatchQueryMax, GraphM,
      GraphBeam, GraphRounds, TopK, NCentroids).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("n_visited"),
        r.getAs[Long]("hits"), r.getAs[Long]("recall_micro")))
      .sortBy(_._1).toSeq
    assert(wide === v35)
  }

  test("semDedupSweep: the production-bar row equals the D12 verdict; " +
    "excision monotone in epsilon; every row covers the corpus") {
    import graft.operators.SimilarityQueries._
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = SimilarityOps.kmeansCodebook(e, NCentroids,
      SimilarityOps.KmRounds)
    val sweep = SimilarityOps
      .semDedupSweep(e, cents, SemDedupEpsSweep).collect()
      .map(r => (r.getAs[Long]("eps_micro"), r.getAs[Long]("n_vecs"),
        r.getAs[Long]("n_excised"), r.getAs[Long]("n_kept"),
        r.getAs[Long]("keep_ppm")))
    val n = e.count()
    assert(sweep.length === SemDedupEpsSweep.size)
    assert(sweep.forall(_._2 === n))
    assert(sweep.forall(t => t._3 + t._4 === n))
    // excision can only shrink as the bar rises (same max-cos profile)
    val byEps = sweep.sortBy(_._1).map(_._3)
    assert(byEps.zip(byEps.tail).forall { case (lo, hi) => lo >= hi })
    // the production bar's row IS the D12 verdict
    val d12Excised = SimilarityOps.semDedup(e, cents, SemDedupCosMin)
      .filter(org.apache.spark.sql.functions.col("kept") === 0L).count()
    assert(sweep.find(_._1 == SemDedupCosMin).get._3 === d12Excised)
    assert(d12Excised > 0L) // the pin is non-vacuous at sf0.001
  }

  test("lidCensus: hand-built distance profiles — uniform-shell " +
    "sentinel, duplicate-neighbor clamp, per-cluster census") {
    // one centroid -> one cluster; k = 2; vectors:
    //   v0 (1,0), v1 (1,0) exact duplicates, v2 (1,1), v3 (0,1).
    // cos micro: v0~v1 = 1e6 (dis clamped to 1), v0~v2 = 707106
    // (dis 292894), v0~v3 = 0 (dis 1e6).
    // v0/v1: dis [1, 292894] -> sum = micro(ln 292894), scored.
    // v2: all three neighbors tied at 707106 -> top-2 dis equal ->
    //     sum_ln = 0 -> uniform-shell sentinel (unscored).
    // v3: dis [292894, 1000000] -> sum = micro(ln(1e6/292894)).
    val m = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(1f, 0f), 0),
      (2L, Seq(1f, 1f), 0),
      (3L, Seq(0f, 1f), 1))
    val cents = Array(Array(1000L, 0L))
    def lidOf(ds: Seq[Long]): Long = {
      val dk = ds.max
      val s = ds.map(d =>
        math.floor(1e6 * math.log(dk.toDouble / d)).toLong).sum
      if (s > 0) ds.length.toLong * 1000000L * 1000000L / s else 0L
    }
    val lid0 = lidOf(Seq(1L, 292894L))
    val lid3 = lidOf(Seq(292894L, 1000000L))
    assert(lid0 > 0L && lid3 > 0L && lid0 != lid3)
    val r = SimilarityOps.lidCensus(m, cents, 2).collect().head
    assert((r.getAs[Long]("cluster"), r.getAs[Long]("n_vecs"),
      r.getAs[Long]("n_scored"), r.getAs[Long]("n_unscored"),
      r.getAs[Long]("lid_mean_micro"), r.getAs[Long]("lid_min_micro"),
      r.getAs[Long]("lid_max_micro")) ===
      (0L, 4L, 3L, 1L, (2L * lid0 + lid3) / 3L,
        math.min(lid0, lid3), math.max(lid0, lid3)))
  }

  test("knnReciprocityCensus: sum n_recip * n_vecs is even (every " +
    "reciprocal pair counted from both endpoints) and bounded by the " +
    "hubness edge total") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = SimilarityOps.kmeansCodebook(e, 5, SimilarityOps.KmRounds)
    val k = 3
    val out = SimilarityOps.knnReciprocityCensus(e, cents, k).collect()
    val recipEdges = out.map(r => r.getLong(0) * r.getLong(1)).sum
    assert(recipEdges % 2 === 0L)
    assert(recipEdges > 0L) // top-1-of-each-other pairs exist
    assert(out.map(_.getLong(1)).sum === e.count()) // every vector once
    val hubEdges = SimilarityOps.hubnessCensus(e, cents, k).collect()
      .map(r => r.getLong(0) * r.getLong(1)).sum
    assert(recipEdges <= hubEdges)
    assert(out.forall(_.getLong(0) <= k)) // n_recip ∈ [0, k]
  }

  test("hubnessCensus: edge-count closed form — sum k_occ * n_vecs = " +
    "sum over clusters of |c| * min(k, |c| - 1)") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = SimilarityOps.kmeansCodebook(e, 5, SimilarityOps.KmRounds)
    val k = 3
    val out = SimilarityOps.hubnessCensus(e, cents, k).collect()
    val edges = out.map(r => r.getLong(0) * r.getLong(1)).sum
    val n = e.count()
    assert(out.map(_.getLong(1)).sum === n) // every vector lands once
    val sizes = e.select(graft.functions.KmeansAssign
        .kmeansAssign(org.apache.spark.sql.functions.col("embedding"),
          cents).as("c"))
      .groupBy("c").count().collect().map(_.getLong(1))
    val expected = sizes.map(s => s * math.min(k.toLong, s - 1)).sum
    assert(edges === expected)
  }

  test("kmeansSecondId: rank-2 id with row_number tie semantics") {
    import org.apache.spark.sql.functions.col
    // c0 and c2 identical; c1 orthogonal
    val cents = Array(Array(1000L, 0L), Array(0L, 1000L),
      Array(1000L, 0L))
    val df = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val out = df.select(col("vec_id"),
        graft.functions.KmeansAssign.kmeansAssign(col("embedding"), cents)
          .as("c1"),
        graft.functions.KmeansSecondId.kmeansSecondId(col("embedding"),
          cents).as("c2"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val m = out
    // v0 ties c0/c2 at the top: best = earlier (0), second = later (2)
    assert(m(0L) === ((0L, 2L)))
    // v1: best c1; c0/c2 tie for second: earlier (0) kept
    assert(m(1L) === ((1L, 0L)))
  }

  test("graphAnn: complete-graph fixture reaches recall 1.0; " +
    "deterministic and visit-bounded on real data") {
    import org.apache.spark.sql.functions.col
    // two well-separated clusters; m >= n-1 makes the graph complete,
    // so one round from any entry must find the full truth set
    val rows = (0 to 5).map(i => (i.toLong, Seq(1f, 0.01f * i, 0f, 0f), 0)) ++
      (6 to 11).map(i => (i.toLong, Seq(0.01f * (i - 6), 1f, 0f, 0f), 1))
    val e = rows.toDF("vec_id", "embedding", "label")
    val cents = SimilarityOps.kmeansCodebook(e, 2, SimilarityOps.KmRounds)
    val out = SimilarityOps.graphAnn(e, cents, 1L, 11, 12, 3, 5, 2)
      .collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("n_visited") === 11L)
    assert(out.head.getAs[Long]("hits") === 5L)
    assert(out.head.getAs[Long]("recall_micro") === 1000000L)
    // real data: deterministic rerun, structural visit bound, recall
    // consistent with hits
    import graft.operators.SimilarityQueries
    val dir = "/root/testdata/sf0.001"
    val a = SimilarityQueries.qGraphAnn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_visited"),
        r.getAs[Long]("hits"), r.getAs[Long]("recall_micro")))
    val bound = 1L + SimilarityQueries.GraphRounds.toLong *
      SimilarityQueries.GraphBeam * 2 * SimilarityQueries.GraphM
    a.foreach { case (q, nv, h, rm) =>
      assert(nv >= 1L && nv <= bound, s"query $q visited $nv > $bound")
      assert(h <= 10L)
      assert(rm === h * 1000000L / 10L)
    }
    val b = SimilarityQueries.qGraphAnn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_visited"),
        r.getAs[Long]("hits"), r.getAs[Long]("recall_micro")))
    assert(a.toSeq === b.toSeq)
  }

  test("hybridRrf: fusion arithmetic exact, both-lists-first dominates, " +
    "deterministic, rank cuts as WindowGroupLimit") {
    import graft.operators.SimilarityQueries
    val dir = "/root/testdata/sf0.001"
    val out = SimilarityQueries.qRrf(spark, dir).collect().map(r =>
      (r.getLong(0), r.getAs[Long]("rank"), r.getLong(2),
        r.getAs[Long]("dense_rank"), r.getAs[Long]("lex_rank"),
        r.getAs[Long]("rrf_score")))
    assert(out.nonEmpty)
    val c = SimilarityQueries.RrfC
    // the fusion score IS the RRF formula over the reported ranks
    out.foreach { case (q, _, d, dr, lr, s) =>
      val expect = (if (dr > 0) 1000000L / (c + dr) else 0L) +
        (if (lr > 0) 1000000L / (c + lr) else 0L)
      assert(s === expect, s"query $q doc $d: rrf $s != $expect")
      assert(dr > 0 || lr > 0, "fused doc must come from some list")
    }
    // ranks are 1..K dense per query, score non-increasing
    out.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to sorted.length).toSeq)
      assert(sorted.sliding(2).forall(p =>
        p.length < 2 || p(0)._6 >= p(1)._6), s"query $q not sorted")
    }
    // a doc first in BOTH lists has the maximum attainable score and
    // must be fused rank 1
    out.groupBy(_._1).foreach { case (q, rows) =>
      rows.find(r => r._4 == 1L && r._5 == 1L).foreach { both =>
        assert(both._2 === 1L, s"query $q: dual-first doc not rank 1")
      }
    }
    val rerun = SimilarityQueries.qRrf(spark, dir).collect().map(r =>
      (r.getLong(0), r.getAs[Long]("rank"), r.getLong(2)))
    assert(rerun.toSeq === out.map(t => (t._1, t._2, t._3)).toSeq)
    val plan = SimilarityQueries.qRrf(spark, dir)
      .queryExecution.executedPlan.toString
    val limits = "WindowGroupLimit".r.findAllIn(plan).length
    assert(limits >= 2,
      s"expected WindowGroupLimit rank cuts on both arms:\n$plan")
  }

  test("kmeansElbow: identical corpus collapses to one used cluster " +
    "at every k with exact unit scores; deterministic") {
    // all vectors identical: every centroid is the same direction, so
    // ties send every vector to the SMALLEST cid (the rank-1 tie
    // order) -> n_clusters_used = 1; each score is exactly 1e9 in the
    // kernel's norm-scaled units (1e6 * |vm| * cos, |vm| = 1000 here)
    val e = emb((1 to 6).map(i => (i.toLong, Seq(1f, 0f, 0f), 0)): _*)
    val out = SimilarityOps.kmeansElbow(e, Seq(1, 2, 4), rounds = 2)
      .orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("n_vectors"),
        r.getAs[Long]("sum_score_micro"),
        r.getAs[Long]("n_clusters_used"),
        r.getAs[Long]("max_cluster_n")))
    assert(out.toSeq === Seq(
      (1L, 6L, 6000000000L, 1L, 6L),
      (2L, 6L, 6000000000L, 1L, 6L),
      (4L, 6L, 6000000000L, 1L, 6L)))
    // real-shaped data: structural invariants + determinism
    val mixed = emb((1 to 12).map(i =>
      (i.toLong, Seq((i % 3).toFloat + 0.1f, (i % 4).toFloat,
        (i % 5).toFloat), i % 2)): _*)
    val rows = SimilarityOps.kmeansElbow(mixed, Seq(2, 4), rounds = 2)
      .orderBy("k").collect().map(_.toSeq)
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r(1) === 12L)
      assert(r(3).asInstanceOf[Long] <= r(0).asInstanceOf[Long])
      assert(r(4).asInstanceOf[Long] <= 12L)
    }
    val rerun = SimilarityOps.kmeansElbow(mixed, Seq(2, 4), rounds = 2)
      .orderBy("k").collect().map(_.toSeq)
    assert(rerun.toSeq === rows.toSeq)
  }

  test("ivfCostCurve: visited counts per probe depth, full-probe row " +
    "reads the whole corpus at recall 1") {
    // cluster 0 = x-axis {0,1,2}, cluster 1 = z-axis {3,4,5};
    // query 0: probe rank c0 then c1. truth top-2 = {1 (cos 1),
    // 2 (cos .8)} both in c0 -> nprobe=1: visited 2 of 5 (400000 ppm),
    // recall 1; nprobe=2: visited 5 (1000000 ppm), recall 1
    val e = emb(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(1f, 0f, 0f, 0f), 0),
      (2L, Seq(0.8f, 0.6f, 0f, 0f), 0),
      (3L, Seq(0f, 0f, 1f, 0f), 1),
      (4L, Seq(0f, 0f, 1f, 0f), 1),
      (5L, Seq(0f, 0f, 0.9f, 0.1f), 1))
    val cents = Array(
      Array(1000L, 0L, 0L, 0L),
      Array(0L, 0L, 1000L, 0L))
    val out = SimilarityOps
      .ivfCostCurve(e, queryMax = 1L, cents, Seq(1, 2), k = 2)
      .orderBy("nprobe").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nprobe"),
        r.getAs[Long]("visited"), r.getAs[Long]("visited_ppm"),
        r.getAs[Long]("hits"), r.getAs[Long]("recall_micro")))
    assert(out.toSeq === Seq(
      (0L, 1L, 2L, 400000L, 2L, 1000000L),
      (0L, 2L, 5L, 1000000L, 2L, 1000000L)))
    // its recall columns are annRecall's on the same inputs
    val recall = SimilarityOps
      .annRecall(e, queryMax = 1L, cents, Seq(1, 2), k = 2)
      .orderBy("nprobe").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nprobe"),
        r.getAs[Long]("hits"), r.getAs[Long]("recall_micro")))
    assert(out.map(t => (t._1, t._2, t._5, t._6)).toSeq === recall.toSeq)
  }

  test("dbscan: core density, border adoption, cross-component " +
    "isolation, mutual non-core pair and singleton read noise") {
    // cell c0 = x-axis, cell c1 = z-axis (explicit milli codebook).
    // eps = cos 0.9, minPts = 2:
    //  a-triple (10,11,12) identical -> mutual cos 1.0, plus b1 at
    //    cos ~.95 -> all core, one component labeled min id 10
    //  b1 (20) cos ~.95 to each a, cos ~.97 to b2 -> 4 neighbors, core
    //  b2 (21) only neighbor is b1 (cos to a ~.85 < .9) -> border,
    //    adopts b1's component (10)
    //  m-pair (30,31) identical -> 1 neighbor each, neither core, no
    //    core neighbor -> BOTH noise (density, not connectivity)
    //  n1 (40) isolated in c1 (cos ~.70 to m) -> noise, 0 neighbors
    val e = emb(
      (10L, Seq(1f, 0f, 0f, 0f), 0),
      (11L, Seq(1f, 0f, 0f, 0f), 0),
      (12L, Seq(1f, 0f, 0f, 0f), 0),
      (20L, Seq(0.95f, 0.312f, 0f, 0f), 0),
      (21L, Seq(0.85f, 0.527f, 0f, 0f), 0),
      (30L, Seq(0f, 0f, 1f, 0f), 1),
      (31L, Seq(0f, 0f, 1f, 0f), 1),
      (40L, Seq(0f, 0f, 0.7f, -0.714f), 1))
    val cents = Array(
      Array(1000L, 0L, 0L, 0L),
      Array(0L, 0L, 1000L, 0L))
    val out = SimilarityOps
      .dbscan(e, cents, epsCosMin = 900000L, minPts = 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("n_neighbors"),
        r.getAs[Long]("role"), r.getAs[Long]("cluster")))
    assert(out.toSeq === Seq(
      (10L, 3L, 2L, 10L),
      (11L, 3L, 2L, 10L),
      (12L, 3L, 2L, 10L),
      (20L, 4L, 2L, 10L),
      (21L, 1L, 1L, 10L),
      (30L, 1L, 0L, -1L),
      (31L, 1L, 0L, -1L),
      (40L, 0L, 0L, -1L)))
  }

  test("kcenterSelect: greedy farthest-point picks, exact sentinel " +
    "and exact orthogonal/opposite rounds, shrinking radius") {
    // v0 seed (min id); v3 = -v0 is farthest (cos -1 exactly);
    // then v2 (orthogonal to both, cos 0 exactly); then v1, whose
    // max cos to {v0,v3,v2} is ~0.8 (vs v2; float32 quantization of
    // 0.6/0.8 puts the IEEE double one ulp under, so the micro floor
    // reads 799999). mc trajectory: sentinel, -1000000, 0, 799999.
    val e = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(0.6f, 0.8f), 0),
      (2L, Seq(0f, 1f), 0),
      (3L, Seq(-1f, 0f), 0))
    val out = SimilarityOps.kcenterSelect(e, 4).collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("max_cos_prior_micro"),
        r.getAs[Long]("dis_micro")))
    assert(out.toSeq === Seq(
      (1L, 0L, SimilarityOps.KcSeedCos, 2000000L),
      (2L, 3L, -1000000L, 2000000L),
      (3L, 2L, 0L, 1000000L),
      (4L, 1L, 799999L, 200001L)))
    // coverage radius (dis) is non-increasing after the seed
    val dis = out.map(_._4).drop(1)
    assert(dis.zip(dis.tail).forall { case (a, b) => a >= b })
  }

  test("pqDistortion: hand-built sub-codebooks — exact squared-L2 " +
    "residuals per subspace, integer mean/max/NSR") {
    // 2 subspaces x 2 dims, 2 sub-centroids each. v0/v1 sit exactly
    // on centroids (dist 0); v2's slices read dist 400000 (sub 0,
    // assigned (0,1000) by the cosine kernel) and 500000 (sub 1,
    // score tie between both centroids -> lower cid (500,500)).
    val e = emb(
      (0L, Seq(1f, 0f, 0.5f, 0.5f), 0),
      (1L, Seq(0f, 1f, -0.5f, 0.5f), 0),
      (2L, Seq(0.6f, 0.8f, 0f, 1f), 0))
    val books = Seq(
      Array(Array(1000L, 0L), Array(0L, 1000L)),
      Array(Array(500L, 500L), Array(-500L, 500L)))
    val out = SimilarityOps.pqDistortion(e, books, 2).collect()
      .map(r => (r.getAs[Long]("subspace"), r.getAs[Long]("n_vecs"),
        r.getAs[Long]("sum_dist"), r.getAs[Long]("mean_dist"),
        r.getAs[Long]("max_dist"), r.getAs[Long]("nsr_ppm")))
    assert(out.toSeq === Seq(
      (0L, 3L, 400000L, 133333L, 400000L, 133333L),
      (1L, 3L, 500000L, 166666L, 500000L, 250000L)))
  }

  test("kcenterCoverage: hand-computed coverage of the one " +
    "non-center point after 3 greedy rounds") {
    // greedy over the kcenter fixture picks v0, v3, v2 (see the
    // kcenterSelect spec); the last pick's dis is 1000000. The one
    // remaining point v1 has max-cos 799999 -> dis 200001.
    val e = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(0.6f, 0.8f), 0),
      (2L, Seq(0f, 1f), 0),
      (3L, Seq(-1f, 0f), 0))
    val r = SimilarityOps.kcenterCoverage(e, 3).collect().head
    assert((r.getAs[Long]("n_points"),
      r.getAs[Long]("last_pick_dis_micro"),
      r.getAs[Long]("max_dis_micro"), r.getAs[Long]("mean_dis_micro"),
      r.getAs[Long]("within_last_ppm")) ===
      (1L, 1000000L, 200001L, 200001L, 1000000L))
  }

  test("clusterStability: hand-computed Rand/ARI — a perfect " +
    "refinement and the identical-partition identity") {
    // 8 points in 4 tight axis groups; fine codebook = 4 axes, coarse
    // = the two diagonals. Perfect nesting: s_both=4, s_a=4, s_b=12,
    // T=28 -> Rand 20/28 = 714285, ARI (4-48/28)/(8-48/28) = 363636.
    val pts = emb(
      (0L, Seq(1f, 0.05f), 0), (1L, Seq(1f, -0.05f), 0),
      (2L, Seq(0.05f, 1f), 0), (3L, Seq(-0.05f, 1f), 0),
      (4L, Seq(-1f, 0.05f), 0), (5L, Seq(-1f, -0.05f), 0),
      (6L, Seq(0.05f, -1f), 0), (7L, Seq(-0.05f, -1f), 0))
    val fine = Array(Array(1000L, 0L), Array(0L, 1000L),
      Array(-1000L, 0L), Array(0L, -1000L))
    val coarse = Array(Array(1000L, 1000L), Array(-1000L, -1000L))
    val r = SimilarityOps.clusterStability(pts, fine, coarse)
      .collect().head
    assert((r.getAs[Long]("n"), r.getAs[Long]("cells"),
      r.getAs[Long]("s_both"), r.getAs[Long]("s_a"),
      r.getAs[Long]("s_b"), r.getAs[Long]("t_pairs"),
      r.getAs[Long]("rand_micro"), r.getAs[Long]("ari_micro")) ===
      (8L, 4L, 4L, 4L, 12L, 28L, 714285L, 363636L))
    // identical partitions read Rand = ARI = 1 exactly
    val i = SimilarityOps.clusterStability(pts, coarse, coarse)
      .collect().head
    assert((i.getAs[Long]("rand_micro"), i.getAs[Long]("ari_micro"))
      === (1000000L, 1000000L))
  }

  test("silhouetteCensus: hand-built codebook — perfectly-centered " +
    "points read s=1, the 0.6/0.8 point reads exactly 0.5") {
    // cents c0=(1000,0), c1=(0,1000) milli. v0/v2=(1,0): best=c0
    // score 1e9, second 0, R=1e9 -> s=(1e9-0)/max(0,1e9)=1.
    // v1=(0.6,0.8): vm=(600,800), best=c1 8e8, second c0 6e8, R=1e9
    // -> s = 2e8/max(2e8,4e8) = 0.5.
    val e = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(0.6f, 0.8f), 0),
      (2L, Seq(1f, 0f), 0))
    val cents = Array(Array(1000L, 0L), Array(0L, 1000L))
    val out = SimilarityOps.silhouetteCensus(e, cents)
      .orderBy("cluster").collect()
      .map(r => (r.getAs[Long]("cluster"), r.getAs[Long]("n_vecs"),
        r.getAs[Long]("mean_sil_micro"), r.getAs[Long]("min_sil_micro"),
        r.getAs[Long]("amb_ppm")))
    assert(out.toSeq === Seq(
      (0L, 2L, 1000000L, 1000000L, 0L),
      (1L, 1L, 500000L, 500000L, 0L)))
  }

  test("anisotropyCensus: sum-vector identity hand trace, corpus row " +
    "is the integer label rollup, zero vectors excluded, n<2 NULL") {
    // label 0: two copies of (1,0) -> q = (1000,0) each, S = (2000,0),
    //   snorm2 4e6, selfsum 2e6, pairsum 2e6, anis = 2e6/1e6/2 = 1.0
    // label 1: (0,1) and (1,0) -> orthogonal, pairsum 0, anis 0
    // label 2: single (0.5,0) -> q = (1000,0); n = 1 -> NULL anis
    // label 3: only a sub-milli vector -> excluded -> no label-3 row
    // corpus: S = (4000,1000) -> snorm2 17e6, selfsum 5e6,
    //   pairsum 12e6, n = 5 -> anis = (12/20)*1e6 = 600000
    val m = emb(
      (0L, Seq(1f, 0f), 0), (1L, Seq(1f, 0f), 0),
      (2L, Seq(0f, 1f), 1), (3L, Seq(1f, 0f), 1),
      (4L, Seq(0.5f, 0f), 2),
      (5L, Seq(0.0004f, 0f), 3))
    val out = SimilarityOps.anisotropyCensus(m).collect()
      .map(r => (r.getAs[Long]("label"), r.getAs[Long]("n"),
        r.getAs[Long]("snorm2"), r.getAs[Long]("selfsum"),
        r.getAs[Long]("pairsum"),
        Option(r.getAs[java.lang.Long]("anis_micro")).map(_.toLong)))
    assert(out.toSeq === Seq(
      (-1L, 5L, 17000000L, 5000000L, 12000000L, Some(600000L)),
      (0L, 2L, 4000000L, 2000000L, 2000000L, Some(1000000L)),
      (1L, 2L, 2000000L, 2000000L, 0L, Some(0L)),
      (2L, 1L, 1000000L, 1000000L, 0L, None)))
    // antipodal pair: exact cosine -1 must floor to -1000000, not
    // truncate toward zero
    val anti = SimilarityOps.anisotropyCensus(emb(
      (0L, Seq(1f, 0f), 0), (1L, Seq(-1f, 0f), 0))).collect()
      .map(r => (r.getAs[Long]("label"),
        r.getAs[java.lang.Long]("anis_micro")))
    assert(anti.toSeq === Seq(
      (-1L, java.lang.Long.valueOf(-1000000L)),
      (0L, java.lang.Long.valueOf(-1000000L))))
  }

  test("dimCorrCensus: exact five-sum census, perfect correlation " +
    "reads 1e6 and redundant, constant dim guards r to 0") {
    // dims 0/1 perfectly correlated (y = 2x), dim 2 constant
    val m = emb(
      (0L, Seq(1f, 2f, 1f), 0),
      (1L, Seq(2f, 4f, 1f), 0),
      (2L, Seq(3f, 6f, 1f), 0))
    val out = SimilarityOps.dimCorrCensus(m).collect()
      .map(r => (r.getAs[Long]("dim_a"), r.getAs[Long]("dim_b"),
        r.getAs[Long]("n"), r.getAs[Long]("cov_num"),
        r.getAs[Long]("var_x"), r.getAs[Long]("var_y"),
        r.getAs[Long]("r_micro"), r.getAs[Boolean]("is_redundant")))
    // (0,1): cov 3*28e6-6000*12000 = 12e6, var_x 6e6, var_y 24e6,
    //   r = 12e6/sqrt(6e6*24e6) = 1.0
    assert(out.toSeq === Seq(
      (0L, 1L, 3L, 12000000L, 6000000L, 24000000L, 1000000L, true),
      (0L, 2L, 3L, 0L, 6000000L, 0L, 0L, false),
      (1L, 2L, 3L, 0L, 24000000L, 0L, 0L, false)))
  }

  test("effectiveDim: PR = d on an isotropic pair, PR = 1 under " +
    "collapse, constant embeddings read NULL") {
    // isotropic: v_num = 1e12 per dim, squares floor to 1e6 exactly
    // -> PR = (2e12)^2/1e18 / 2e6 = 2.0
    val iso = SimilarityOps.effectiveDim(emb(
      (0L, Seq(1000f, 0f), 0), (1L, Seq(0f, 1000f), 0))).collect()
    assert(iso.length === 1)
    assert(iso.head.getAs[Long]("pr_micro") === 2000000L)
    assert(iso.head.getAs[Long]("pr_frac_micro") === 1000000L)
    // collapsed onto dim 0: v_num = (4e12, 0) -> PR = 1.0
    val col1 = SimilarityOps.effectiveDim(emb(
      (0L, Seq(1000f, 5f), 0), (1L, Seq(3000f, 5f), 0))).collect()
    assert(col1.head.getAs[Long]("pr_micro") === 1000000L)
    // constant embedding: zero variance everywhere -> NULL
    val const = SimilarityOps.effectiveDim(emb(
      (0L, Seq(7f, 7f), 0), (1L, Seq(7f, 7f), 0))).collect()
    assert(const.head.getAs[java.lang.Long]("pr_micro") === null)
  }

  test("pqBlockCorr: dim pairs roll up to the block grid, cross " +
    "cells flagged, integer mean") {
    // subLen 2 over 3 dims -> blocks {0: dims 0,1} {1: dim 2};
    // (0,1) within-block r=1e6; (0,2)/(1,2) cross, r=0
    val m = emb(
      (0L, Seq(1f, 2f, 1f), 0),
      (1L, Seq(2f, 4f, 1f), 0),
      (2L, Seq(3f, 6f, 1f), 0))
    val out = SimilarityOps.pqBlockCorr(m, 2, 800000L).collect()
      .map(r => (r.getAs[Long]("block_a"), r.getAs[Long]("block_b"),
        r.getAs[Long]("n_pairs"), r.getAs[Long]("n_redundant"),
        r.getAs[Long]("sum_abs_r"), r.getAs[Long]("max_abs_r"),
        r.getAs[Long]("mean_abs_r_micro"), r.getAs[Boolean]("is_cross")))
    assert(out.toSeq === Seq(
      (0L, 0L, 1L, 1L, 1000000L, 1000000L, 1000000L, false),
      (0L, 1L, 2L, 0L, 0L, 0L, 0L, true)))
  }
}
