package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.TextOps

/** Property tests for the dedup operators: invariants that must hold on
  * any corpus, checked on fixed-seed generated docs (deterministic CI).
  */
class TextPropertySpec extends SparkSpec {
  import sqlImplicits._

  private def draw[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val genDoc: Gen[String] = for {
    n <- Gen.chooseNum(8, 60)
    toks <- Gen.listOfN(n, Gen.oneOf(
      "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
      "theta", "the", "a"))
  } yield toks.mkString(" ")

  private def docs(seed: Long, n: Int) =
    draw(Gen.listOfN(n, genDoc), seed).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("jaccard invariants: 0 <= jac <= 1e6 and inter <= min(n1, n2)") {
    val out = TextOps.ngramJaccardPairs(docs(101L, 40), 5, 1000L, 0L)
      .collect()
    assert(out.nonEmpty, "small vocab must produce some candidate pairs")
    out.foreach { r =>
      val (inter, n1, n2, jac) = (r.getAs[Long]("inter"),
        r.getAs[Long]("n1"), r.getAs[Long]("n2"),
        r.getAs[Long]("jac_micro"))
      assert(jac >= 0L && jac <= 1000000L)
      assert(inter <= math.min(n1, n2))
      assert(r.getAs[Long]("d1") < r.getAs[Long]("d2"))
    }
  }

  test("simhash is a bag-of-words function: token order never matters") {
    val base = draw(Gen.listOfN(20, genDoc), 7L)
    val rnd = new scala.util.Random(42)
    val shuffled = base.map(t => rnd.shuffle(t.split(" ").toSeq).mkString(" "))
    val a = TextOps.simhash(base.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = TextOps.simhash(shuffled.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
  }

  test("identical docs: full minhash agreement and jaccard = 1") {
    val d = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val out = TextOps.minhashLshPairs(d, 5, 0L).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("n_match") === 16L)
    assert(out.head.getAs[Long]("jac_micro") === 1000000L)
  }

  test("chunking covers every character exactly per stride arithmetic") {
    val d = docs(55L, 25)
    val out = TextOps.chunkDocs(d, 200, 150)
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("nc"),
        org.apache.spark.sql.functions.sum("chunk_chars").as("cc"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    d.collect().foreach { r =>
      val (id, text) = (r.getLong(0), r.getString(1))
      val expectNc = (text.length - 1) / 150 + 1
      val (nc, cc) = out(id)
      assert(nc === expectNc.toLong, s"chunk count for len ${text.length}")
      // sum of chunk lengths = len + overlap of interior chunks
      val expectCc = (0 until expectNc)
        .map(i => math.min(200, text.length - i * 150)).sum
      assert(cc === expectCc.toLong)
    }
  }

  test("connectedComponents: chains collapse to one cluster, min label wins") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("d1", "d2")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L)
    val fast = TextOps.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === expect)
    // force the distributed path; must agree exactly
    val dist = TextOps.connectedComponents(pairs, driverMaxPairs = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === expect)
  }

  test("rolling-hash winnowing equals the naive O(n·k + n·w) reference") {
    // the shipped compute() rolls each gram hash forward and keeps the
    // window minimum in a monotonic deque; this naive mirror recomputes
    // every gram from scratch and rescans every window — same definition,
    // quadratic constants. Bit-identical output is the contract.
    import org.apache.spark.unsafe.types.UTF8String
    def naive(s: String, k: Int, w: Int, mod: Long): Seq[Long] = {
      val n = s.length
      if (n < k) return Seq.empty
      val m = n - k + 1
      val hs = (0 until m).map { i =>
        (0 until k).foldLeft(0L)((a, j) => (a * 31L + s.charAt(i + j)) % mod)
      }
      val mins =
        if (m < w) Seq(hs.min)
        else (0 to m - w).map(p => (p until p + w).map(hs).min)
      mins.distinct
    }
    def rolled(s: String, k: Int, w: Int, mod: Long): Seq[Long] = {
      val out = graft.functions.WinnowFingerprints
        .winnow_fingerprints(UTF8String.fromString(s), k, w, mod)
      (0 until out.numElements()).map(out.getLong(_))
    }
    val genCase = for {
      k <- Gen.chooseNum(1, 12)
      w <- Gen.chooseNum(1, 10)
      mod <- Gen.oneOf(2L, 97L, 33554432L, 1L << 30)
      len <- Gen.chooseNum(0, 300)
      // include chars above 'z' so UTF-16 units beyond ASCII are hit
      s <- Gen.listOfN(len, Gen.frequency(
        8 -> Gen.alphaLowerChar, 1 -> Gen.const(' '),
        1 -> Gen.oneOf('é', '中', '￿')))
    } yield (k, w, mod, s.mkString)
    (1 to 300).foreach { seed =>
      val (k, w, mod, s) = draw(genCase, seed.toLong)
      assert(rolled(s, k, w, mod) === naive(s, k, w, mod),
        s"k=$k w=$w mod=$mod len=${s.length} seed=$seed")
    }
  }

  test("gram kernels equal their from-scratch references on random text") {
    import org.apache.spark.unsafe.types.UTF8String
    def naiveHashes(s: String, k: Int, mod: Long): Seq[Long] =
      (0 to s.length - k).map { i =>
        (0 until k).foldLeft(0L)((a, j) => (a * 31L + s.charAt(i + j)) % mod)
      }
    def naiveFirstPos(s: String, k: Int, mod: Long): Seq[(Long, Long)] = {
      val seen = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
      naiveHashes(s, k, mod).zipWithIndex.foreach { case (h, i) =>
        if (!seen.contains(h)) seen(h) = (i + 1).toLong
      }
      seen.toSeq
    }
    val genCase = for {
      k <- Gen.chooseNum(1, 12)
      mod <- Gen.oneOf(97L, 33554432L, 1L << 45)
      len <- Gen.chooseNum(0, 300)
      s <- Gen.listOfN(len, Gen.frequency(
        8 -> Gen.alphaLowerChar, 1 -> Gen.const(' '),
        1 -> Gen.oneOf('é', '中', '￿')))
    } yield (k, mod, s.mkString)
    (1 to 200).foreach { seed =>
      val (k, mod, s) = draw(genCase, seed.toLong)
      val u = UTF8String.fromString(s)
      val gh = graft.functions.GramHashes.gram_hashes(u, k, mod)
      val expected = if (s.length < k) Seq.empty else naiveHashes(s, k, mod)
      assert((0 until gh.numElements()).map(gh.getLong(_)) === expected,
        s"gram_hashes k=$k mod=$mod len=${s.length} seed=$seed")
      val gf = graft.functions.GramFirstPos.gram_first_pos(u, k, mod)
      val got = (0 until gf.numElements()).map { i =>
        val r = gf.getStruct(i, 2)
        (r.getLong(0), r.getLong(1))
      }
      val want = if (s.length < k) Seq.empty else naiveFirstPos(s, k, mod)
      assert(got === want,
        s"gram_first_pos k=$k mod=$mod len=${s.length} seed=$seed")
    }
  }

  test("winnowing guarantee: shared substring >= k+w-1 => shared print") {
    // the defining theorem of winnowing (Schleimer et al. §2): any
    // common substring of length >= k+w-1 forces at least one common
    // selected fingerprint. Fixed-seed random docs with planted spans.
    val rnd = new scala.util.Random(42)
    def randText(n: Int): String =
      (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val (k, w) = (8, 4)
    val span = randText(k + w - 1) // minimal guaranteed length
    val rows = (1 to 20).flatMap { i =>
      val a = randText(30) + span + randText(30)
      val b = randText(25) + span + randText(35)
      Seq((i * 2L, a), (i * 2L + 1L, b))
    }
    val fps = TextOps.winnowFingerprints(rows.toDF("doc_id", "text"), k, w)
      .collect().groupBy(_.getLong(0))
      .map { case (d, v) => d -> v.map(_.getLong(1)).toSet }
    (1 to 20).foreach { i =>
      val common = fps(i * 2L) & fps(i * 2L + 1L)
      assert(common.nonEmpty,
        s"pair $i shares a ${k + w - 1}-char span but no fingerprint")
    }
  }

  test("distributed CC matches driver union-find on the real pair graph") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val pairs = TextOps.ngramJaccardPairs(docs, 5, 1000L, 800000L)
    def labels(driverMax: Long) =
      TextOps.connectedComponents(pairs, driverMaxPairs = driverMax)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDriver = labels(1L << 22)
    val viaDistributed = labels(0L)
    assert(viaDistributed === viaDriver)
    assert(viaDriver.nonEmpty, "sf0.001 must contain near-dup pairs")
  }

  test("keepBest: highest quality wins its cluster, ties to lowest id") {
    val cc = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("doc_id", "component")
    // cluster 1: doc 2 alone holds the max quality; cluster 7: both
    // members tie, so the canonical must be the LOWER doc_id (7)
    val quality = Seq((1L, 10L), (2L, 30L), (3L, 20L), (7L, 5L), (9L, 5L))
      .toDF("doc_id", "quality_micro")
    val out = TextOps.keepBest(cc, quality).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 7L, 9L))
    assert(out(2L) === ((3L, 2L, true)), "doc 2 is cluster 1's best")
    assert(out(1L) === ((3L, 2L, false)))
    assert(out(3L) === ((3L, 2L, false)))
    assert(out(7L) === ((2L, 7L, true)), "quality tie breaks to min id")
    assert(out(9L) === ((2L, 7L, false)))
    // exactly one keeper per cluster, always
    val keepers = out.values.groupBy(_._2).map { case (c, vs) =>
      c -> vs.count(_._3) }
    assert(keepers === Map(2L -> 1, 7L -> 1))
  }

  test("tokenizerFertility: per-lang rollup consistent with bpeEncode") {
    val docsDf = Seq(
      (1L, "aa bb aa bb cc", "x"), (2L, "aa aa", "x"),
      (3L, "ddd ee ddd", "y"), (4L, "", "y"))
      .toDF("doc_id", "text", "lang")
    val langOf = Map(1L -> "x", 2L -> "x", 3L -> "y", 4L -> "y")
    val fert = TextOps.tokenizerFertility(docsDf, 3).collect()
      .map(r => r.getString(0) -> r).toMap
    // the same corpus through the per-doc census, rolled up by hand
    val enc = TextOps.bpeEncode(docsDf.select("doc_id", "text"), 3)
      .collect().groupBy(r => langOf(r.getLong(0)))
    assert(fert.keySet === Set("x", "y"))
    for (l <- Seq("x", "y")) {
      val rows = enc(l)
      assert(fert(l).getAs[Long]("n_docs") === rows.length.toLong)
      val words = rows.map(_.getAs[Long]("n_words")).sum
      val subs = rows.map(_.getAs[Long]("n_subtokens")).sum
      assert(fert(l).getAs[Long]("n_words") === words)
      assert(fert(l).getAs[Long]("n_subtokens") === subs)
      assert(fert(l).getAs[Long]("fertility_micro") ===
        math.floor(1000000.0 * subs / words).toLong)
    }
    // byte accounting: lang x = 7 two-char words; the empty doc 4
    // still counts toward y's n_docs
    assert(fert("x").getAs[Long]("word_bytes") === 14L)
    assert(fert("y").getAs[Long]("word_bytes") === 8L)
    assert(fert("y").getAs[Long]("n_docs") === 2L)
  }

  test("fractionalUpsample: deterministic repeats, both branches") {
    val docs = (1L to 300L).map { i =>
      (i, if (i <= 100) "a" else if (i <= 200) "b" else "c")
    }.toDF("doc_id", "source")
    val w = Seq("a" -> 2500000L, "c" -> 3000000L) // b: 1.0 default
    def run() = TextOps.fractionalUpsample(docs, w, "s").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val out = run()
    assert(out === run(), "same (corpus, salt) must re-derive the " +
      "identical repeat plan")
    // default source: exact pass-through
    assert(out("b") === ((1000000L, 100L, 100L)))
    // integral weight: exactly 3 repeats each, no coin involved
    assert(out("c") === ((3000000L, 100L, 300L)))
    // fractional weight: 2 guaranteed + bernoulli third
    val (wA, nA, eA) = out("a")
    assert(wA === 2500000L && nA === 100L)
    assert(eA >= 200L && eA <= 300L)
    // ~half the coins land heads; a 0-or-100 outcome would mean the
    // coin ignores doc_id
    assert(eA > 210L && eA < 290L, s"got $eA of [200,300]")
  }

  test("upsampleShards: copies scatter independently, misses drop") {
    val docs = (1L to 200L).map { i =>
      (i, if (i <= 100) "a" else "b")
    }.toDF("doc_id", "source")
    val w = Seq("a" -> 3000000L, "b" -> 500000L)
    def run() = TextOps.upsampleShards(docs, w, "s", 4, "e").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val out = run()
    assert(out.toSeq === run().toSeq, "same salts, same epoch stream")
    val byDoc = out.groupBy(_._3)
    // integral 3x: every a-doc contributes reps {1,2,3}
    (1L to 100L).foreach { d =>
      assert(byDoc(d).map(_._4).toSet === Set(1L, 2L, 3L))
    }
    // 0.5x: b-docs appear at most once; roughly half drop out entirely
    val bKept = (101L to 200L).count(byDoc.contains)
    assert((101L to 200L).forall(d =>
      byDoc.get(d).forall(_.length == 1)))
    assert(bKept > 25 && bKept < 75, s"got $bKept of 100 at weight 0.5")
    // positions are dense 1..n within each shard
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (1L to rows.length).toSeq)
    }
    // the 3 copies of most docs land in >1 shard — repeats scatter
    // instead of training back-to-back
    val scattered = (1L to 100L).count(d =>
      byDoc(d).map(_._1).toSet.size > 1)
    assert(scattered > 60, s"only $scattered of 100 docs scattered")
  }

  test("heapsCurve: nested fractions, exact full-corpus totals") {
    // doc i holds words w(5i)..w(5i+9): vocabulary grows with every
    // doc while neighbours share half their words
    val texts = (0 until 40).map { i =>
      (i.toLong, (5 * i until 5 * i + 10).map(j => s"w$j").mkString(" "))
    }
    val df = texts.toDF("doc_id", "text")
    val rows = TextOps.heapsCurve(df).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 4L, 8L))
    // nested fractions: every column monotone non-decreasing
    rows.sliding(2).foreach { case Array((_, a), (_, b)) =>
      assert(a._1 <= b._1 && a._2 <= b._2 &&
        a._3 <= b._3 && a._4 <= b._4, s"$a !<= $b")
    }
    // the full fraction is the exact corpus census
    val words = texts.flatMap(_._2.split(" "))
    val shingles = texts.flatMap(_._2.split(" ").sliding(5)
      .map(_.mkString(" ")).toSeq.distinct)
    assert(rows.last._2 === ((40L, words.length.toLong,
      words.distinct.length.toLong, shingles.distinct.length.toLong)))
  }

  test("jaccardHistogram: buckets and top-down cumulative counts") {
    val t1 = (1 to 20).map(i => s"a$i").mkString(" ")
    val t3 = t1 + " " + (1 to 180).map(i => s"b$i").mkString(" ")
    // 1 == 2 (jac 1.0 -> bucket 1000000); 3 shares 16 of 196 with each
    // (jac 81632 -> bucket 50000), twice
    val df = Seq((1L, t1), (2L, t1), (3L, t3)).toDF("doc_id", "text")
    val out = TextOps.jaccardHistogram(df, 5, 1000L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map(
      1000000L -> ((1L, 1L)),
      50000L -> ((2L, 3L))), s"got $out")
  }

  test("zipfCensus: frequency-of-frequencies with token coverage") {
    // a occurs 3x, b 2x, c 1x -> three census rows; cumulative
    // coverage reads top-down: freq>=3 covers 3 tokens, >=2 covers 5,
    // >=1 covers all 6
    val df = Seq((1L, "a a b"), (2L, "a b c")).toDF("doc_id", "text")
    val out = TextOps.zipfCensus(df).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(
      1L -> ((1L, 1L, 6L)),
      2L -> ((1L, 2L, 5L)),
      3L -> ((1L, 3L, 3L))), s"got $out")
  }

  test("minhashCalibration: perfect copies calibrate to zero error") {
    val t1 = (1 to 40).map(i => s"w$i").mkString(" ")
    val t2 = (100 to 140).map(i => s"x$i").mkString(" ")
    val df = Seq((1L, t1), (2L, t1), (3L, t1), (4L, t2))
      .toDF("doc_id", "text")
    val out = TextOps.minhashCalibration(df, 5).collect()
    assert(out.length === 1, "only the identical triple collides")
    val r = out.head
    assert(r.getLong(0) === 16L, "all 16 signature components match")
    assert(r.getLong(1) === 3L, "pairs (1,2) (1,3) (2,3)")
    assert(r.getLong(2) === 1000000L, "true Jaccard 1.0")
    assert(r.getLong(3) === 0L, "estimate == truth, zero error")
  }

  test("containment pairs: embedded doc caught where Jaccard misses") {
    // A (20 tokens) appears verbatim inside B (200 tokens): every one
    // of A's 16 5-shingles is in B, so containment = 1.0, while
    // Jaccard = 16/196 — far under the 0.8 dedup bar
    val aText = (1 to 20).map(i => s"a$i").mkString(" ")
    val bText = aText + " " + (1 to 180).map(i => s"b$i").mkString(" ")
    // C == D: the symmetric near-dup, caught by both metrics
    val cText = (1 to 30).map(i => s"c$i").mkString(" ")
    val df = Seq((1L, aText), (2L, bText), (3L, cText), (4L, cText),
      (5L, (1 to 30).map(i => s"e$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextOps.ngramContainmentPairs(df, 5, 1000L, 900000L, 800000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(5), r.getBoolean(7)))).toMap
    assert(out.keySet === Set((1L, 2L), (3L, 4L)))
    val (interAB, contAB, missedAB) = out((1L, 2L))
    assert(interAB === 16L)
    assert(contAB === 1000000L, "A fully contained in B")
    assert(missedAB, "Jaccard dilution: symmetric dedup misses A in B")
    val (_, contCD, missedCD) = out((3L, 4L))
    assert(contCD === 1000000L)
    assert(!missedCD, "identical docs are caught by Jaccard too")
  }

  test("bucketize: census terciles, tie groups bucket together") {
    // lang a: 9 distinct scores -> exact 3/3/3 terciles
    val a = (1L to 9L).map(i => (i, "train", 100L - i * 10L, "a"))
    // lang b: tie group (40,40) straddles the head boundary (n=4,
    // cum=3, 3*3 > 2*4) -> the whole group falls to TAIL; head keeps
    // only the score-50 doc, middle is legitimately empty
    val b = Seq((11L, "train", 50L, "b"), (12L, "val", 40L, "b"),
      (13L, "train", 40L, "b"), (14L, "test", 10L, "b"))
    // lang c: tie group (8,8) lands inside middle; 7 closes middle
    // exactly at cum*3 == 2n (boundary inclusive)
    val c = Seq((21L, "train", 9L, "c"), (22L, "train", 8L, "c"),
      (23L, "val", 8L, "c"), (24L, "train", 7L, "c"),
      (25L, "train", 3L, "c"), (26L, "test", 1L, "c"))
    val scored = (a ++ b ++ c)
      .toDF("doc_id", "split", "avg_lp_micro", "lang")
    val out = TextOps.bucketize(scored).collect()
      .map(r => r.getLong(0) -> ((r.getString(4), r.getLong(5)))).toMap
    assert(out.size === 19)
    val expectA = Map(1L -> "head", 2L -> "head", 3L -> "head",
      4L -> "middle", 5L -> "middle", 6L -> "middle",
      7L -> "tail", 8L -> "tail", 9L -> "tail")
    expectA.foreach { case (id, bkt) => assert(out(id) === ((bkt, 9L))) }
    assert(out(11L) === (("head", 4L)))
    assert(out(12L) === (("tail", 4L)), "tie group straddling a cut " +
      "falls wholly into the later bucket")
    assert(out(12L)._1 === out(13L)._1, "equal scores, equal bucket")
    assert(out(14L) === (("tail", 4L)))
    assert(out(21L) === (("head", 6L)))
    assert(out(22L) === (("middle", 6L)))
    assert(out(23L) === (("middle", 6L)))
    assert(out(24L) === (("middle", 6L)), "cum*3 == 2n is middle")
    assert(out(25L) === (("tail", 6L)))
    assert(out(26L) === (("tail", 6L)))
  }

  test("mgStep invariants on arbitrary counter multisets: <= k " +
    "survivors, counters never overcount, decrement bounded by the " +
    "rank-(k+1) value") {
    import org.apache.spark.sql.functions.col
    val genCounts: Gen[List[Long]] = for {
      n <- Gen.chooseNum(1, 60)
      cs <- Gen.listOfN(n, Gen.chooseNum(1L, 500L))
    } yield cs
    (1L to 6L).foreach { seed =>
      val counts = draw(genCounts, 7000 + seed)
      val rows = counts.zipWithIndex
        .map { case (c, i) => (0L, f"t$i%02d", c) }
        .toDF("bucket", "token", "c")
      val truth = counts.zipWithIndex
        .map { case (c, i) => f"t$i%02d" -> c }.toMap
      val k = graft.operators.SketchQueries.MgK
      val t = counts.sorted(Ordering[Long].reverse)
        .drop(k).headOption.getOrElse(0L)
      val out = graft.operators.SketchQueries
        .mgStep(rows, col("bucket")).collect()
        .map(r => r.getString(1) -> r.getLong(2))
      assert(out.length <= k, s"seed $seed: ${out.length} survivors")
      out.foreach { case (tok, c) =>
        assert(c > 0 && c == truth(tok) - t,
          s"seed $seed: $tok counter $c vs true ${truth(tok)} t=$t")
      }
      // every counter above the threshold survives
      val survivors = out.map(_._1).toSet
      truth.foreach { case (tok, c) =>
        if (c > t) assert(survivors.contains(tok), s"seed $seed: $tok")
      }
    }
  }

  test("editDistancePairs invariants: dist bounded by capped lengths " +
    "and symmetric in content") {
    val d = docs(303L, 30)
    val out = TextOps.editDistancePairs(d, 5, capChars = 64,
      relMicroMax = 1000000L).collect()
    out.foreach { r =>
      val (l1, l2, dist, rel) = (r.getAs[Long]("len1"),
        r.getAs[Long]("len2"), r.getAs[Long]("edit_dist"),
        r.getAs[Long]("rel_micro"))
      assert(l1 <= 64 && l2 <= 64)
      assert(dist <= math.max(l1, l2),
        "edit distance never exceeds the longer string")
      assert(dist >= math.abs(l1 - l2),
        "edit distance at least the length difference")
      assert(rel >= 0L && rel <= 1000000L)
    }
  }

  test("ccDistributed: 65-node chain converges in log-diameter rounds") {
    // worst case for plain min-label propagation (diameter 64 would need
    // 64 rounds); pointer jumping must collapse it in ~log2(64) rounds
    val pairs = (0 until 64).map(i => (i.toLong, i + 1L)).toDF("d1", "d2")
    val (labels, rounds) = TextOps.ccDistributed(pairs, maxRounds = 15)
    val out = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size === 65)
    assert(out.values.forall(_ == 0L), "all chain nodes reach component 0")
    assert(rounds <= 10, s"expected log-diameter convergence, got $rounds")
  }
}
