package graft

import org.apache.spark.sql.functions._

import graft.operators.TextOps

class TextOpsSpec extends SparkSpec {
  import sqlImplicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("goodTuringCensus: hand-computed r*, unseen mass, totals") {
    // tokens a a a b b c -> counts a:3 b:2 c:1 -> N_1=N_2=N_3=1;
    // T=6, V=3; r*(1) = 2*N_2/N_1 = 2.0; r*(2) = 3*N_3/N_2 = 3.0;
    // r*(3) = 0 (empty next cell); p0 = N_1/T = 1/6 -> 166666
    val out = TextOps.goodTuringCensus(docs((1L, "a a a b b c")))
      .orderBy("r").collect()
      .map(r => (r.getAs[Long]("r"), r.getAs[Long]("n_r"),
        r.getAs[Long]("n_next"), r.getAs[Long]("r_star_micro"),
        r.getAs[Long]("t_tokens"), r.getAs[Long]("v_types"),
        r.getAs[Long]("p0_micro")))
    assert(out.toSeq === Seq(
      (1L, 1L, 1L, 2000000L, 6L, 3L, 166666L),
      (2L, 1L, 1L, 3000000L, 6L, 3L, 166666L),
      (3L, 1L, 0L, 0L, 6L, 3L, 166666L)))
  }

  test("richnessCensus: hand-computed Chao1 and ACE, all-singleton " +
    "coverage guard") {
    // tokens a a a b b c: V=3, N1=N2=1, all rare (r<=10) -> v_rare=3,
    // n_rare=6, sum_rr1 = 2*1*1 + 3*2*1 = 8; chao1 = 3 + 0//4 = 3;
    // C = 1 - 1/6, gamma2 = max(0, 24/25 - 1) = 0,
    // ace = 0 + 3/C + (1/C)*0 = 3.5999999999999996 -> 3599999
    val r = TextOps.richnessCensus(docs((1L, "a a a b b c")))
      .collect().head
    assert((r.getAs[Long]("v_types"), r.getAs[Long]("t_tokens"),
      r.getAs[Long]("n1"), r.getAs[Long]("n2"),
      r.getAs[Long]("v_rare"), r.getAs[Long]("v_abund"),
      r.getAs[Long]("n_rare"), r.getAs[Long]("chao1_est"),
      r.getAs[Long]("ace_micro")) ===
      (3L, 6L, 1L, 1L, 3L, 0L, 6L, 3L, 3599999L))
    // all singletons: n1 = n_rare -> C = 0 -> ACE undefined, guard 0;
    // chao1 = 3 + (3*2)//(2*1) = 6
    val s = TextOps.richnessCensus(docs((1L, "a b c"))).collect().head
    assert(s.getAs[Long]("chao1_est") === 6L)
    assert(s.getAs[Long]("ace_micro") === 0L)
  }

  test("yuleK: hand-computed K and Simpson, all-distinct reads zero, " +
    "single-token guard") {
    import spark.implicits._
    // srcA "a a a b": counts 3,1 -> T=4, V=2, M2=10;
    // K = 1e4*(10-4)/16 = 3750 -> 3750000000 micro;
    // S = 6/(4*3) = 0.5 -> 500000
    // srcB "a b c d": M2 = T -> K = 0, S = 0
    // srcC "a": T=1 -> K = 0 (1e4*(1-1)/1), S guard fires
    val corpus = Seq((1L, "a a a b", "srcA"), (2L, "a b c d", "srcB"),
      (3L, "a", "srcC")).toDF("doc_id", "text", "source")
    val out = TextOps.yuleK(corpus).orderBy("source").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("t_tokens"),
        r.getAs[Long]("v_types"), r.getAs[Long]("m2"),
        r.getAs[Long]("yule_k_micro"), r.getAs[Long]("simpson_micro")))
    assert(out.toSeq === Seq(
      ("srcA", 4L, 2L, 10L, 3750000000L, 500000L),
      ("srcB", 4L, 4L, 4L, 0L, 0L),
      ("srcC", 1L, 1L, 1L, 0L, 0L)))
  }

  test("knScore: hand-computed single-doc KN probability; continuation " +
    "probability separates what add-one cannot") {
    // all-train (trainPct 100): "a b a b a" -> cb (a,b)=2 (b,a)=2;
    // ctx a/b: cu=2 nf=1; nb a/b: 1; B=2, V=2 -> pc = 2/5;
    // P = max(2-0.75,0)/2 + (0.75*1/2)*(2/5) for BOTH bigram types
    val p = math.max(2 - 0.75, 0.0) / 2 + ((0.75 * 1) / 2) * (2.0 / 5)
    val exp = math.floor(1e6 * math.log(p)).toLong
    val one = TextOps.knScore(docs((1L, "a b a b a")), 100, 0)
      .collect().head
    assert((one.getAs[String]("split"), one.getAs[Long]("n_bigrams"),
      one.getAs[Long]("avg_lp_micro")) === ("train", 4L, exp))

    // KN's signature: "francisco" is FREQUENT but follows one context;
    // "the" is rarer but follows many. Probe bigrams (q1,francisco) and
    // (q2,the) both occur once, so ADD-ONE scores them identically —
    // KN ranks the many-context word higher via Pc.
    val corpus = docs(
      (1L, Seq.fill(10)("san francisco").mkString(" ")),
      (2L, "x the y the z the"),
      (3L, "q1 francisco"),
      (4L, "q2 the"))
    def score(df: org.apache.spark.sql.DataFrame, id: Long): Long =
      df.filter(col("doc_id") === id).collect()
        .head.getAs[Long]("avg_lp_micro")
    val kn = TextOps.knScore(corpus, 100, 0)
    assert(score(kn, 4L) > score(kn, 3L))
    val addOne = TextOps.lmScore(corpus, 100, 0)
    assert(score(addOne, 4L) === score(addOne, 3L))
  }

  test("spliceCoherence: coherent doc reads 1e6, spliced doc reads 0 " +
    "and flags suspect, single-half doc is degenerate not averaged") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b a b", "srcA"),  // halves {a,b}/{a,b} -> coherence 1e6
      (2L, "a a b b", "srcA"),  // halves {a}/{b} -> 0, under the bar
      (3L, "x", "srcB"))        // single token -> second half empty
      .toDF("doc_id", "text", "source")
    val out = TextOps.spliceCoherence(corpus).orderBy("source").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_degenerate"), r.getAs[Long]("n_suspect"),
        r.getAs[Long]("coh_mean_micro"), r.getAs[Long]("coh_min_micro")))
    assert(out.toSeq === Seq(
      ("srcA", 2L, 0L, 1L, 500000L, 0L),
      ("srcB", 1L, 1L, 0L, 0L, 0L)))
  }

  test("detectorDisagreement: class counts partition both detectors' " +
    "pair sets; jac profile ordered") {
    import graft.operators.TextQueries
    val corpus = graft.sources.Tables
      .documents(spark, "/root/testdata/sf0.001")
    val out = TextOps.detectorDisagreement(corpus, TextQueries.ShingleN,
      TextQueries.MinhashJacMin, TextQueries.SimhashMaxHamming)
      .collect()
      .map(r => r.getAs[String]("verdict") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("mean_jac_micro"),
          r.getAs[Long]("min_jac_micro"), r.getAs[Long]("max_jac_micro")))
      .toMap
    def n(v: String) = out.get(v).map(_._1).getOrElse(0L)
    // the census classes partition each detector's own pair set
    val mhPairs = TextOps.minhashLshPairs(corpus, TextQueries.ShingleN,
      TextQueries.MinhashJacMin).count()
    val shPairs = TextOps.simhashPairs(corpus,
      TextQueries.SimhashMaxHamming).count()
    assert(n("both") + n("minhash_only") === mhPairs)
    assert(n("both") + n("simhash_only") === shPairs)
    assert(n("both") > 0L) // true dups are caught by both detectors
    // per-class profile is internally consistent
    out.values.foreach { case (np, mean, mn, mx) =>
      assert(np > 0L && mn <= mean && mean <= mx)
    }
    // the detectors genuinely disagree somewhere (the census's reason
    // to exist): at least one of the exclusive classes is non-empty
    assert(n("minhash_only") + n("simhash_only") > 0L)
  }

  test("clusterPurity: star audit exposes a chained cluster the " +
    "pairwise bar admitted") {
    // shingle sets (n=5): doc1 {abcde,bcdef}, doc2 {abcde,bcdeg},
    // doc3 {xyzwv,yzwvu}; pairs (1,2),(2,3) chain all three into
    // component 1; star from rep 1: jac(1,2)=1/3 -> 333333,
    // jac(1,3)=0 -> min exposes the chain; mean = 333333 div 2
    val d = docs((1L, "a b c d e f"), (2L, "a b c d e g"),
      (3L, "x y z w v u"))
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("d1", "d2")
    val out = TextOps.clusterPurity(d, pairs, 5).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getAs[Long]("component"), r.getAs[Long]("n_docs"),
      r.getAs[Long]("min_star_micro"),
      r.getAs[Long]("mean_star_micro")) === (1L, 3L, 0L, 166666L))
  }

  test("clusterDepthCensus: BFS ecc on a chain, star reads ecc 1, " +
    "cap surfaces deep members as n_beyond") {
    import sqlImplicits._
    // chain 1-2-3-4-5: rep 1, depths 0..4 -> ecc 4;
    // star 10-{11,12,13}: rep 10, ecc 1
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (10L, 12L), (10L, 13L)).toDF("d1", "d2")
    val out = TextOps.clusterDepthCensus(pairs, 8)
      .collect().map(r => (r.getAs[Long]("component"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("ecc"),
        r.getAs[Long]("n_beyond")))
    assert(out.toSeq === Seq((1L, 5L, 4L, 0L), (10L, 4L, 1L, 0L)))
    // cap 2: chain members 4,5 sit past the horizon -> ecc cap+1,
    // counted loudly, never silently dropped
    val capped = TextOps.clusterDepthCensus(pairs, 2)
      .collect().map(r => (r.getAs[Long]("component"),
        r.getAs[Long]("ecc"), r.getAs[Long]("n_beyond"))).toSeq
    assert(capped === Seq((1L, 3L, 2L), (10L, 1L, 0L)))
  }

  test("shingles: 5-grams in order, empty below n tokens") {
    val out = docs((1L, "a b c d e f"), (2L, "a b"))
      .select($"doc_id", TextOps.shingles(TextOps.tokens($"text"), 5).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L) === Seq("a b c d e", "b c d e f"))
    assert(out(2L) === Seq.empty)
  }

  test("winnowFingerprints: matches the hand-computed winnow set") {
    // k=8, w=4 over "hello world abc": gram hashes computed by the
    // rolling recurrence a' = (a*31 + ord(c)) mod 2^25; winnow mins
    // verified by hand against the reference algorithm
    val out = TextOps.winnowFingerprints(
        docs((1L, "hello world abc"), (2L, "short")), 8, 4)
      .collect().groupBy(_.getLong(0))
      .map { case (k2, v) => k2 -> v.map(_.getLong(1)).toSet }
    assert(out(1L) === Set(2615151L, 3067573L))
    assert(!out.contains(2L), "docs shorter than k emit no fingerprints")
    // shared-substring guarantee: any common substring of length >=
    // k+w-1 yields at least one shared fingerprint
    val shared = TextOps.winnowFingerprints(docs(
        (1L, "prefix AAA the quick brown fox jumps ZZZ"),
        (2L, "other text the quick brown fox jumps yy")), 8, 4)
      .collect().groupBy(_.getLong(0))
      .map { case (k2, v) => k2 -> v.map(_.getLong(1)).toSet }
    assert((shared(1L) & shared(2L)).nonEmpty)
  }

  test("winnowFingerprints: codegen and interpreted paths agree") {
    val d = docs((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a" * 40), (3L, "short"))
    def run(): Seq[(Long, Long)] =
      TextOps.winnowFingerprints(d, 8, 4).orderBy("doc_id", "fingerprint")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val withCodegen = run()
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      assert(run() === withCodegen)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("contamination: flags only high-overlap cross-split pairs") {
    val corpus = graft.sources.Tables
      .documents(spark, "/root/testdata/sf0.01").select("doc_id", "text")
    val out = TextOps.contamination(corpus, 80, 10, 8, 4, 1000L, 500000L)
      .collect()
    assert(out.nonEmpty, "the corpus plants near-dups straddling splits")
    out.foreach { r =>
      assert(r.getLong(3) >= 500000L, "ratio filter must hold")
      assert(r.getLong(2) > 0L)
    }
    // raising the bar to exact-duplication keeps only full containment
    val strict = TextOps.contamination(corpus, 80, 10, 8, 4, 1000L,
      999999L).collect()
    assert(strict.length <= out.length)
  }

  test("stratifiedSample: exactly n per stratum, salt-deterministic") {
    val corpus = graft.sources.Tables
      .documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "text")
    def draw(salt: String) = TextOps
      .stratifiedSample(corpus, "source", 3, salt)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val a = draw("s1")
    assert(a.groupBy(_._1).forall(_._2.length == 3),
      "exactly 3 docs per stratum")
    assert(a.groupBy(_._1).forall(_._2.map(_._3).sorted.sameElements(
      Seq(1L, 2L, 3L))), "dense ranks 1..n")
    assert(draw("s1").toSet === a.toSet, "same salt reproduces the draw")
    assert(draw("s2").map(_._2).toSet !== a.map(_._2).toSet,
      "a new salt draws an independent sample")
  }

  test("decontaminate drops exactly the flagged train docs, evals whole") {
    val corpus = graft.sources.Tables
      .documents(spark, "/root/testdata/sf0.01").select("doc_id", "text")
    val pairs = TextOps.contamination(corpus, 80, 10, 8, 4, 1000L,
      500000L).collect()
    val flagged = pairs.map(_.getLong(1)).toSet // train_doc column
    val out = TextOps.decontaminate(corpus, 80, 10, 8, 4, 1000L,
      500000L).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_dropped"),
          r.getAs[Long]("n_kept"), r.getAs[Long]("retained_micro")))
      .toMap
    assert(out("train")._2 === flagged.size.toLong,
      "drop count = distinct flagged train docs")
    assert(out("test")._2 === 0L && out("val")._2 === 0L,
      "eval splits are never touched")
    out.foreach { case (_, (n, d, kept, rm)) =>
      assert(kept === n - d)
      assert(rm === math.floor(1e6 * kept.toDouble / n).toLong)
    }
  }

  test("piiScrub: counts and redacts planted emails/phones") {
    val out = TextOps.piiScrub(docs(
        (1L, "mail me at a.b+c@ex-ample.org or call 555-867-5309 now"),
        (2L, "clean text only")))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L)._1 === 1L)
    assert(out(1L)._2 === 1L)
    val expectedRedacted = "mail me at <EMAIL> or call <PHONE> now"
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(expectedRedacted.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out(1L)._3 === sha, "redaction order: emails then phones")
    assert(out(2L) === (0L, 0L,
      java.security.MessageDigest.getInstance("SHA-256")
        .digest("clean text only".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString))
  }

  test("tokenCounts: BPE-style pre-tokens vs whitespace words") {
    val out = TextOps.tokenCounts(docs(
        (1L, "don't stop"),
        (2L, "hello, world! 42")))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    // don|'t| stop ; hello|,| world|!| 42
    assert(out(1L) === (2L, 3L))
    assert(out(2L) === (3L, 5L))
  }

  test("lmScore: in-distribution text outscores out-of-vocabulary noise") {
    // many docs repeating the same phrase train a confident bigram
    // model; the noise doc's bigrams all back off to the 1/(0+V) floor
    val common = (1L to 40L).map(i => (i, "the quick brown fox jumps"))
    val noise = Seq((900L, "zzq xvw qqj kpl mmx"))
    val out = TextOps.lmScore((common ++ noise).toDF("doc_id", "text"),
        80, 10)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(out.contains(900L))
    val (_, nBi, noiseScore) = out(900L)
    assert(nBi === 4L)
    val fluent = out.filter(_._1 <= 40L).values.map(_._3)
    assert(fluent.forall(_ > noiseScore),
      s"fluent docs must outscore noise: ${fluent.min} vs $noiseScore")
    // deterministic: pure function of the corpus
    val again = TextOps.lmScore((common ++ noise).toDF("doc_id", "text"),
      80, 10).collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(again === out.map { case (k, v) => k -> v._3 })
  }

  test("repetitionStats: phrase loops counted, clean prose near zero") {
    val out = TextOps.repetitionStats(docs(
        // "click here now" ×3 -> the 3-gram "click here now" repeats
        (1L, "click here now click here now click here now"),
        (2L, "nine distinct words make one clean readable sentence ok"),
        (3L, "too short")) // < 3 tokens: no grams, drops out
      , 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1: 9 tokens -> 7 grams; "click here now" occurs 3x,
    // "now click here" and "here now click" 2x each -> 7 repeated
    assert(out(1L) === ((7L, 7L, 1000000L)))
    assert(out(2L) === ((7L, 0L, 0L)))
    assert(!out.contains(3L))
  }

  test("boilerplateStats: top-df grams flagged, verdict under the bar") {
    // "subscribe now" appears in docs 1-3 (df 3) — the only bigram with
    // df > 1, so a k=1 cut selects exactly it
    val out = TextOps.boilerplateStats(docs(
        (1L, "subscribe now for great original articles"),
        (2L, "another piece subscribe now subscribe now"), // 2 of 5 grams
        (3L, "subscribe now"),                             // 1 hit / 1
        (4L, "wholly original text with no banner"),
        (5L, "tiny")) // 1 token: zero bigrams
      , n = 2, k = 1, barMicro = 400000L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) === ((5L, 1L, 200000L, 1L)))
    assert(out(2L) === ((5L, 2L, 400000L, 0L)), "at the bar drops")
    assert(out(3L) === ((1L, 1L, 1000000L, 0L)))
    assert(out(4L) === ((5L, 0L, 0L, 1L)))
    assert(out(5L) === ((0L, 0L, 0L, 1L)), "gramless docs are kept")
  }

  test("qualityRules: each rule flags independently, pass is the and") {
    val out = TextOps.qualityRules(docs(
        // 6 tokens (< minTok 8) but otherwise clean
        (1L, "the quick brown fox jumps over"),
        // 8 distinct tokens incl. stopword, balanced -> passes all
        (2L, "the quick brown fox jumps over every fence"),
        // 8 tokens, no stopword -> r_stop fails
        (3L, "quick brown fox jumps over every fence post"),
        // "spam" 6/8 = 0.75 top share and ttr 3/8 < 0.5 -> r_top+r_ttr
        (4L, "the spam spam spam spam spam spam ok"))
      , minTok = 8L, maxTok = 100L, ttrMinMicro = 500000L,
        topMaxMicro = 500000L, minStops = 1L)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("r_len"), r.getAs[Long]("r_wlen"),
          r.getAs[Long]("r_ttr"), r.getAs[Long]("r_top"),
          r.getAs[Long]("r_stop"), r.getAs[Long]("pass"))).toMap
    assert(out(1L) === ((0L, 1L, 1L, 1L, 1L, 0L)))
    assert(out(2L) === ((1L, 1L, 1L, 1L, 1L, 1L)))
    assert(out(3L) === ((1L, 1L, 1L, 1L, 0L, 0L)))
    assert(out(4L) === ((1L, 1L, 0L, 0L, 1L, 0L)))
  }

  test("qualityRules metrics are exact micro floors") {
    val out = TextOps.qualityRules(docs(
        (1L, "aa bb aa")), 1L, 10L, 0L, 1000000L, 0L).collect().head
    assert(out.getAs[Long]("n_tokens") === 3L)
    // 6 chars / 3 tokens = 2.0; ttr 2/3; top share 2/3
    assert(out.getAs[Long]("mean_wlen_micro") === 2000000L)
    assert(out.getAs[Long]("ttr_micro") === 666666L)
    assert(out.getAs[Long]("top_share_micro") === 666666L)
    assert(out.getAs[Long]("r_wlen") === 0L, "mean length 2 < 3 fails")
  }

  test("temperatureMix: sqrt rates keep the smallest source whole") {
    val out = TextOps.temperatureMix(Seq(
        (1L, "web", "one two three four"),          // 4 tokens
        (2L, "web", "five six seven eight"),        // web: 8 total
        (3L, "code", "fn main"),                    // code: 2 total
        (4L, "wiki", "a b c d e f g h"))            // wiki: 8 total
      .toDF("doc_id", "source", "text"))
      .orderBy("source").collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("tokens"),
          r.getAs[Long]("rate_micro"), r.getAs[Long]("kept_tokens"),
          r.getAs[Long]("eff_share_micro"))).toMap
    // t_min = 2: code rate = 1.0 (kept whole), web/wiki = sqrt(2/8) =
    // 0.5; kept = 2/4/4 of 10 -> shares 0.2/0.4/0.4
    assert(out("code") === ((1L, 2L, 1000000L, 2L, 200000L)))
    assert(out("web") === ((2L, 8L, 500000L, 4L, 400000L)))
    assert(out("wiki") === ((1L, 8L, 500000L, 4L, 400000L)))
  }

  test("temperatureMixAlpha: dyadic rates exact by hand at α = ¼ and " +
      "¾; α = ½ reproduces temperatureMix") {
    // sources a: 4 tokens, b: 64 tokens → x_b = tmin/t_b = 1/16, a
    // power of two so every sqrt chain lands on exact dyadics:
    //  α = ¼ (e = ¾): rate_b = (1/16)^(3/4) = 1/8  → 125000 micro,
    //    kept 4 + 8 = 12 → shares 333333 / 666666
    //  α = ¾ (e = ¼): rate_b = (1/16)^(1/4) = 1/2  → 500000 micro,
    //    kept 4 + 32 = 36 → shares 111111 / 888888
    val d = Seq(
      (1L, "a", "t1 t2 t3 t4"),
      (2L, "b", (1 to 64).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
    def rowsAt(num: Int, l2d: Int) =
      TextOps.temperatureMixAlpha(d, num, l2d).orderBy("source")
        .collect().map(r => r.getString(1) ->
          (r.getAs[Long]("alpha_micro"), r.getAs[Long]("rate_micro"),
            r.getAs[Long]("kept_tokens"),
            r.getAs[Long]("eff_share_micro"))).toMap
    val q = rowsAt(1, 2)
    assert(q("a") === ((250000L, 1000000L, 4L, 333333L)))
    assert(q("b") === ((250000L, 125000L, 8L, 666666L)))
    val th = rowsAt(3, 2)
    assert(th("a") === ((750000L, 1000000L, 4L, 111111L)))
    assert(th("b") === ((750000L, 500000L, 32L, 888888L)))
    // α = ½ through the dyadic machinery ≡ the dedicated sqrt form
    val half = TextOps.temperatureMixAlpha(d, 1, 1)
      .drop("alpha_micro").orderBy("source").collect().map(_.toSeq)
    val fixed = TextOps.temperatureMix(d).orderBy("source")
      .collect().map(_.toSeq)
    assert(half.toSeq === fixed.toSeq)
  }

  test("curationWaterfall: sequential drop attribution — a doc failing " +
      "BOTH gates counts against quality, the first gate") {
    val d = Seq(
      (1L, "s", "alpha beta gamma delta"),  // clean survivor
      (2L, "s", "alpha beta gamma delta"),  // dup target of 1
      (3L, "s", "zz"))                       // to be quality-dropped
      .toDF("doc_id", "source", "text")
    val pairs = Seq((1L, 2L, 900000L), (1L, 3L, 900000L))
      .toDF("d1", "d2", "jac_micro")
    // bar 0: everything passes quality; docs 2 AND 3 drop at dedup
    val loose = TextOps.curationWaterfall(d, 5, 1000L, 800000L, 0L,
        Some(pairs)).collect().head
    assert((loose.getAs[Long]("n_raw"), loose.getAs[Long]("n_quality"),
      loose.getAs[Long]("n_final"), loose.getAs[Long]("drop_quality"),
      loose.getAs[Long]("drop_dedup")) === ((3L, 3L, 1L, 0L, 2L)))
    // impossible bar: every doc drops at QUALITY — the dup flags on
    // docs 2/3 must NOT double-count at the dedup stage
    val strict = TextOps.curationWaterfall(d, 5, 1000L, 800000L,
        2000000L, Some(pairs)).collect().head
    assert((strict.getAs[Long]("n_quality"),
      strict.getAs[Long]("n_final"), strict.getAs[Long]("drop_quality"),
      strict.getAs[Long]("drop_dedup"),
      strict.getAs[Long]("doc_retention_ppm")) ===
      ((0L, 0L, 3L, 0L, 0L)))
    // token masses: raw counts all tokens, final only the survivor's
    assert(loose.getAs[Long]("tokens_raw") === 4L + 4L + 1L)
    assert(loose.getAs[Long]("tokens_final") === 4L)
    assert(loose.getAs[Long]("token_retention_ppm") ===
      1000000L * 4L / 9L)
  }

  test("boilerplateStats top-k cut is deterministic under df ties") {
    // every bigram has df 1 -> the cut falls entirely on the gram
    // string order; k=2 must select the two lexicographically smallest
    val out = TextOps.boilerplateStats(docs(
        (1L, "bb cc"), (2L, "aa dd"), (3L, "cc aa")),
        n = 2, k = 2, barMicro = 2000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // grams: "bb cc", "aa dd", "cc aa" -> sorted: "aa dd", "bb cc"
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 0L))
  }

  test("trainingMix: bottleneck kept whole, others downsampled to mixture") {
    // webby: 60 tokens, target 20%; bookish: 20 tokens, target 80%.
    // bookish is the bottleneck (scarcest vs target) -> rate 1;
    // webby rate = (20*20)/(80*60) = 1/12.
    val d = Seq(
      (1L, ("w " * 60).trim, "webby"),
      (2L, ("b " * 20).trim, "bookish"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.trainingMix(d, Seq(("webby", 20L), ("bookish", 80L)))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(4),
        r.getLong(5))).toMap
    assert(out("bookish") === ((20L, 1000000L, 20L)))
    val (wTok, wRate, wKept) = out("webby")
    assert(wTok === 60L)
    assert(wRate === 83333L) // floor(1e6/12)
    assert(wKept === 4L)     // floor(60 * 83333 / 1e6)
    // resulting mix ~ 4:20 tokens = 1:5 vs target 20:80 = 1:4 (floor
    // quantization) — the bottleneck source is never subsampled
  }

  test("sampleSplit: deterministic, exhaustive, and stratified by lang") {
    val d = (1L to 200L).map(i => (i, s"doc $i tokens here", s"l${i % 3}"))
      .toDF("doc_id", "text", "lang")
    val out = TextOps.sampleSplit(d, 80, 10).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // every doc lands in exactly one split
    assert(out.values.map(_._1).sum === 200L)
    assert(out.keys.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
    // pure function of doc_id: a second run is identical
    val again = TextOps.sampleSplit(d, 80, 10).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(again === out)
  }

  test("packSequences: contiguous integer packing per shard") {
    val d = (1L to 100L).map(i => (i, ("tok " * (i % 7 + 1).toInt).trim))
      .toDF("doc_id", "text")
    val rows = TextOps.packSequences(d, 4, 16L)
      .orderBy("shard", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(_._2).toSet === (1L to 100L).toSet)
    rows.groupBy(_._1).foreach { case (_, shardRows) =>
      var cum = 0L
      shardRows.foreach { case (_, _, nTok, bin, off) =>
        assert(bin === cum / 16L, "bin = start offset / ctx")
        assert(off === cum % 16L)
        assert(off >= 0L && off < 16L)
        cum += nTok
      }
    }
  }

  test("tokenStats: counts and micro ratios") {
    val r = TextOps.tokenStats(docs((1L, "the a the b"))).collect().head
    assert(r.getAs[Long]("n_tokens") === 4L)
    assert(r.getAs[Long]("n_distinct") === 3L)
    // 3 of 4 tokens are stopwords -> floor(1e6 * 3/4)
    assert(r.getAs[Long]("stopword_micro") === 750000L)
    assert(r.getAs[Long]("distinct_micro") === 750000L)
  }

  test("dedupExact groups identical content") {
    val out = TextOps.dedupExact(
      docs((1L, "same text"), (2L, "same text"), (3L, "other")))
      .orderBy("keeper").collect()
    assert(out.length === 2)
    assert(out.head.getAs[Long]("keeper") === 1L)
    assert(out.head.getAs[Long]("n_docs") === 2L)
  }

  /** Two 25-token docs differing in one token: shingle Jaccard
    * = 16/26 ≈ 0.615; a third unrelated doc shares nothing.
    */
  private val nearDupDocs = {
    val base = (1 to 25).map(i => s"w$i")
    val variant = base.updated(12, "CHANGED")
    val other = (1 to 25).map(i => s"z$i")
    docs((1L, base.mkString(" ")), (2L, variant.mkString(" ")),
      (3L, other.mkString(" ")))
  }

  test("ngramJaccardPairs finds the planted near-dup pair only") {
    val out = TextOps.ngramJaccardPairs(nearDupDocs, 5, 1000L, 500000L)
      .collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getAs[Long]("d1"), r.getAs[Long]("d2")) === (1L, 2L))
    // |A|=|B|=21 shingles, 16 shared: floor(1e6 * 16/26)
    assert(r.getAs[Long]("inter") === 16L)
    assert(r.getAs[Long]("jac_micro") === 615384L)
  }

  /** LSH banding (4 bands × 4 rows) reliably catches Jaccard ≳ 0.9, so
    * the minhash fixture is a one-token APPEND on a 40-token doc:
    * 36 of 37 shingles shared, Jaccard = 36/37 ≈ 0.973. (The 0.615-pair
    * fixture above is legitimately below the banding threshold — missing
    * it is correct LSH behavior, not a bug.)
    */
  test("minhashLshPairs candidates agree with verified Jaccard") {
    val base = (1 to 40).map(i => s"w$i")
    val closeDocs = docs(
      (1L, base.mkString(" ")),
      (2L, (base :+ "extra").mkString(" ")),
      (3L, (1 to 40).map(i => s"z$i").mkString(" ")))
    val out = TextOps.minhashLshPairs(closeDocs, 5, 500000L).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getAs[Long]("d1"), r.getAs[Long]("d2")) === (1L, 2L))
    assert(r.getAs[Long]("inter") === 36L)
    assert(r.getAs[Long]("jac_micro") === 972972L) // floor(1e6 * 36/37)
    assert(r.getAs[Long]("n_match") >= 10L,
      "minhash agreement should roughly track 0.973 Jaccard")
  }

  test("simhash: near-identical docs collide, unrelated docs do not") {
    val sims = TextOps.simhash(nearDupDocs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sims(1L), sims(2L)) <
      hamming(sims(1L), sims(3L)),
      "one-token edit must be closer than a disjoint-vocab doc")
  }

  test("langScores kernel equals the replace-trick counts; codegen parity") {
    import org.apache.spark.unsafe.types.UTF8String
    val weights = TextOps.LangProfiles.map(_._2.map(_._1.toLong).toArray)
      .toArray
    val needles = TextOps.LangProfiles.map(_._2.map(_._2).toArray).toArray
    def replaceTrick(s: String, n: String): Long =
      ((s.length - s.replace(n, "").length) / n.length).toLong
    val rnd = new scala.util.Random(11)
    val texts = Seq.tabulate(20)(_ =>
      Seq.fill(15 + rnd.nextInt(30))(rnd.alphanumeric.take(
        1 + rnd.nextInt(5)).mkString).mkString(" ")) :+
      "that the scheme touched a char " :+ "" :+ "th"
    texts.foreach { s =>
      val out = graft.functions.LangScores.lang_scores(
        UTF8String.fromString(s), weights, needles)
      TextOps.LangProfiles.zipWithIndex.foreach { case ((_, evid), l) =>
        val want = evid.map { case (w, sub) =>
          w.toLong * replaceTrick(s, sub)
        }.sum
        assert(out.getLong(l) === want, s"lang $l over '$s'")
      }
    }
    // codegen and interpreted paths agree through the full langId
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    def run() = TextOps.langId(d).orderBy("doc_id").collect()
      .map(_.toSeq).toSeq
    val withCodegen = run()
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      assert(run() === withCodegen)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("langId is deterministic and confidence-bounded") {
    val out = TextOps.langId(
      docs((1L, "the batch the merge a scan"), (2L, "scan schema merge")))
      .collect()
    assert(out.forall(r => r.getAs[Long]("conf_micro") <= 1000000L))
    assert(out.forall(r =>
      TextOps.LangProfiles.map(_._1).contains(r.getAs[String]("lang_pred"))))
  }

  test("fingerprints: sha256 matches JDK digest; min shingle hash set") {
    val text = "one two three four five six"
    val r = TextOps.fingerprints(docs((1L, text)), 5).collect().head
    val jdk = java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getAs[String]("sha") === jdk)
    assert(r.getAs[Long]("min_shingle_hash") > 0L)
  }

  test("gramHashes: rolling update matches the direct polynomial hash") {
    val mod = TextOps.SubMod
    val k = 32
    val rnd = new scala.util.Random(7)
    val texts = Seq.tabulate(5)(i =>
      (i.toLong, rnd.alphanumeric.take(40 + rnd.nextInt(60)).mkString))
    def naive(s: String): Seq[Long] =
      (0 to s.length - k).map { i =>
        s.substring(i, i + k).foldLeft(0L)((a, c) => (a * 31 + c) % mod)
      }
    val gh = graft.functions.Kernels.GramHashes.using(k, mod)($"text")
    val out = texts.toDF("doc_id", "text").select($"doc_id", gh.as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.foreach { case (id, s) => assert(out(id) === naive(s)) }
  }

  test("gramFirstPos: distinct grams with first positions; codegen parity") {
    val mod = TextOps.SubMod
    val gfp = graft.functions.Kernels.GramFirstPos.using(4, mod)($"text")
    val d = docs((1L, "abcdabcdabcd"), (2L, "xy"))
    def run(): Map[Long, Seq[(Long, Long)]] =
      d.select($"doc_id", gfp.as("u")).collect()
        .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(s => (s.getLong(0), s.getLong(1)))).toMap
    val out = run()
    // "abcdabcdabcd" has 9 4-grams but only 4 distinct ("abcd","bcda",
    // "cdab","dabc"), first seen at positions 1..4
    assert(out(1L).map(_._2) === Seq(1L, 2L, 3L, 4L))
    assert(out(1L).map(_._1).distinct.length === 4)
    assert(out(2L) === Seq.empty, "below k chars -> no grams")
    val withCodegen = out
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      assert(run() === withCodegen)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("substringMatches: planted spans found at their positions") {
    val common = "the quick brown fox jumps over it" // 33 chars: 2 grams
    assert(common.length === 33)
    val corpus = docs(
      (1L, "AAAA" + common + " tail text here"),   // span starts at pos 5
      (2L, "ZZ" + common + "+other ending text"),  // span starts at pos 3
      (3L, "completely unrelated document body text"))
    val out = TextOps.substringMatches(corpus, 32, 50L).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getAs[Long]("n_shared"), r.getAs[Long]("d1_pos"),
          r.getAs[Long]("d2_pos")))).toMap
    assert(out.keySet === Set((1L, 2L)), s"only the planted pair: $out")
    val (nShared, p1, p2) = out((1L, 2L))
    assert(nShared === 2L, "a 33-char shared span contains two 32-grams")
    assert(p1 === 5L, "1-based first match position in d1")
    assert(p2 === 3L, "1-based first match position in d2")
  }

  test("substringMatches: document-frequency cap kills boilerplate grams") {
    val boiler = "standard license header text okay!" // 34 chars
    val corpus = docs((1L to 5L).map(i =>
      (i, boiler + s" unique suffix number $i")): _*)
    // every doc shares the boilerplate grams: df = 5 > maxDf = 4
    assert(TextOps.substringMatches(corpus, 32, 4L).count() === 0L)
    // with the cap lifted all 10 pairs emerge
    assert(TextOps.substringMatches(corpus, 32, 5L).count() === 10L)
  }

  test("writeShards: byte-identical re-write; new salt = new epoch") {
    val d = docs((1L to 200L).map(i =>
      (i, s"document number $i with some shared words and id$i")): _*)
    val (o1, o2, o3) = (
      java.nio.file.Files.createTempDirectory("shards1").toString,
      java.nio.file.Files.createTempDirectory("shards2").toString,
      java.nio.file.Files.createTempDirectory("shards3").toString)
    TextOps.writeShards(d, 4, "epoch1", o1)
    TextOps.writeShards(d, 4, "epoch1", o2)
    TextOps.writeShards(d, 4, "epoch2", o3)
    // per-shard content hash, filenames normalized away
    def shardHashes(dir: String): Map[String, Seq[String]] =
      new java.io.File(dir).listFiles.filter(_.getName.startsWith("shard="))
        .map { sd =>
          sd.getName -> sd.listFiles
            .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
            .map { f =>
              java.security.MessageDigest.getInstance("SHA-256")
                .digest(java.nio.file.Files.readAllBytes(f.toPath))
                .map("%02x".format(_)).mkString
            }.toSeq
        }.toMap
    val h1 = shardHashes(o1)
    assert(h1.keySet === Set("shard=0", "shard=1", "shard=2", "shard=3"))
    assert(h1 === shardHashes(o2),
      "same (corpus, salt) must re-create byte-identical shard files")
    assert(h1 !== shardHashes(o3),
      "a new salt must produce a different epoch permutation")
    // the new epoch is a permutation of the SAME documents...
    def perm(dir: String): Map[Long, (Long, Long)] =
      spark.read.parquet(dir).collect().map(r =>
        r.getAs[Long]("doc_id") ->
          // partition-dir column comes back as an inferred Integer
          (r.getAs[Number]("shard").longValue, r.getAs[Long]("pos"))).toMap
    val (p1, p3) = (perm(o1), perm(o3))
    assert(p1.keySet === (1L to 200L).toSet)
    assert(p3.keySet === p1.keySet)
    assert(p1 !== p3, "epoch order must actually change")
    // ...and each shard file IS the epoch order: pos is 1..n in file order
    val inFile = spark.read.parquet(s"$o1/shard=0")
      .collect().map(_.getAs[Long]("pos")).toSeq
    assert(inFile === (1L to inFile.length).toSeq,
      "shard files must be stored in epoch (pos) order")
  }

  test("substringMatchesVerified: equals hash path; rejects collisions") {
    // collision-free fixture: the verify stage must be invisible
    val common = "the quick brown fox jumps over it"
    val corpus = docs(
      (1L, "AAAA" + common + " tail text here"),
      (2L, "ZZ" + common + "+other ending text"),
      (3L, "completely unrelated document body text"))
    assert(TextOps.substringMatchesVerified(corpus, 32, 50L)
      .collect().map(_.toSeq).toSet ===
      TextOps.substringMatches(corpus, 32, 50L)
        .collect().map(_.toSeq).toSet)

    // planted collision: under mod=64 find two DIFFERENT 4-grams with
    // the same rolling hash, embed them in docs sharing no 4-substring
    val mod = 64L
    val k = 4
    def h(s: String): Long =
      s.foldLeft(0L)((a, c) => (a * 31 + c) % mod)
    val grams = for {
      a <- 'a' to 'j'; b <- 'a' to 'j'; c <- 'a' to 'j'; d <- 'a' to 'j'
    } yield s"$a$b$c$d"
    val (g1, g2) = grams.groupBy(h).values
      .find(g => g.length >= 2 && g(0) != g(1))
      .map(g => (g(0), g(1))).get
    assert(h(g1) === h(g2) && g1 != g2)
    val planted = docs((1L, "XXX" + g1), (2L, "YYY" + g2))
    // no true shared 4-substring between the two docs
    val subs = (s: String) => (0 to s.length - k).map(i =>
      s.substring(i, i + k)).toSet
    assert(subs("XXX" + g1).intersect(subs("YYY" + g2)).isEmpty)
    // the hash-only path reports the colliding pair...
    val hashed = TextOps.substringMatchesFrom(
      TextOps.gramFirstPositions(planted, k, mod), maxDf = 50L)
    assert(hashed.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet === Set((1L, 2L)), "collision must fool the hash path")
    // ...and the verify stage rejects it
    assert(TextOps.substringMatchesVerified(planted, k, 50L, mod)
      .count() === 0L)
  }

  test("dupCoverage: interval union over matched grams, zeros elsewhere") {
    val common = "the quick brown fox jumps over a lazy dog again!" // 48
    assert(common.length === 48)
    val corpus = docs(
      (1L, "AAAA" + common + "BBBB"),
      (2L, "CC" + common + "DD"),
      (3L, "a completely unrelated document body with no match"))
    val out = TextOps.dupCoverage(corpus, 32, 50L).collect()
      .map(r => r.getLong(0) -> r).toMap
    // 48-char shared span = 17 overlapping 32-grams; their interval
    // UNION is exactly the 48 chars — no double counting
    assert(out(1L).getAs[Long]("n_matched_grams") === 17L)
    assert(out(1L).getAs[Long]("covered_chars") === 48L)
    assert(out(1L).getAs[Long]("n_chars") === 56L)
    assert(out(1L).getAs[Long]("coverage_micro") ===
      math.floor(1e6 * (48.0 / 56)).toLong)
    assert(out(2L).getAs[Long]("covered_chars") === 48L)
    assert(out(3L).getAs[Long]("n_matched_grams") === 0L)
    assert(out(3L).getAs[Long]("covered_chars") === 0L)
    assert(out(3L).getAs[Long]("coverage_micro") === 0L)
  }

  test("dupCoverage: disjoint shared spans form separate islands") {
    val s1 = "first shared span of text here ok" // 33 chars -> 2 grams
    val s2 = "second shared span very different" // 33 chars
    assert(s1.length === 33 && s2.length === 33)
    val gap = "x" * 40
    val corpus = docs(
      (1L, s1 + gap + s2),
      (2L, "PP" + s1 + "QQ"),
      (3L, "RR" + s2 + "SS"))
    val r = TextOps.dupCoverage(corpus, 32, 50L).collect()
      .map(x => x.getLong(0) -> x).toMap
    // doc 1 shares s1 with doc 2 and s2 with doc 3: two disjoint
    // 33-char islands
    assert(r(1L).getAs[Long]("covered_chars") === 66L)
    assert(r(1L).getAs[Long]("n_matched_grams") === 4L)
  }

  test("exciseSpans: owner keeps text, non-owner spans spliced out") {
    val common = "the quick brown fox jumps over a lazy dog again!" // 48
    val corpus = docs(
      (1L, "AAAA" + common + "BBBB"),  // owner (lowest doc_id)
      (2L, "CC" + common + "DD"),
      (3L, common + " with a tail after it"),  // span at pos 1
      (4L, "a completely unrelated document body with no match"))
    val out = TextOps.exciseSpans(corpus, 32, 50L).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("kept_text") === "AAAA" + common + "BBBB",
      "the canonical owner must keep its text untouched")
    assert(out(1L).getAs[Long]("removed_chars") === 0L)
    assert(out(2L).getAs[String]("kept_text") === "CCDD",
      "the shared span must be spliced out of the non-owner")
    assert(out(2L).getAs[Long]("removed_chars") === 48L)
    assert(out(2L).getAs[Long]("kept_chars") === 4L)
    // doc 3's match starts at pos 1: the head segment is empty. Its
    // tail begins where the LAST shared gram's interval ends — the
    // trailing k−1 chars of the span overlap the tail's first grams
    // and stay covered, so the kept text is the pure suffix.
    val k3 = out(3L).getAs[String]("kept_text")
    assert(!k3.contains("quick brown") && k3.endsWith("after it"),
      s"head-anchored span must leave only the tail: '$k3'")
    assert(out(4L).getAs[String]("kept_text") ===
      "a completely unrelated document body with no match")
    // kept_chars is literally the length of the spliced text, everywhere
    out.values.foreach { r =>
      assert(r.getAs[Long]("kept_chars") ===
        r.getAs[String]("kept_text").length.toLong)
    }
  }

  test("exciseSpans: disjoint owned spans splice independently") {
    val s1 = "first shared span of text here ok" // 33 chars
    val s2 = "second shared span very different" // 33 chars
    val gap = "x" * 40
    val corpus = docs(
      (1L, "AA" + s1 + "BB"),
      (2L, "CC" + s2 + "DD"),
      (5L, "PP" + s1 + gap + s2 + "QQ"))
    val out = TextOps.exciseSpans(corpus, 32, 50L).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("removed_chars") === 0L)
    assert(out(2L).getAs[Long]("removed_chars") === 0L)
    assert(out(5L).getAs[String]("kept_text") === "PP" + gap + "QQ",
      "both foreign spans excised, the gap and edges kept")
    assert(out(5L).getAs[Long]("removed_chars") === 66L)
  }

  test("dsirScores: target-resembling docs outrank the rest") {
    val corpus = Seq(
      (1L, "alpha beta alpha beta", "en"),
      (2L, "alpha beta beta alpha", "en"),
      (3L, "gamma delta gamma delta", "de"),
      (4L, "gamma delta delta gamma", "de"),
      // a 'de'-labeled doc whose CONTENT is target-like: DSIR scores
      // resemblance, not the label, so it must outrank the pure-de docs
      (5L, "alpha beta alpha beta", "de"))
      .toDF("doc_id", "text", "lang")
    val out = TextOps.dsirScores(corpus, "en", 1024, 10).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("score")).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 5L))
    // target tokens are over-represented in the target slice: positive
    // weight; gamma/delta never appear in the target: negative
    assert(out(5L) > out(3L) && out(5L) > out(4L),
      s"content-based ranking must ignore the label: $out")
    assert(out(1L) === out(5L),
      "identical token profiles must score identically")
    assert(out(3L) < 0L, "pure non-target profile scores negative")
    assert(out(1L) > 0L, "pure target profile scores positive")
  }

  test("corpusCard: per-source census with dup fraction and top lang") {
    val corpus = Seq(
      (1L, "the batch the merge a scan", "web"),
      (2L, "the batch the merge a scan", "web"),   // exact dup of 1
      (3L, "scan schema merge batch line", "web"),
      (4L, "join filter group order sort", "books"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.corpusCard(corpus).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet === Set("web", "books"))
    val web = out("web")
    assert(web.getAs[Long]("n_docs") === 3L)
    assert(web.getAs[Long]("n_distinct_docs") === 2L)
    assert(web.getAs[Long]("dup_micro") ===
      math.floor(1e6 * (1.0 / 3)).toLong)
    assert(web.getAs[Long]("total_tokens") === 17L)
    assert(out("books").getAs[Long]("dup_micro") === 0L)
    // top_lang is one of the declared profiles (or 'und')
    val langs = TextOps.LangProfiles.map(_._1).toSet + "und"
    assert(out.values.forall(r => langs.contains(r.getAs[String]("top_lang"))))
  }

  test("vocabCoverage: OOV counted against the train-built top-V vocab") {
    // train docs use tokens a..d heavily; one val-bucket doc brings an
    // unseen token. With V=2 the vocab is the two most frequent train
    // tokens and everything else counts as OOV.
    val corpus = docs(
      (1L, "aa aa aa bb bb cc"), (2L, "aa bb aa bb dd"),
      (3L, "aa bb zz yy"), (4L, "aa aa bb cc dd"))
    // force the split: doc_ids 1,2,4 hash into train for (100,0)?? —
    // instead use trainPct=100 so every doc is train; OOV then measures
    // pure tail mass beyond the top-V
    val out = TextOps.vocabCoverage(corpus, 100, 0, 2).collect()
    assert(out.length === 1 && out.head.getString(0) === "train")
    val r = out.head
    // counts: aa=8 bb=6 cc=2 dd=2 zz=1 yy=1 over 20 tokens; vocab =
    // {aa, bb}; OOV = 6
    assert(r.getAs[Long]("n_tokens") === 20L)
    assert(r.getAs[Long]("oov_tokens") === 6L)
    assert(r.getAs[Long]("oov_micro") ===
      math.floor(1e6 * (6.0 / 20)).toLong)
  }

  test("sourceOverlap: cross-source mirrors vs intra-source dups") {
    val t1 = "alpha bravo charlie delta echo foxtrot golf hotel india"
    val t2 = "one two three four five six seven eight nine ten eleven"
    val t3 = "unrelated words that share nothing with the other texts"
    val corpus = Seq(
      (1L, t1, "srcA"), (2L, t1, "srcB"),   // cross-source mirror
      (3L, t2, "srcC"), (4L, t2, "srcC"),   // intra-source duplicate
      (5L, t3, "srcA")                      // no pair
    ).toDF("doc_id", "text", "source")
    val out = TextOps.sourceOverlap(corpus, 5, 1000L, 800000L)
      .orderBy("source_a", "source_b").collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getAs[Long]("n_pairs"), r.getAs[Long]("intra")))
    assert(out.toSeq === Seq(
      ("srcA", "srcB", 1L, 0L),
      ("srcC", "srcC", 1L, 1L)), s"got ${out.toSeq}")
  }

  test("ngramOverlapAudit: train-gram membership; short docs stay clean") {
    import org.apache.spark.sql.functions._
    // discover the split buckets the operator itself will assign (the
    // splitBucket contract: md5("split:"||id) % 100) so the fixture can
    // plant one train doc and three eval docs deterministically
    val bk = (1L to 300L).toDF("doc_id")
      .select(col("doc_id"), (graft.functions.Hashing.md5Long(
        concat(lit("split:"), col("doc_id").cast("string"))) % 100L)
        .as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      .sortBy(_._1)
    val trainId = bk.collectFirst { case (id, b) if b < 80 => id }.get
    val evalIds = bk.collect { case (id, b) if b >= 90 => id }.take(3)
    val shared = "a b c d e f g h i j" // 10 tokens -> 3 distinct 8-grams
    val corpus = docs(
      (trainId, shared),
      (evalIds(0), shared),                  // verbatim copy -> dirty
      (evalIds(1), "p q r s t u v w x y"),   // disjoint -> clean
      (evalIds(2), "a b c d e f g"))         // 7 tokens -> no grams
    val out = TextOps.ngramOverlapAudit(corpus, 8, 80, 10, 700000L)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit"),
          r.getAs[Long]("overlap_micro"), r.getAs[Long]("dirty")))).toMap
    assert(!out.contains(trainId), "train docs are never audited")
    assert(out(evalIds(0)) === ((3L, 3L, 1000000L, 1L)),
      s"verbatim copy must be fully contaminated: ${out(evalIds(0))}")
    assert(out(evalIds(1)) === ((3L, 0L, 0L, 0L)))
    assert(out(evalIds(2)) === ((0L, 0L, 0L, 0L)),
      "sub-n-token docs carry no grams and stay clean")
  }

  test("shuffleShard: deterministic permutation, dense per-shard positions") {
    val corpus = docs((1L to 100L).map(i => (i, s"doc number $i words")): _*)
    val a = TextOps.shuffleShard(corpus, 4).orderBy("shard", "pos").collect()
    val b = TextOps.shuffleShard(corpus, 4).orderBy("shard", "pos").collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq,
      "same corpus => byte-identical shuffle")
    assert(a.map(_.getLong(2)).toSet === (1L to 100L).toSet,
      "every doc appears exactly once")
    a.groupBy(_.getLong(0)).foreach { case (shard, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq ===
        (1L to rows.length).toSeq,
        s"shard $shard positions must be dense 1..n")
    }
    // the order is a real permutation, not doc_id order
    val firstShard = a.filter(_.getLong(0) === a.head.getLong(0))
    assert(firstShard.map(_.getLong(2)).toSeq !=
      firstShard.map(_.getLong(2)).sorted.toSeq,
      "hash order should differ from doc_id order")
  }

  test("noveltyScores: first-arrival fractions by doc_id order") {
    val corpus = docs(
      (1L, "a b c"),    // grams {a b, b c}: both first here -> 1.0
      (2L, "b c d"),    // {b c (seen), c d (new)} -> 1/2
      (3L, "a b b c"))  // {a b, b b, b c}: only b b new -> 1/3
    val out = TextOps.noveltyScores(corpus, 2).orderBy("doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"),
        r.getAs[Long]("novelty_micro")))
    assert(out.toSeq === Seq(
      (1L, 2L, 2L, 1000000L),
      (2L, 2L, 1L, 500000L),
      (3L, 3L, 1L, 333333L)))
  }

  test("dupPageRank: hand-computed 5-round trajectory on a 3-node path") {
    import sqlImplicits._
    // path 1-2-3: deg(2)=2 concentrates rank at the hub; every floor
    // division hand-traced (see the expected micro values)
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("d1", "d2")
    val out = TextOps.dupPageRank(pairs, 5).orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("deg"),
        r.getAs[Long]("rank_micro")))
    assert(out.toSeq === Seq(
      (1L, 1L, 668336L), (2L, 2L, 1663323L), (3L, 1L, 668336L)))
    // mass check: the hub holds more than both leaves combined after
    // damping, and leaves are exactly symmetric
    assert(out(1)._3 > out(0)._3 + out(2)._3 - 150000L)
  }

  test("dupTriangles: clique, path, and attached-pendant counted once") {
    import sqlImplicits._
    // 4-clique {1,2,3,4} (4 triangles, cc=1 everywhere), pendant 5 on
    // node 4 (deg 4, tri 3 -> cc = 6/12), path 6-7-8 (no triangles)
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (6L, 7L), (7L, 8L)).toDF("d1", "d2")
    val out = TextOps.dupTriangles(pairs).orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("deg"),
        r.getAs[Long]("n_tri"), r.getAs[Long]("cc_micro")))
    assert(out.toSeq === Seq(
      (1L, 3L, 3L, 1000000L),
      (2L, 3L, 3L, 1000000L),
      (3L, 3L, 3L, 1000000L),
      (4L, 4L, 3L, 500000L),
      (5L, 1L, 0L, 0L),
      (6L, 1L, 0L, 0L),
      (7L, 2L, 0L, 0L),
      (8L, 1L, 0L, 0L)))
    // total triangle mass: each of the clique's 4 triangles counted at
    // exactly its 3 corners, never more (the id-orientation discipline)
    assert(out.map(_._3).sum === 4L * 3L)
  }

  test("psiDrift: identical sources read near-zero, a shifted source " +
    "reads loud, symmetry exact") {
    import sqlImplicits._
    // A and B share one distribution (lengths 1..20); C is all-100
    val corpus = ((1 to 20).map(k =>
      (k.toLong, Seq.fill(k)("w").mkString(" "), "A")) ++
      (1 to 20).map(k =>
        (100L + k, Seq.fill(k)("w").mkString(" "), "B")) ++
      (1 to 20).map(k =>
        (200L + k, Seq.fill(100)("w").mkString(" "), "C")))
      .toDF("doc_id", "text", "source")
    val out = TextOps.psiDrift(corpus).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("psi_micro"))
      .toMap
    // identical distributions -> identical PSI (exact symmetry); the
    // shifted source diverges MORE from the blended reference than
    // the majority sources do (the blend itself contains C's mass, so
    // A and B read the mirror image of C's shift — correct PSI
    // behavior, not noise)
    assert(out("A") === out("B"))
    assert(out("C") > out("A"), s"shifted source must read loudest: $out")
    // a corpus where every source shares one distribution is quiet:
    // only the Laplace smoothing separates any source from the blend
    val quiet = TextOps.psiDrift(corpus.filter(col("source") =!= "C"))
      .collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("psi_micro"))
      .toMap
    assert(quiet("A") === quiet("B"))
    assert(quiet("A") < 10000L,
      s"identical-source corpus must be quiet: $quiet")
    assert(out("C") > 25 * quiet("A"))
  }

  test("burstinessCensus: hand-computed VMR separates bursty from glue") {
    import sqlImplicits._
    // a: x = (4, 1) over N=3 -> VMR = (3*17-25)/15 = 26/15 (bursty)
    // b: x = (2, 1)          -> VMR = (3*5-9)/9 = 2/3 (sub-Poisson)
    val corpus = Seq(
      (1L, "a a a a"), (2L, "b b"), (3L, "a b"))
      .toDF("doc_id", "text")
    val out = TextOps.burstinessCensus(corpus, 2).orderBy("t").collect()
      .map(r => (r.getAs[String]("t"), r.getAs[Long]("df"),
        r.getAs[Long]("sx"), r.getAs[Long]("mean_micro"),
        r.getAs[Long]("vmr_micro")))
    assert(out.toSeq === Seq(
      ("a", 2L, 5L, 1666666L, 1733333L),
      ("b", 2L, 3L, 1000000L, 666666L)))
  }

  test("winsorStats: rank-picked bounds, clip accounting, exact mean") {
    import sqlImplicits._
    // source A lengths 1..20: r_lo = floor(19*.05) = 0 -> lo = 1,
    // r_hi = floor(19*.95) = 18 -> hi = 19; only v=20 clips;
    // wsum = (1+...+19) + 19 = 209; mean = 209/20 = 10.45
    val corpus = (1 to 20).map(k =>
      (k.toLong, Seq.fill(k)("w").mkString(" "), "A"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.winsorStats(corpus).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getAs[Long]("n"), r.getAs[Long]("lo"), r.getAs[Long]("hi"),
      r.getAs[Long]("n_clip_lo"), r.getAs[Long]("n_clip_hi"),
      r.getAs[Long]("wsum"), r.getAs[Long]("wmean_micro")) ===
      ((20L, 1L, 19L, 0L, 1L, 209L, 10450000L)))
  }

  test("concentrationCensus: HHI and top share on both bases") {
    import sqlImplicits._
    // docs: A=3, B=1 -> HHI (9+1)/16 = .625, top 3/4 = .75
    // tokens: A=6, B=4 -> HHI (36+16)/100 = .52, top 6/10 = .6
    val corpus = Seq(
      (1L, "w w", "A"), (2L, "w w", "A"), (3L, "w w", "A"),
      (4L, "w w w w", "B"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.concentrationCensus(corpus).orderBy("basis")
      .collect()
      .map(r => (r.getAs[String]("basis"), r.getAs[Long]("n_sources"),
        r.getAs[Long]("total"), r.getAs[Long]("hhi_micro"),
        r.getAs[Long]("top_share_micro")))
    assert(out.toSeq === Seq(
      ("docs", 2L, 4L, 625000L, 750000L),
      ("tokens", 2L, 10L, 520000L, 600000L)))
  }

  test("corrCensus: exact power sums, zero-variance guarded") {
    import sqlImplicits._
    // A: (x,y) = (2,2),(2,1),(3,3): cov_num 3, var_x 2, var_y 6,
    // r = 3/sqrt(12) = .8660254 -> 866025
    // B: identical docs -> zero variance -> r = 0, not NaN
    val corpus = Seq(
      (1L, "a b", "A"), (2L, "a a", "A"), (3L, "a b c", "A"),
      (4L, "a a", "B"), (5L, "a a", "B"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.corrCensus(corpus).orderBy("source").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n"),
        r.getAs[Long]("cov_num"), r.getAs[Long]("var_x"),
        r.getAs[Long]("var_y"), r.getAs[Long]("r_micro")))
    assert(out.toSeq === Seq(
      ("A", 3L, 3L, 2L, 6L, 866025L),
      ("B", 2L, 0L, 0L, 0L, 0L)))
  }

  test("ksDrift: hand-computed two-sample KS with integer numerators") {
    import sqlImplicits._
    // source A token counts [1,1,2,3] (n=4), B [2,3,3] (n=3):
    // grid {1,2,3}; cumA = 2,3,4; cumB = 0,1,3
    // |cumA*nB - cumB*nA| = 6, 5, 0 -> ks = 6/12 = 0.5
    val corpus = Seq(
      (1L, "w", "A"), (2L, "w", "A"), (3L, "w w", "A"), (4L, "w w w", "A"),
      (5L, "w w", "B"), (6L, "w w w", "B"), (7L, "w w w", "B"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.ksDrift(corpus).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b"),
        r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Long]("ks_num"), r.getAs[Long]("ks_micro")))
    assert(out.toSeq === Seq(("A", "B", 4L, 3L, 6L, 500000L)))
  }

  test("ksDrift: identical distributions give ks = 0") {
    import sqlImplicits._
    val corpus = Seq(
      (1L, "w", "A"), (2L, "w w", "A"),
      (3L, "w", "B"), (4L, "w w", "B"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.ksDrift(corpus).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("ks_num") === 0L)
    assert(out.head.getAs[Long]("ks_micro") === 0L)
  }

  test("bm25: hand-traced positive and negative idf contributions") {
    import sqlImplicits._
    // top-2 terms by count: x (4), y (3); df(x)=1 -> idf > 0 (rare),
    // df(y)=2 -> idf = ln(1.5/2.5) < 0 (common)
    val corpus = Seq(
      (1L, "x x x x y"), (2L, "y y"), (3L, "z"))
      .toDF("doc_id", "text")
    val n = 3.0; val avgdl = (5 + 2 + 1) / n
    def idf(df: Int): Long =
      math.floor(1e6 * math.log((n - df + 0.5) / (df + 0.5))).toLong
    def w(idfM: Long, tf: Long, dl: Long): Long =
      math.floor(idfM * (tf * 2.2) /
        (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))).toLong
    val ix = idf(1); val iy = idf(2)
    val expected = Seq(
      (1L, 2L, w(ix, 4, 5) + w(iy, 1, 5)),
      (2L, 1L, w(iy, 2, 2)))
    val out = TextOps.bm25(corpus, 2).orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_terms"),
        r.getAs[Long]("score_micro")))
    assert(out.toSeq === expected)
    assert(ix > 0 && iy < 0) // the census exposes the classic negative idf
  }

  test("coocLift: hand-computed lift census with a top-V cut") {
    import sqlImplicits._
    // counts: x=3 y=3 z=2 w=1 -> top-3 = {x, y, z}; w never pairs
    val corpus = Seq(
      (1L, "x y"), (2L, "x z"), (3L, "x y z"), (4L, "y w"))
      .toDF("doc_id", "text")
    val out = TextOps.coocLift(corpus, 3).orderBy("t1", "t2").collect()
      .map(r => (r.getAs[String]("t1"), r.getAs[String]("t2"),
        r.getAs[Long]("co"), r.getAs[Long]("df1"), r.getAs[Long]("df2"),
        r.getAs[Long]("lift_micro")))
    assert(out.toSeq === Seq(
      ("x", "y", 2L, 3L, 3L, 888888L),   // 2*4/9  < 1: repel
      ("x", "z", 2L, 3L, 2L, 1333333L),  // 2*4/6  > 1: attract
      ("y", "z", 1L, 3L, 2L, 666666L)))
  }

  test("madOutliers: hand-computed median/MAD, incl. the MAD=0 " +
    "degeneracy") {
    import sqlImplicits._
    def doc(id: Long, k: Int, src: String) =
      (id, Seq.fill(k)("w").mkString(" "), src)
    // A: lengths 1,1,1,1,100 -> med 1, dev census {0:4, 99:1} -> MAD 0
    //    (majority at one length); any deviation is then an outlier
    // B: lengths 10,12,14,16,18,20,22 -> med 16 (rank 3), devs
    //    0,2,2,4,4,6,6 -> MAD 4 (rank 3); nothing exceeds 3*4
    val corpus = ((1 to 4).map(i => doc(i.toLong, 1, "A")) :+
      doc(5L, 100, "A")) ++
      Seq(10, 12, 14, 16, 18, 20, 22).zipWithIndex.map {
        case (k, i) => doc(100L + i, k, "B") }
    val out = TextOps.madOutliers(corpus.toDF("doc_id", "text", "source"))
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("med"), r.getAs[Long]("mad"),
          r.getAs[Long]("n_out"), r.getAs[Long]("out_rate_micro"))))
      .toMap
    assert(out("A") === ((5L, 1L, 0L, 1L, 200000L)))
    assert(out("B") === ((7L, 16L, 4L, 0L, 0L)))
  }

  test("msttr: fixed segments, partial tails dropped, repetition " +
    "reads low and diversity reads 1.0") {
    import sqlImplicits._
    val corpus = Seq(
      // 32 identical tokens: 2 full segments, 1 type each -> 1/16
      (1L, Seq.fill(32)("w").mkString(" "), "A"),
      // 40 distinct tokens: 2 full segments (types 16 each), the
      // 8-token tail is DROPPED -> exactly 1.0
      (2L, (0 until 40).map(i => s"t$i").mkString(" "), "B"),
      // 10 tokens: no complete segment -> source absent entirely
      (3L, Seq.fill(10)("w").mkString(" "), "C"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.msttr(corpus).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_segs"), r.getAs[Long]("sum_types"),
          r.getAs[Long]("msttr_micro"))))
      .toMap
    assert(out("A") === ((2L, 2L, 62500L)))
    assert(out("B") === ((2L, 32L, 1000000L)))
    assert(!out.contains("C"))
  }

  test("weightedSample: the A-ES draw replays exactly from first " +
    "principles") {
    import sqlImplicits._
    val corpus = (1L to 8L).map(i =>
      (i, Seq.fill(i.toInt * 3)("w").mkString(" "), s"s${i % 2}"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.weightedSample(corpus, 4).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("toks"), r.getAs[Long]("key_micro")))
    // independent replay: md5 -> 60-bit h -> key = floor(1e6*ln(u)/w)
    def key(id: Long, w: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"aes:$id".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      val h = math.max(java.lang.Long.parseLong(hex, 16), 1L)
      math.floor(1000000.0 *
        (math.log(h / 1152921504606846976.0) / w)).toLong
    }
    val expected = (1L to 8L).map(i => (i, i * 3, key(i, i * 3)))
      .sortBy { case (id, _, k) => (-k, id) }.take(4).zipWithIndex
      .map { case ((id, w, k), r) => (r + 1L, id, w, k) }
    assert(out.toSeq === expected)
  }

  test("langConfusion: hand-built corpus lands in the right cells " +
    "with exact row fractions") {
    import sqlImplicits._
    // "ththth" scores en=6 (3x "th" weight 2), others 0 -> pred en
    // "scscsc" -> pred de; "qqqq" scores all-zero -> the argmax
    // tie-break gives the first declared profile (en) — pinning the
    // deterministic tie rule, same as the oracle CASE order
    val corpus = Seq(
      (1L, "ththth", "en"), (2L, "ththth", "en"), (3L, "scscsc", "en"),
      (4L, "qqqq", "de"))
      .toDF("doc_id", "text", "lang")
    val out = TextOps.langConfusion(corpus).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("lang_pred")) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_lang"),
          r.getAs[Long]("frac_micro"))))
      .toMap
    assert(out(("en", "en")) === ((2L, 3L, 666666L)))
    assert(out(("en", "de")) === ((1L, 3L, 333333L)))
    assert(out(("de", "en")) === ((1L, 1L, 1000000L)))
    assert(out.size === 3, "no empty cells materialized")
  }

  test("dedupWeights: a cluster has unit total influence, " +
    "singletons weigh exactly 1.0") {
    import sqlImplicits._
    // transitive cluster {1,2,3} via pairs (1,2),(2,3); doc 4 alone
    val corpus = Seq(
      (1L, "w w", "S"), (2L, "w w", "S"), (3L, "w w", "S"),
      (4L, "w w", "S"))
      .toDF("doc_id", "text", "source")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("d1", "d2")
    val r = TextOps.dedupWeights(corpus, pairs).collect().head
    assert(r.getAs[Long]("n_docs") === 4L)
    assert(r.getAs[Long]("n_dup_docs") === 3L)
    assert(r.getAs[Long]("toks") === 8L)
    // 3 x floor(1e6/3) + 1e6: the micro floor is visible (1999999,
    // not 2000000) — per-document flooring, integer sums, no hidden
    // re-rounding
    assert(r.getAs[Long]("eff_docs_micro") === 1999999L)
    assert(r.getAs[Long]("eff_tokens_micro") === 3999998L)
  }

  test("entropyRate: deterministic text reads EXACTLY zero, " +
    "hand-computed mixed case") {
    import sqlImplicits._
    val corpus = Seq(
      // "ababababab": ab x5, ba x4 -> every next-char is determined,
      // each term is ln(c_x/c_xy) = ln(1): exact integer zero
      (1L, "ababababab", "A"),
      // "aabb": aa, ab, bb; c_a = 2, c_b = 1, T = 3
      // H = (1/3)ln2 + (1/3)ln2 + (1/3)ln1, floored per term:
      // 231049 + 231049 + 0
      (2L, "aabb", "B"),
      // single char: no bigram window -> source absent
      (3L, "a", "C"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.entropyRate(corpus).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("t_bigrams"), r.getAs[Long]("n_distinct"),
          r.getAs[Long]("h_micro"))))
      .toMap
    assert(out("A") === ((9L, 2L, 0L)))
    assert(out("B") === ((3L, 3L, 462098L)))
    assert(!out.contains("C"))
  }

  test("dedupProvenance: cross-source vs intra-source clusters, " +
    "unpaired docs absent, sorted source list") {
    import sqlImplicits._
    val docs = Seq(
      (1L, "x", "A"), (2L, "x", "B"), (3L, "x", "A"),
      (4L, "y", "C"),                      // unpaired -> absent
      (5L, "z", "A"), (6L, "z", "A"))
      .toDF("doc_id", "text", "source")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("d1", "d2")
    val out = TextOps.dedupProvenance(docs, pairs)
      .orderBy("component").collect()
      .map(r => (r.getAs[Long]("component"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_sources"), r.getAs[String]("sources")))
    assert(out.toSeq === Seq(
      (1L, 3L, 2L, "A,B"),
      (5L, 2L, 1L, "A")))
  }

  test("readability: hand-computed Flesch, sentence clamp on " +
    "fragment docs") {
    import sqlImplicits._
    val corpus = Seq(
      // 5 words, 2 sentence runs (. and !), 5 vowel groups
      (1L, "the cat sat. it ran!", "A"),
      // no terminator at all: sentence count clamps to 1;
      // hello(2) + world(1) = 3 vowel groups over 2 words
      (2L, "hello world", "B"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.readability(corpus).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_sents"),
          r.getAs[Long]("n_syll"), r.getAs[Long]("flesch_micro"))))
      .toMap
    def f(w: Double, s: Double, sy: Double): Long =
      math.floor(1000000.0 *
        (206.835 - 1.015 * (w / s) - 84.6 * (sy / w))).toLong
    assert(out("A") === ((5L, 2L, 5L, f(5, 2, 5))))
    assert(out("B") === ((2L, 1L, 3L, f(2, 1, 3))))
  }

  test("charClasses: the four classes partition the byte budget " +
    "exactly, hand-computed ratios") {
    import sqlImplicits._
    val corpus = Seq(
      // "ab1 c!": alpha 3, digit 1, space 1, symbol 1 of 6
      (1L, "ab1 c!", "A"),
      // pure digits
      (2L, "12345", "B"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.charClasses(corpus).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_chars"), r.getAs[Long]("alpha"),
          r.getAs[Long]("digit"), r.getAs[Long]("space"),
          r.getAs[Long]("symbol"), r.getAs[Long]("alpha_micro"),
          r.getAs[Long]("digit_micro"), r.getAs[Long]("symbol_micro"))))
      .toMap
    assert(out("A") === ((6L, 3L, 1L, 1L, 1L, 500000L,
      math.floor(1000000.0 / 6.0).toLong,
      math.floor(1000000.0 / 6.0).toLong)))
    assert(out("B") === ((5L, 0L, 5L, 0L, 0L, 0L, 1000000L, 0L)))
  }

  test("skipgramPmi: position-ordered window pairs, self-consistent " +
    "marginals, hand-computed PMI") {
    import sqlImplicits._
    // "a b a b": pairs within +2 -> (a,b)x2, (a,a), (b,a), (b,b); N=5
    val corpus = Seq((1L, "a b a b", "A")).toDF("doc_id", "text", "source")
    val out = TextOps.skipgramPmi(corpus).collect()
      .map(r => (r.getAs[String]("x"), r.getAs[String]("y")) ->
        ((r.getAs[Long]("c_xy"), r.getAs[Long]("c_x"),
          r.getAs[Long]("c_y"), r.getAs[Long]("pmi_micro"))))
      .toMap
    def pmi(cxy: Long, cx: Long, cy: Long): Long =
      math.floor(1000000.0 *
        math.log((cxy * 5L).toDouble / (cx * cy).toDouble)).toLong
    assert(out(("a", "b")) === ((2L, 3L, 3L, pmi(2, 3, 3))))
    assert(out(("a", "a")) === ((1L, 3L, 2L, pmi(1, 3, 2))))
    assert(out(("b", "a")) === ((1L, 2L, 2L, pmi(1, 2, 2))))
    assert(out(("b", "b")) === ((1L, 2L, 3L, pmi(1, 2, 3))))
    assert(out.size === 4)
  }

  test("gini: equal use reads EXACTLY zero, tie groups carry the " +
    "closed form, hand-computed skew") {
    import sqlImplicits._
    val corpus = Seq(
      // counts (3, 1): num = (2-3)*1 + (4-3)*3 = 2, G = 2/8
      (1L, "a a a b", "A"),
      // every type used once: G = 0 exactly
      (2L, "x y z", "B"),
      // tie group at c=2 (m=2): (-2) + 0 + 4 = 2, G = 2/15
      (3L, "a a b b c", "C"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.gini(corpus).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_types"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("gini_micro"))))
      .toMap
    assert(out("A") === ((2L, 4L, 250000L)))
    assert(out("B") === ((3L, 3L, 0L)))
    assert(out("C") === ((3L, 5L,
      math.floor(1000000.0 * (2.0 / 15.0)).toLong)))
  }

  test("coverageCurve: k clamps to the vocabulary, ties at the cut " +
    "break on (count desc, type)") {
    import sqlImplicits._
    val corpus = Seq(
      // counts a=3, b=2, c=1: top-1 covers 3/6, full curve saturates
      (1L, "a a a b b c", "A"),
      // tie a=2, b=2: rank 1 must be 'a' (type tiebreak)
      (2L, "b b a a", "B"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.coverageCurve(corpus).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("k")) ->
        ((r.getAs[Long]("k_used"), r.getAs[Long]("cov_micro"))))
      .toMap
    assert(out(("A", 1L)) === ((1L, 500000L)))
    assert(out(("A", 10L)) === ((3L, 1000000L)))
    assert(out(("A", 1000L)) === ((3L, 1000000L)))
    assert(out(("B", 1L)) === ((1L, 500000L)))
    assert(out(("B", 10L)) === ((2L, 1000000L)))
    assert(out.size === 8)
  }

  test("jsdDrift: identical sources read EXACTLY zero, disjoint " +
    "vocabularies read loud, overlap sits between") {
    import sqlImplicits._
    val corpus = Seq(
      (1L, Seq.fill(20)("x").mkString(" "), "A"),
      (2L, Seq.fill(20)("x").mkString(" "), "A2"),
      (3L, Seq.fill(20)("y").mkString(" "), "B"),
      (4L, (Seq.fill(10)("x") ++ Seq.fill(10)("y")).mkString(" "), "C"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.jsdDrift(corpus, 4).collect()
      .map(r => (r.getAs[String]("source_a"),
        r.getAs[String]("source_b")) -> r.getAs[Long]("jsd_micro"))
      .toMap
    // p = q in every bucket -> every ln is ln(1): exact integer zero,
    // not "small" — the identity axiom lands bit-exactly
    assert(out(("A", "A2")) === 0L)
    // disjoint unigrams approach ln 2 =~ 693147, pulled down only by
    // the Laplace floor; half-overlap must sit strictly between
    assert(out(("A", "B")) > 400000L && out(("A", "B")) < 693148L)
    assert(out(("A", "C")) > 0L && out(("A", "C")) < out(("A", "B")))
    assert(out(("B", "C")) === out(("A", "C")),
      "x|y mirror symmetry: C is equidistant from A and B")
  }

  test("lshCollideMicroSql: hand-computed S-curve values at t = 0.5, " +
    "monotone in bands") {
    import sqlImplicits._
    val vals = TextOps.LshTuneConfigs.map { case (b, r) =>
      Seq(0.5).toDF("tmid")
        .selectExpr(TextOps.lshCollideMicroSql(b, r))
        .collect().head.getLong(0)
    }
    // explicit multiplication chains, floor(1e6 * p):
    // (16,1) 999984, (8,2) 899887, (4,4) 227523, (2,8) 7797, (1,16) 15
    assert(vals === Seq(999984L, 899887L, 227523L, 7797L, 15L))
    assert(vals === vals.sorted.reverse,
      "collision probability must fall as bands coarsen into rows")
  }

  test("lshTune: exact-duplicate bucket clamps to t = 1.0 where every " +
    "config collides with certainty") {
    import sqlImplicits._
    // docs 1/2 are identical (one shared 5-shingle set); doc 3 shares
    // no 5-gram with them -> the census is the single bucket at 1.0
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val out = TextOps.lshTune(d, 5, 1000L, 700000L).collect()
      .map(r => (r.getAs[Long]("bands"), r.getAs[Long]("rows_per_band"),
        r.getAs[Long]("n_pairs_total"), r.getAs[Long]("exp_candidates"),
        r.getAs[Long]("fp_mass"), r.getAs[Long]("fn_mass")))
    // at t = 1.0: t^r = 1 exactly, (1-1)^b = 0, p = 1e6 exactly ->
    // every config expects the pair as a candidate, zero waste, zero
    // misses
    assert(out.toSeq === TextOps.LshTuneConfigs.sortBy(_._1).map {
      case (b, r) => (b.toLong, r.toLong, 1L, 1000000L, 0L, 0L) })
  }

  test("rakeKeyphrases: hand-computed degree/frequency scores, " +
    "stopword islands, over-cap candidates discarded with their words") {
    import sqlImplicits._
    // doc1 "deep learning the deep model" -> phrases "deep learning",
    //   "deep model"; doc2 "a deep model" -> "deep model";
    // doc3 "model" -> "model";
    // doc4 is ONE 4-token island -> discarded by the len cap, and its
    //   words must not enter the freq/deg census
    // word scores: deep deg 6 freq 3 -> 2e6; learning 2/1 -> 2e6;
    //   model deg 5 freq 3 -> 1666666
    // phrases: "deep learning" 4000000 x1, "deep model" 3666666 x2,
    //   "model" 1666666 x1
    val d = Seq(
      (1L, "deep learning the deep model"),
      (2L, "a deep model"),
      (3L, "model"),
      (4L, "big fast new shiny")).toDF("doc_id", "text")
    val out = TextOps.rakeKeyphrases(d).collect()
      .map(r => (r.getAs[String]("phrase"), r.getAs[Long]("n_occ"),
        r.getAs[Long]("score_micro")))
    assert(out.toSeq === Seq(
      ("deep learning", 1L, 4000000L),
      ("deep model", 2L, 3666666L),
      ("model", 1L, 1666666L)))
  }

  test("rankDriftCensus: hand-computed half ranks, absent-in-half " +
    "zero counts, integer footrule") {
    // half 0 (even ids): aa 3, bb 1, cc 1; half 1 (odd): bb 3, aa 1,
    // dd 1. Ranks: h0 = aa,bb,cc,dd; h1 = bb,aa,dd,cc -> every term
    // displaced by 1, footrule 4.
    val d = Seq((0L, "aa aa bb"), (2L, "aa cc"),
      (1L, "bb bb aa"), (3L, "bb dd")).toDF("doc_id", "text")
    val out = TextOps.rankDriftCensus(d, 20).orderBy("r0").collect()
      .map(r => (r.getString(0), r.getAs[Long]("c0"),
        r.getAs[Long]("c1"), r.getAs[Long]("r0"), r.getAs[Long]("r1"),
        r.getAs[Long]("dr"), r.getAs[Long]("footrule")))
    assert(out.toSeq === Seq(
      ("aa", 3L, 1L, 1L, 2L, 1L, 4L),
      ("bb", 1L, 3L, 2L, 1L, 1L, 4L),
      ("cc", 1L, 0L, 3L, 4L, 1L, 4L),
      ("dd", 0L, 1L, 4L, 3L, 1L, 4L)))
  }

  test("rankDriftCensus: rank-preserving uniform growth reads " +
    "footrule 0 however much counts move") {
    val d = Seq((0L, "aa aa aa bb bb cc"),
      (1L, "aa aa aa aa aa aa bb bb bb bb cc cc")).toDF("doc_id", "text")
    val out = TextOps.rankDriftCensus(d, 20).collect()
    assert(out.forall(_.getAs[Long]("footrule") == 0L))
    assert(out.forall(_.getAs[Long]("dr") == 0L))
  }

  test("lshRecallAudit: full recall on an uncapped dup pair; the " +
    "df-cap-hidden pair surfaces as extra, not as an LSH miss") {
    val base = (0 until 40).map(i => f"tok$i%02d").mkString(" ")
    val other = (0 until 40).map(i => f"zzz$i%02d").mkString(" ")
    val d2 = Seq((0L, base), (1L, base), (2L, other))
      .toDF("doc_id", "text")
    val r = TextOps.lshRecallAudit(d2, 5, maxDf = 10L,
      jacMicroMin = 700000L).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === (1L, 1L, 1L, 1000000L, 0L))
    // three identical docs with maxDf=2: every shared shingle is
    // df-capped, so the inverted index is BLIND to all 3 pairs —
    // the bands still block them: n_truth 0, extra 100%
    val d3 = Seq((0L, base), (1L, base), (2L, base))
      .toDF("doc_id", "text")
    val c = TextOps.lshRecallAudit(d3, 5, maxDf = 2L,
      jacMicroMin = 700000L).collect().head
    assert((c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3),
      c.getLong(4)) === (0L, 3L, 0L, 0L, 1000000L))
  }

  test("editDistancePairs: LSH-blocked candidates verified by " +
    "character-level edit distance") {
    // doc 1 = doc 0 with ONE char substituted; doc 2 = exact copy of
    // doc 0. All three share nearly all 5-gram shingles, so the LSH
    // bands them; verification reads dist 0 for the copy, dist 1 for
    // the substitution. Text length 60 tokens x 6 chars - 1 = 359.
    val base = (0 until 60).map(i => f"tok$i%02d0").mkString(" ")
    val edited = base.replace("tok300", "tok30x")
    val d = Seq((0L, base), (1L, edited), (2L, base))
      .toDF("doc_id", "text")
    val out = TextOps.editDistancePairs(d, 5, capChars = 1000,
      relMicroMax = 1000000L)
      .orderBy("d1", "d2").collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
        r.getAs[Long]("len1"), r.getAs[Long]("edit_dist"),
        r.getAs[Long]("rel_micro")))
    val len = base.length.toLong
    assert(out.toSeq === Seq(
      (0L, 1L, len, 1L, 1000000L / len),
      (0L, 2L, len, 0L, 0L),
      (1L, 2L, len, 1L, 1000000L / len)))
  }

  test("editDistancePairs: the capChars dial bounds the verified " +
    "prefix (identical prefixes read zero)") {
    val base = (0 until 60).map(i => f"tok$i%02d0").mkString(" ")
    val edited = base.replace("tok300", "tok30x") // edit at char ~185
    val d = Seq((0L, base), (1L, edited)).toDF("doc_id", "text")
    val out = TextOps.editDistancePairs(d, 5, capChars = 50,
      relMicroMax = 1000000L).collect()
      .map(r => (r.getAs[Long]("len1"), r.getAs[Long]("edit_dist")))
    assert(out.toSeq === Seq((50L, 0L)))
  }

  test("prefixDupCensus: opener classes group on the first-8-token " +
    "key, short docs key on full text, singletons drop") {
    // d1/d2 share an 8-token opener with different tails; d3/d4 are
    // identical 2-token docs (key = full short text); d5 is unique
    val d = Seq(
      (1L, "a b c d e f g h tail one", "s0"),
      (2L, "a b c d e f g h other tail", "s1"),
      (3L, "short text", "s0"),
      (4L, "short text", "s0"),
      (5L, "totally different opener words here now ok yes", "s1"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.prefixDupCensus(d, TextOps.PrefixDupTokens)
      .collect()
      .map(r => (r.getAs[Long]("n_docs"), r.getAs[Long]("n_sources"),
        r.getAs[Long]("exemplar")))
    assert(out.toSeq.sortBy(_._3) === Seq((2L, 2L, 1L), (2L, 1L, 3L)))
  }

  test("scoreCalibration: buckets partition the corpus, tied scores " +
    "never split, engineered junk sinks the bottom bucket and prose " +
    "tops out at 10^6") {
    // 4 junk docs (3-6 stopword-ish tokens: fail r_len, low score),
    // 3 IDENTICAL mid docs (one tied score — must land in ONE bucket),
    // 4 good docs (>= 21 distinct words + one stopword: pass the
    // whole battery, highest scores)
    def goodDoc(k: Int): String =
      ("the" +: (0 until (20 + k)).map(j => s"word$k$j")).mkString(" ")
    val rows =
      (1 to 4).map(i => (i.toLong, ("a " * (i + 2)).trim, "s")) ++
        (5 to 7).map(i => (i.toLong, "the quick brown fox jumps over", "s")) ++
        (8 to 11).map(i => (i.toLong, goodDoc(i), "s"))
    val d = rows.toDF("doc_id", "text", "source")
    val out = TextOps.scoreCalibration(d, 20L, 1000L, 300000L,
        200000L, 1L)
      .collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("score_lo"),
        r.getAs[Long]("score_hi"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_pass"), r.getAs[Long]("pass_ppm")))
    // partition: bucket doc/pass sums equal the corpus totals
    assert(out.map(_._4).sum === rows.size.toLong)
    val passTotal = TextOps.qualityRules(d, 20L, 1000L, 300000L,
      200000L, 1L).agg(sum("pass")).head().getLong(0)
    assert(out.map(_._5).sum === passTotal && passTotal === 4L)
    // buckets are ordered, ranges disjoint ascending — tied scores
    // can therefore never straddle two buckets
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._1 < b._1 && a._3 < b._2,
          s"bucket ranges must ascend disjointly: $a then $b")
      case _ => ()
    }
    // the 3 identical mids share one score -> one bucket holds >= 3
    assert(out.exists(_._4 >= 3L), s"tied docs split: ${out.toSeq}")
    // junk bottoms out at 0, prose tops out at exactly 10^6
    assert(out.head._6 === 0L)
    assert(out.last._6 === 1000000L)
  }

  test("langMixCensus: engineered bilingual halves read mixed, " +
    "monolingual and degenerate docs do not") {
    // doc 1: en-evidence first half, de-evidence second -> mixed
    // doc 2: en both halves -> not mixed
    // doc 3: single token with NO profile evidence -> both halves
    // score all-zero and the argmax tie-break reads the FIRST profile
    // language on both sides -> equal labels, not mixed (a 1-token doc
    // whose token DID carry non-first-language evidence would read
    // mixed — the documented degenerate-half semantics)
    val d = Seq(
      (1L, "ththth ththth scscsc scscsc", "s0"),
      (2L, "ththth hehe ththth hehe", "s0"),
      (3L, "x", "s1"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.langMixCensus(d).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_mixed"), r.getAs[Long]("mixed_ppm")))
    assert(out.toSeq === Seq(("s0", 2L, 1L, 500000L),
      ("s1", 1L, 0L, 0L)))
  }

  test("simhashHammingHist: identical docs read distance 0, the " +
    "histogram partitions the candidate stream, cumulative exact") {
    val d = docs(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "totally different words everywhere now"))
    val hist = TextOps.simhashHammingHist(d, 3).collect()
      .map(r => (r.getAs[Long]("hamming"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("cum_pairs"), r.getAs[Boolean]("within_bar")))
    // docs 1/2 are byte-identical -> a distance-0 candidate pair
    assert(hist.head._1 === 0L && hist.head._2 >= 1L)
    // cumulative is a running sum and the bar flag matches <= 3
    hist.foldLeft(0L) { case (acc, (h, n, cum, bar)) =>
      assert(cum === acc + n); assert(bar === (h <= 3L)); cum
    }
    // the histogram censuses exactly the unfiltered candidate stream
    val total = TextOps.simhashCandidates(d).count()
    assert(hist.map(_._2).sum === total)
  }

  test("dedupYield: per-detector duplicate-involved counts on an " +
    "engineered corpus, exact ppm shares") {
    // d1/d2 identical; d3 shares their 8-token opener but its full
    // Jaccard (4/9 = 0.44) sits below the 0.7 minhash bar; d4 unique
    val d = Seq(
      (1L, "a b c d e f g h i j", "s0"),
      (2L, "a b c d e f g h i j", "s1"),
      (3L, "a b c d e f g h zz yy xx", "s0"),
      (4L, "z y x w v u t s r q", "s1"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.dedupYield(d, 5, 700000L, 3,
      TextOps.PrefixDupTokens).collect()
      .map(r => r.getAs[String]("detector") ->
        (r.getAs[Long]("n_flagged"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("flagged_ppm"))).toMap
    assert(out("exact") === ((2L, 4L, 500000L)))
    assert(out("opener") === ((3L, 4L, 750000L)))
    assert(out("minhash") === ((2L, 4L, 500000L)))
    // simhash flags are bar-dependent on the engineered tail — pin
    // self-consistency against the pair relation instead
    val shDocs = TextOps.simhashPairs(d, 3)
      .select("d1").union(TextOps.simhashPairs(d, 3).select("d2"))
      .distinct().count()
    assert(out("simhash")._1 === shDocs)
    assert(out("simhash")._3 ===
      1000000L * out("simhash")._1 / 4L)
  }

  test("tokenLenCensus: exact mean, rank-picked p95, junk bar") {
    // s0: lens {1,2,3} -> n 3, mean 2.0, p95 pos = 2 -> len 2, max 3
    // s1: lens {18,1} -> mean 9.5, p95 pos = 1 -> len 1, one long
    val d = Seq(
      (1L, "a bb ccc", "s0"),
      (2L, "aaaaaaaaaaaaaaaaaa x", "s1"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.tokenLenCensus(d).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("mean_len_micro"), r.getAs[Long]("p95_len"),
        r.getAs[Long]("max_len"), r.getAs[Long]("long_ppm")))
    assert(out.toSeq === Seq(
      ("s0", 3L, 2000000L, 2L, 3L, 0L),
      ("s1", 2L, 9500000L, 1L, 18L, 500000L)))
  }

  test("shingleDfCensus: exact log2 buckets off binary length, even " +
    "pair mass halves exactly, census cumulative") {
    // three identical 5-token docs -> one gram with df=3 (bucket 2);
    // one 6-token doc -> two df=1 grams (bucket 1)
    val d = docs(
      (1L, "w1 w2 w3 w4 w5"), (2L, "w1 w2 w3 w4 w5"),
      (3L, "w1 w2 w3 w4 w5"), (4L, "a b c d e f"))
    val out = TextOps.shingleDfCensus(d, 5, 1000L).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("lo"),
        r.getAs[Long]("hi"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("occ_mass"), r.getAs[Long]("pair_mass"),
        r.getAs[Long]("n_under_cap"), r.getAs[Long]("cum_pair_mass")))
    assert(out.toSeq === Seq(
      (1L, 1L, 1L, 2L, 2L, 0L, 2L, 0L),
      (2L, 2L, 3L, 1L, 3L, 3L, 1L, 3L)))
  }
}
