package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The §4 storage claims, executed: date-partition pruning (the BRIN-
  * index replacement) and bucketed co-located joins (the 100 TB band-
  * join path) — asserted on physical plans, not taken on faith.
  */
class StorageLayoutSpec extends SparkSpec {
  import sqlImplicits._

  test("date-partitioned sink prunes partitions on time predicates") {
    val dir = Files.createTempDirectory("graft-part").toString
    (1 to 100).map(i => (i.toLong, f"2024-01-${i % 4 + 1}%02d"))
      .toDF("id", "day")
      .write.partitionBy("day").mode("overwrite").parquet(dir)

    val pruned = spark.read.parquet(dir).filter($"day" === "2024-01-02")
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .head.toString
    assert(scan.contains("PartitionFilters: [isnotnull(day") &&
      scan.contains("= 2024-01-02)"),
      s"expected the day predicate as a partition filter in:\n$scan")
    assert(pruned.count() === (1 to 100).count(_ % 4 + 1 == 2))
  }

  test("qProfile reads the table in ONE scan (grouping via Expand)") {
    val df = graft.operators.RelationalQueries
      .qProfile(spark, "/root/testdata/sf0.001")
    // sparkPlan, not executedPlan: the AQE wrapper is itself a leaf,
    // so counting executedPlan leaves is vacuously 1
    val scans = df.queryExecution.sparkPlan.collectLeaves()
      .count(_.toString.contains("documents"))
    assert(scans === 1,
      s"profiling must not scan once per column, got $scans scans")
    assert(df.count() === 4)
  }

  test("bucketed tables join without a shuffle") {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    assert(wh != null)
    val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "av")
    val b = (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("k", "bv")
    a.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("bucket_a")
    b.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("bucket_b")
    try {
      // disable broadcast so the join would otherwise need a shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bucket_a").join(spark.table("bucket_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must be shuffle-free, got:\n$plan")
      assert(joined.count() === 1000L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS bucket_a")
      spark.sql("DROP TABLE IF EXISTS bucket_b")
    }
  }

  test("bucketed fingerprint store: contamination joins Exchange-free") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "text")
    val (k, w, maxDf, ratioMin) = (8, 4, 1000L, 500000L)
    graft.sources.FingerprintStore.save(docs, k, w, 80, 10,
      "fp_store_test")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val audit = graft.sources.FingerprintStore.contamination(
        spark, "fp_store_test", maxDf, ratioMin)
      val plan = audit.queryExecution.executedPlan.toString
      // every fingerprint-keyed step — df cap, cap semi-join, te⋈tr
      // overlap join — must ride the bucketing; the only Exchanges
      // allowed are the doc-keyed reductions
      val fpExchanges = "Exchange hashpartitioning\\(fingerprint".r
        .findAllIn(plan).length
      assert(fpExchanges === 0,
        s"fingerprint-keyed steps must use the bucketing:\n$plan")
      assert(plan.contains("SelectedBucketsCount"),
        s"expected bucketed scans:\n$plan")
      // same audit result as the self-contained recomputing path
      val inline = graft.operators.TextOps.contamination(
        docs, 80, 10, k, w, maxDf, ratioMin)
      assert(audit.collect().map(_.toSeq).toSet ===
        inline.collect().map(_.toSeq).toSet)
      assert(audit.count() > 0, "sf0.001 must contain planted leaks")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS fp_store_test")
    }
  }

  test("incoming-shard audit shuffles the shard, never the store") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "text")
    val (k, w) = (8, 4)
    graft.sources.FingerprintStore.save(docs, k, w, 80, 10,
      "fp_store_inc")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // incoming shard: two near-copies of stored docs + one fresh doc
      val sample = docs.orderBy("doc_id").limit(2).collect()
      val incoming = (sample.zipWithIndex.map { case (r, i) =>
        (1000000L + i, r.getString(1))
      } :+ ((1000009L, "entirely fresh text with no stored counterpart")))
        .toSeq.toDF("doc_id", "text")
      val audit = graft.sources.FingerprintStore.auditIncoming(
        spark, "fp_store_inc", incoming, k, w, 1000L, 500000L)
      val plan = audit.queryExecution.executedPlan.toString
      // fingerprint-keyed Exchanges: at most the one hashing the small
      // incoming shard into the store's bucketing — the corpus-sized
      // store side must ride its buckets
      val fpExchanges = "Exchange hashpartitioning\\(fingerprint".r
        .findAllIn(plan).length
      assert(fpExchanges <= 1,
        s"the store side must not shuffle on fingerprint:\n$plan")
      val out = audit.collect()
      val flaggedNew = out.map(_.getAs[Long]("new_doc")).toSet
      assert(flaggedNew === Set(1000000L, 1000001L),
        s"copies flagged, fresh doc admitted: ${out.toSeq}")
      // copies flag their stored originals with full overlap
      assert(out.forall(_.getAs[Long]("ratio_micro") === 1000000L))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS fp_store_inc")
    }
  }

  test("bucketed-store compaction keeps audits Exchange-free") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "text")
    val (k, w) = (8, 4)
    val store = "fp_store_compact"
    // simulate a store that grew through streaming appends
    graft.sources.FingerprintStore.save(docs.filter($"doc_id" < 100),
      k, w, 80, 10, store)
    try {
      for (lo <- Seq(100L, 200L))
        graft.streaming.CorpusAdmission.appendToStore(
          docs.filter($"doc_id" >= lo && $"doc_id" < lo + 100), store, k, w)
      val incoming = Seq((9000001L,
        docs.orderBy("doc_id").limit(1).collect().head.getString(1)))
        .toDF("doc_id", "text")
      def audit() = graft.sources.FingerprintStore.auditIncoming(
        spark, store, incoming, k, w, 1000L, 500000L)
      val beforeRows = audit().collect().map(_.toSeq).toSet
      val (before, after) = graft.sources.Bucketed.compact(spark, store)
      assert(after < before, s"compaction must shrink files: $before -> $after")
      // the rewritten table still carries the bucket spec: the store
      // side of the audit joins without a fingerprint Exchange
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = audit().queryExecution.executedPlan.toString
        val fpExchanges = "Exchange hashpartitioning\\(fingerprint".r
          .findAllIn(plan).length
        assert(fpExchanges <= 1,
          s"store must stay bucketed after compaction:\n$plan")
      } finally spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", "10485760")
      assert(audit().collect().map(_.toSeq).toSet === beforeRows)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $store")
      spark.sql(s"DROP TABLE IF EXISTS ${store}__compact_tmp")
      spark.sql(s"DROP TABLE IF EXISTS ${store}__compact_old")
    }
  }

  test("cluster-partitioned IVF store prunes partitions on probes") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val path = Files.createTempDirectory("graft-ivf").toString
    val cents = graft.sources.VectorStore.save(emb, path, 10)
    val stored = graft.sources.VectorStore.annTopK(spark, path, cents,
      queryId = 0L, nProbe = 3, k = 10)
    // the probe filter must reach the scan as a PARTITION filter — a
    // non-probed cluster's files are never opened
    val scan = stored.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("PartitionFilters"))
    assert(scan.exists(s => s.contains("cluster")),
      s"probe filter must prune cluster partitions:\n${scan.getOrElse("")}")
    // identical result to the recompute-on-read formulation: the store
    // only changes where assignment is paid
    val inline = graft.operators.SimilarityOps.annIvfWith(emb, 0L, cents,
      3, 10)
    assert(stored.collect().map(_.toSeq).toSeq ===
      inline.collect().map(_.toSeq).toSeq)
  }

  test("bucketed gram store: substring audit joins Exchange-free") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "text")
    val (k, maxDf) = (32, 50L)
    graft.sources.GramStore.save(docs, k, "gram_store_test")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pairs = graft.sources.GramStore.substringMatches(
        spark, "gram_store_test", maxDf)
      val plan = pairs.queryExecution.executedPlan.toString
      // every h-keyed step — df cap, cap semi-join, pair self-join —
      // must ride the bucketing; the only Exchange allowed is the
      // (d1, d2) pair reduction
      val hExchanges = "Exchange hashpartitioning\\(h#".r
        .findAllIn(plan).length
      assert(hExchanges === 0,
        s"h-keyed steps must use the bucketing:\n$plan")
      assert(plan.contains("SelectedBucketsCount"),
        s"expected bucketed scans:\n$plan")
      val inline = graft.operators.TextOps.substringMatches(
        docs, k, maxDf)
      assert(pairs.collect().map(_.toSeq).toSet ===
        inline.collect().map(_.toSeq).toSet)
      assert(pairs.count() > 0, "sf0.001 must contain shared spans")
      // the verified production variant agrees too (sf0.001 grams are
      // collision-free at mod 2^45, so verification changes nothing)
      assert(graft.sources.GramStore.substringMatchesVerified(
        spark, "gram_store_test", docs, k, maxDf)
        .collect().map(_.toSeq).toSet ===
        inline.collect().map(_.toSeq).toSet)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS gram_store_test")
    }
  }

  test("incoming-shard substring audit shuffles the shard, not the store") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "text")
    val k = 32
    graft.sources.GramStore.save(docs, k, "gram_store_inc")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val sample = docs.orderBy("doc_id").limit(1).collect()
      val incoming = Seq(
        (2000000L, sample.head.getString(1)), // exact copy of a stored doc
        (2000001L, "fresh text sharing no thirty-two character span " +
          "with anything stored in the corpus table at all"))
        .toDF("doc_id", "text")
      val audit = graft.sources.GramStore.auditIncoming(
        spark, "gram_store_inc", incoming, k, 50L)
      val plan = audit.queryExecution.executedPlan.toString
      // h-keyed Exchanges: at most the one hashing the small incoming
      // shard into the store's bucketing
      val hExchanges = "Exchange hashpartitioning\\(h#".r
        .findAllIn(plan).length
      assert(hExchanges <= 1,
        s"the store side must not shuffle on h:\n$plan")
      val out = audit.collect()
      assert(out.map(_.getAs[Long]("new_doc")).toSet === Set(2000000L),
        s"copy flagged, fresh doc admitted: ${out.toSeq}")
      // the exact copy shares every gram with its stored original,
      // starting at the same position
      val hit = out.find(r => r.getAs[Long]("stored_doc") ===
        sample.head.getLong(0))
      assert(hit.isDefined, s"copy must flag its original: ${out.toSeq}")
      assert(hit.get.getAs[Long]("new_pos") ===
        hit.get.getAs[Long]("stored_pos"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS gram_store_inc")
    }
  }

  test("gram store append: layout preserved, append+audit == rebuild+audit") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "text")
    val (k, maxDf) = (32, 50L)
    val corpusA = docs.filter(col("doc_id") < 400)
    val shardB = docs.filter(col("doc_id") >= 400)
    graft.sources.GramStore.save(corpusA, k, "gram_store_app")
    graft.sources.GramStore.append(shardB, k, "gram_store_app")
    graft.sources.GramStore.save(docs, k, "gram_store_reb")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def pairs(t: String) = graft.sources.GramStore
        .substringMatches(spark, t, maxDf)
      // a store grown by append answers the span query exactly as the
      // same data saved in one shot...
      assert(pairs("gram_store_app").collect().map(_.toSeq).toSet ===
        pairs("gram_store_reb").collect().map(_.toSeq).toSet)
      // ...and audits an incoming shard identically — grams appended in
      // "batch N" (shardB) must reject a later copy
      val copy = shardB.orderBy("doc_id").limit(1)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
      def audit(t: String) = graft.sources.GramStore
        .auditIncoming(spark, t, copy, k, maxDf)
      val fromAppended = audit("gram_store_app").collect().map(_.toSeq)
      assert(fromAppended.nonEmpty,
        "batch-N append must be visible to the batch-N+1 audit")
      assert(fromAppended.toSet ===
        audit("gram_store_reb").collect().map(_.toSeq).toSet)
      // the grown store still carries the bucket spec: audit plan has at
      // most the one Exchange hashing the incoming shard
      val plan = audit("gram_store_app")
        .queryExecution.executedPlan.toString
      val hExchanges = "Exchange hashpartitioning\\(h#".r
        .findAllIn(plan).length
      assert(hExchanges <= 1,
        s"append must preserve the bucket layout:\n$plan")
      // at-least-once replay: appending the same shard AGAIN must not
      // change any audit decision (dedup + exact-row duplicates)
      graft.sources.GramStore.append(shardB, k, "gram_store_app")
      assert(audit("gram_store_app").collect().map(_.toSeq).toSet ===
        fromAppended.toSet)
      assert(pairs("gram_store_app").collect().map(_.toSeq).toSet ===
        pairs("gram_store_reb").collect().map(_.toSeq).toSet)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS gram_store_app")
      spark.sql("DROP TABLE IF EXISTS gram_store_reb")
    }
  }

  test("bucketed word-gram store: overlap audit shuffles the eval " +
      "side only, output == inline path") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "text")
    val (n, tp, vp, bar) = (8, 80, 10, 700000L)
    graft.sources.WordGramStore.save(docs, n, tp, vp, "wg_store_test")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val audit = graft.sources.WordGramStore.overlapAudit(
        spark, "wg_store_test", docs, n, tp, vp, bar)
      val plan = audit.queryExecution.executedPlan.toString
      // the membership join is h-keyed: the corpus-sized train set must
      // ride its buckets — at most the ONE Exchange hashing the eval
      // side's grams into the store layout is allowed on h
      val hExchanges = "Exchange hashpartitioning\\(h#".r
        .findAllIn(plan).length
      assert(hExchanges <= 1,
        s"the stored train gram set must not shuffle on h:\n$plan")
      assert(plan.contains("SelectedBucketsCount"),
        s"expected bucketed scans:\n$plan")
      val inline = graft.operators.TextOps.ngramOverlapAudit(
        docs, n, tp, vp, bar)
      assert(audit.collect().map(_.toSeq).toSet ===
        inline.collect().map(_.toSeq).toSet,
        "store-backed audit must equal the inline path")
      assert(audit.count() > 0, "eval split must be non-empty")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS wg_store_test")
    }
  }

  test("store-backed SemDeDup/kNN: assignment read not recomputed, " +
      "partitions pruned, output == in-query path") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val path = Files.createTempDirectory("graft-sem").toString
    val cents = graft.sources.VectorStore.save(emb, path, 10)

    val stored = graft.sources.VectorStore.semDedup(spark, path, 700000L)
    val inline = graft.operators.SimilarityOps
      .semDedup(emb, cents, 700000L)
    assert(stored.collect().map(_.toSeq).toSet ===
      inline.collect().map(_.toSeq).toSet)
    // the store path must READ the cluster id — a plan that re-runs the
    // assignment kernel is paying write-time work per audit
    val plan = stored.queryExecution.executedPlan.toString
    assert(!plan.contains("kmeans_assign"),
      s"store-backed audit must not re-assign clusters:\n$plan")

    // cluster-subset audit: the restriction is a partition filter, and
    // verdicts are cluster-local, so the subset equals the full audit
    // filtered to those clusters
    val sub = graft.sources.VectorStore
      .semDedup(spark, path, 700000L, Seq(0L, 1L))
    val scan = sub.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("PartitionFilters"))
    assert(scan.exists(s => s.contains("cluster")),
      s"cluster subset must prune partitions:\n${scan.getOrElse("")}")
    assert(sub.collect().map(_.toSeq).toSet ===
      stored.filter($"cluster".isin(0L, 1L))
        .collect().map(_.toSeq).toSet)

    // kNN label audit: labels come off the store's own metadata
    // columns — one relation, no corpus-side join — same confusion
    // census as the in-query formulation
    val kStored = graft.sources.VectorStore
      .knnLabelConfusion(spark, path, 3)
    val kInline = graft.operators.SimilarityOps
      .knnLabelConfusion(emb, cents, 3)
    assert(kStored.collect().map(_.toSeq).toSet ===
      kInline.collect().map(_.toSeq).toSet)
    assert(!kStored.queryExecution.executedPlan.toString
      .contains("kmeans_assign"))

    // hubness census: same kNN graph off the stored layout — equal
    // histogram, no re-assignment, cluster subset prunes partitions
    val hStored = graft.sources.VectorStore.hubnessCensus(spark, path, 3)
    val hInline = graft.operators.SimilarityOps
      .hubnessCensus(emb, cents, 3)
    assert(hStored.collect().map(_.toSeq).toSet ===
      hInline.collect().map(_.toSeq).toSet)
    assert(!hStored.queryExecution.executedPlan.toString
      .contains("kmeans_assign"))
    val hSub = graft.sources.VectorStore
      .hubnessCensus(spark, path, 3, Seq(0L, 1L))
    val hScan = hSub.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("PartitionFilters"))
    assert(hScan.exists(s => s.contains("cluster")),
      s"hubness cluster subset must prune partitions:\n${
        hScan.getOrElse("")}")

    // reciprocity + LID censuses: the same stored kNN graph — equal
    // outputs, no re-assignment, and the LID cluster subset equals
    // the full audit filtered to those clusters (cluster-local)
    val rStored = graft.sources.VectorStore
      .knnReciprocityCensus(spark, path, 3)
    val rInline = graft.operators.SimilarityOps
      .knnReciprocityCensus(emb, cents, 3)
    assert(rStored.collect().map(_.toSeq).toSet ===
      rInline.collect().map(_.toSeq).toSet)
    assert(!rStored.queryExecution.executedPlan.toString
      .contains("kmeans_assign"))
    val lStored = graft.sources.VectorStore.lidCensus(spark, path, 3)
    val lInline = graft.operators.SimilarityOps.lidCensus(emb, cents, 3)
    assert(lStored.collect().map(_.toSeq).toSet ===
      lInline.collect().map(_.toSeq).toSet)
    assert(!lStored.queryExecution.executedPlan.toString
      .contains("kmeans_assign"))
    val lSub = graft.sources.VectorStore
      .lidCensus(spark, path, 3, Seq(0L, 1L))
    assert(lSub.collect().map(_.toSeq).toSet ===
      lStored.filter($"cluster".isin(0L, 1L))
        .collect().map(_.toSeq).toSet)

    // retrieval evals (nDCG@k, label MRR) off the stored layout:
    // labels ride the store's own metadata columns, output == the
    // in-query path, no assignment kernel in either plan, and a
    // cluster subset prunes partitions
    val nStored = graft.sources.VectorStore.ndcgAtK(spark, path, 5L, 10)
    val nInline = graft.operators.SimilarityOps.ndcgAtK(emb, 5L, 10)
    assert(nStored.collect().map(_.toSeq).toSet ===
      nInline.collect().map(_.toSeq).toSet)
    assert(!nStored.queryExecution.executedPlan.toString
      .contains("kmeans_assign"))
    val mStored = graft.sources.VectorStore.labelMrr(spark, path, 5L)
    val mInline = graft.operators.SimilarityOps.labelMrr(emb, 5L)
    assert(mStored.collect().map(_.toSeq).toSet ===
      mInline.collect().map(_.toSeq).toSet)
    assert(!mStored.queryExecution.executedPlan.toString
      .contains("kmeans_assign"))
    val nSub = graft.sources.VectorStore
      .ndcgAtK(spark, path, 5L, 10, Seq(0L, 1L))
    val nScan = nSub.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("PartitionFilters"))
    assert(nScan.exists(s => s.contains("cluster")),
      s"ndcg cluster subset must prune partitions:\n${
        nScan.getOrElse("")}")
  }

  test("bucketed ADS-B store: the whole flights plan is Exchange-free") {
    val adsb = graft.operators.AdsbQueries
      .eventsAsAdsb(spark, "/root/testdata/sf0.001")
    graft.sources.AdsbStore.save(adsb, "adsb_bucketed")
    try {
      // disable broadcast: the claim is co-location carries the plan
      // even when BOTH sides are too big to broadcast — the 100 TB case
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val flights = graft.sources.AdsbStore.flights(spark, "adsb_bucketed")
      val plan = flights.queryExecution.executedPlan.toString
      // scan -> filters -> callsigns aggregate (bucket key is a subset
      // of the grouping key) -> band join -> DISTINCT: every step's
      // required clustering is satisfied by the bucket partitioning
      assert(!plan.contains("Exchange"),
        s"flights over the bucketed store must plan zero Exchange:\n$plan")
      // identical output to the inline path on the same rows
      val inline = graft.operators.Views.flights(adsb)
      assert(flights.collect().map(_.toSeq).toSet ===
        inline.collect().map(_.toSeq).toSet)
      // streaming growth: an appended micro-batch keeps the layout and
      // the Exchange-free plan, and its rows join against the history
      val (histDf, batchDf) = {
        val marked = adsb.withColumn("__h",
          org.apache.spark.sql.functions.abs(
            org.apache.spark.sql.functions.hash($"hex_ident")) % 10)
        (marked.filter($"__h" =!= 0).drop("__h"),
         marked.filter($"__h" === 0).drop("__h"))
      }
      graft.sources.AdsbStore.save(histDf, "adsb_grown")
      graft.sources.AdsbStore.append(batchDf, "adsb_grown")
      val grown = graft.sources.AdsbStore.flights(spark, "adsb_grown")
      assert(!grown.queryExecution.executedPlan.toString
        .contains("Exchange"),
        "append must preserve the bucket layout")
      assert(grown.collect().map(_.toSeq).toSet ===
        inline.collect().map(_.toSeq).toSet)
      // reference SQL parity: the persistent catalog-VIEW chain
      // (create_schema.sql:85-124 semantics) over the bucketed table
      // resolves to the SAME Exchange-free plan — a reference user's
      // `SELECT * FROM flights` runs shuffle-free verbatim
      // a prior suite may have left Views.register's TEMP views in the
      // shared session; they would shadow the catalog views (and Spark
      // refuses a persistent view over a temp one) — clear them first
      Seq("adsb_messages", "callsigns", "locations", "flights")
        .foreach(spark.catalog.dropTempView(_))
      graft.operators.Views.registerPersistent(spark, "adsb_bucketed")
      try {
        val viaSql = spark.sql("SELECT * FROM flights")
        assert(!viaSql.queryExecution.executedPlan.toString
          .contains("Exchange"),
          "the catalog-view chain must inherit the bucketed plan")
        assert(viaSql.collect().map(_.toSeq).toSet ===
          inline.collect().map(_.toSeq).toSet)
      } finally {
        Seq("flights", "locations", "callsigns")
          .foreach(v => spark.sql(s"DROP VIEW IF EXISTS $v"))
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS adsb_bucketed")
      spark.sql("DROP TABLE IF EXISTS adsb_grown")
    }
  }

  test("batch pair store: D-family cluster audits read the stored " +
      "closure — output == in-query paths, no pipeline re-derivation") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val (n, maxDf, jacMin) = (5, 1000L, 800000L)
    val ngp = graft.operators.TextOps
      .ngramJaccardPairs(docs, n, maxDf, jacMin)
    graft.sources.PairStore.save(ngp, "pairstore_test")
    try {
      // the stored pair relation round-trips, original column order
      val stored = graft.sources.PairStore.pairs(spark, "pairstore_test")
      assert(stored.columns.toSeq === ngp.columns.toSeq)
      assert(stored.collect().map(_.toSeq).toSet ===
        ngp.collect().map(_.toSeq).toSet)
      assert(stored.count() > 0, "fixture must exercise real pairs")

      // component closure was computed ONCE at write time and equals
      // the in-query union-find
      assert(graft.sources.PairStore.components(spark, "pairstore_test")
        .collect().map(_.toSeq).toSet ===
        graft.operators.TextOps.connectedComponents(ngp)
          .collect().map(_.toSeq).toSet)

      // D27/D28/D22/D23 store-backed == in-query, row for row
      assert(graft.sources.PairStore
        .clusterPurity(spark, "pairstore_test", docs, n)
        .collect().map(_.toSeq).toSet ===
        graft.operators.TextOps.clusterPurity(docs, ngp, n)
          .collect().map(_.toSeq).toSet)
      val depthStored = graft.sources.PairStore
        .clusterDepthCensus(spark, "pairstore_test")
      assert(depthStored.collect().map(_.toSeq).toSet ===
        graft.operators.TextOps.clusterDepthCensus(ngp)
          .collect().map(_.toSeq).toSet)
      assert(graft.sources.PairStore
        .dedupWeights(spark, "pairstore_test", docs)
        .collect().map(_.toSeq).toSet ===
        graft.operators.TextOps.dedupWeights(docs, ngp)
          .collect().map(_.toSeq).toSet)
      assert(graft.sources.PairStore
        .dedupProvenance(spark, "pairstore_test", docs)
        .collect().map(_.toSeq).toSet ===
        graft.operators.TextOps.dedupProvenance(docs, ngp)
          .collect().map(_.toSeq).toSet)

      // the depth audit's plan reads ONLY the store — zero corpus
      // scans (the "computed once, audited many times" pin)
      val depthScans = depthStored.queryExecution.sparkPlan
        .collectLeaves().count(_.toString.contains("documents"))
      assert(depthScans === 0,
        s"store-backed depth audit must not scan the corpus, " +
          s"got $depthScans document scans")

      // cluster-size aggregate groups on the bucket column:
      // Exchange-free (the bucketed-table discipline)
      val sizes = graft.sources.PairStore
        .components(spark, "pairstore_test")
        .groupBy("component")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)))
      val sizesPlan = sizes.queryExecution.executedPlan.toString
      assert(!sizesPlan.contains("Exchange"),
        s"component-bucketed size aggregate must be shuffle-free:\n" +
          sizesPlan)
    } finally {
      spark.sql("DROP TABLE IF EXISTS pairstore_test_pairs")
      spark.sql("DROP TABLE IF EXISTS pairstore_test_components")
    }
  }

  test("batch pair store: X80 curation waterfall served store-fed — " +
      "PairStore.pairs ≡ the in-query D2 re-derivation, bit-for-bit") {
    // the deployment split every 3–5 s audit-class query documents
    // (VERDICT r15 item 3): in-query the waterfall re-derives the D2
    // candidate pipeline BY PROTOCOL to measure it; a deployment
    // reads the persisted pair relation and pays only the quality
    // projection + one bucketed-store join.
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "source", "text")
    import graft.operators.{TextOps, TextQueries}
    val (n, maxDf, jacMin, qMin) =
      (TextQueries.ShingleN, TextQueries.MaxShingleDf,
        TextQueries.NgramJacMin, TextQueries.CurateQualityMin)
    val ngp = TextOps.ngramJaccardPairs(docs, n, maxDf, jacMin)
    graft.sources.PairStore.save(ngp, "pairstore_wf")
    try {
      val inQuery = TextOps.curationWaterfall(
        docs, n, maxDf, jacMin, qMin).collect()
      val storeFed = TextOps.curationWaterfall(docs, n, maxDf, jacMin,
        qMin, pairs =
          Some(graft.sources.PairStore.pairs(spark, "pairstore_wf")))
      assert(storeFed.collect().map(_.toSeq).toSeq ===
        inQuery.map(_.toSeq).toSeq)
      assert(inQuery.nonEmpty, "fixture must exercise real sources")
      // the served plan carries no candidate generation: zero minhash
      // / banding / shingle-explode stages — only the store scan and
      // the quality projection
      val plan = storeFed.queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("explode"),
        s"store-fed waterfall must not re-derive shingles:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS pairstore_wf_pairs")
      spark.sql("DROP TABLE IF EXISTS pairstore_wf_components")
    }
  }

  test("batch pair store: D29 detector diff reads BOTH stored pair " +
      "relations — no detector kernels in the plan") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val (n, mhJacMin, maxHamming) = (5, 700000L, 3)
    graft.sources.PairStore.save(
      graft.operators.TextOps.minhashLshPairs(docs, n, mhJacMin),
      "pairstore_mh")
    graft.sources.PairStore.save(
      graft.operators.TextOps.simhashPairs(docs, maxHamming),
      "pairstore_sh")
    try {
      val stored = graft.sources.PairStore
        .detectorDisagreement(spark, "pairstore_mh", "pairstore_sh",
          docs, n)
      val inline = graft.operators.TextOps
        .detectorDisagreement(docs, n, mhJacMin, maxHamming)
      assert(stored.collect().map(_.toSeq).toSet ===
        inline.collect().map(_.toSeq).toSet)
      assert(stored.count() > 0)
      // the stored path pays union + classify + the simhash-only
      // exact-verify — NEITHER detector pipeline runs: no simhash
      // bit_count, no minhash signature zip_with
      val plan = stored.queryExecution.executedPlan.toString
      assert(!plan.contains("bit_count"),
        s"stored detector diff must not re-run the simhash kernel:\n" +
          plan.take(4000))
      assert(!plan.contains("zip_with"),
        s"stored detector diff must not re-run the minhash kernel:\n" +
          plan.take(4000))
    } finally {
      spark.sql("DROP TABLE IF EXISTS pairstore_mh_pairs")
      spark.sql("DROP TABLE IF EXISTS pairstore_mh_components")
      spark.sql("DROP TABLE IF EXISTS pairstore_sh_pairs")
      spark.sql("DROP TABLE IF EXISTS pairstore_sh_components")
    }
  }

  test("PairStore.append merges components incrementally — a new " +
      "pair BRIDGES two stored components, untouched components " +
      "stay, disjoint new pairs open their own component") {
    val a = Seq((1L, 2L, 900000L), (3L, 4L, 900000L),
      (10L, 11L, 900000L)).toDF("d1", "d2", "jac_micro")
    val b = Seq((2L, 3L, 850000L), (20L, 21L, 990000L))
      .toDF("d1", "d2", "jac_micro")
    graft.sources.PairStore.save(a, "pairstore_app")
    try {
      graft.sources.PairStore.append(spark, b, "pairstore_app")
      val comps = graft.sources.PairStore
        .components(spark, "pairstore_app").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // the (2,3) pair fuses stored components {1,2} and {3,4} under
      // the global min label 1; {10,11} is untouched; (20,21) is a
      // brand-new component
      assert(comps === Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
        (10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L)))
      // the pair table is A ∪ B with metadata columns intact
      assert(graft.sources.PairStore.pairs(spark, "pairstore_app")
        .collect().map(_.toSeq).toSet ===
        a.unionByName(b).collect().map(_.toSeq).toSet)
    } finally {
      spark.sql("DROP TABLE IF EXISTS pairstore_app_pairs")
      spark.sql("DROP TABLE IF EXISTS pairstore_app_components")
    }
  }

  test("PairStore.append(A then B) ≡ save(A ∪ B) on both tables, " +
      "bucket layout intact after the append (Exchange-free " +
      "bucket-column aggregates on both)") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val ngp = graft.operators.TextOps
      .ngramJaccardPairs(docs, 5, 1000L, 800000L).cache()
    // deterministic disjoint split of the PAIR relation — (d1+d2)
    // parity, so components routinely straddle the halves and the
    // append path's bridging merge actually runs on real data
    val aa = ngp.filter((col("d1") + col("d2")) % 2 === 0)
    val bb = ngp.filter((col("d1") + col("d2")) % 2 =!= 0)
    assert(aa.count() > 0 && bb.count() > 0,
      "fixture must exercise both halves of the split")
    graft.sources.PairStore.save(aa, "pairstore_inc")
    graft.sources.PairStore.save(ngp, "pairstore_fullref")
    try {
      graft.sources.PairStore.append(spark, bb, "pairstore_inc")
      assert(graft.sources.PairStore.pairs(spark, "pairstore_inc")
        .collect().map(_.toSeq).toSet ===
        graft.sources.PairStore.pairs(spark, "pairstore_fullref")
          .collect().map(_.toSeq).toSet)
      assert(graft.sources.PairStore.components(spark, "pairstore_inc")
        .collect().map(_.toSeq).toSet ===
        graft.sources.PairStore
          .components(spark, "pairstore_fullref")
          .collect().map(_.toSeq).toSet)
      // the appended pair table keeps its catalog bucket metadata: a
      // d1-keyed aggregate is still Exchange-free, and the rewritten
      // components table likewise on its bucket column
      val pairAgg = spark.table("pairstore_inc_pairs")
        .groupBy("d1").agg(count(lit(1)))
      assert(!pairAgg.queryExecution.executedPlan.toString
        .contains("Exchange"),
        "bucketed pair table must stay Exchange-free after append")
      val compAgg = spark.table("pairstore_inc_components")
        .groupBy("component").agg(count(lit(1)))
      assert(!compAgg.queryExecution.executedPlan.toString
        .contains("Exchange"),
        "rewritten components table must stay Exchange-free")
    } finally {
      ngp.unpersist()
      spark.sql("DROP TABLE IF EXISTS pairstore_inc_pairs")
      spark.sql("DROP TABLE IF EXISTS pairstore_inc_components")
      spark.sql("DROP TABLE IF EXISTS pairstore_fullref_pairs")
      spark.sql("DROP TABLE IF EXISTS pairstore_fullref_components")
    }
  }

  test("PairStore.append replay fixed point + compact: a retried " +
      "batch adds zero duplicate rows, appendxN + compact == " +
      "save(union) bit-for-bit, file count back to one per bucket") {
    val a = Seq((1L, 2L, 900000L), (3L, 4L, 900000L))
      .toDF("d1", "d2", "jac_micro")
    val b = Seq((2L, 3L, 850000L)).toDF("d1", "d2", "jac_micro")
    // c shares d1=1 with a's first row: its append stacks a second
    // file onto an already-occupied bucket, so compaction must shrink
    val c = Seq((1L, 5L, 990000L)).toDF("d1", "d2", "jac_micro")
    graft.sources.PairStore.save(a, "pairstore_rt")
    graft.sources.PairStore.save(
      a.unionByName(b).unionByName(c), "pairstore_rtref")
    try {
      graft.sources.PairStore.append(spark, b, "pairstore_rt")
      // at-least-once replay: the SAME batch again is a no-op on the
      // pair rows and a fixed point on components (ADVICE r14)
      graft.sources.PairStore.append(spark, b, "pairstore_rt")
      graft.sources.PairStore.append(spark, c, "pairstore_rt")
      graft.sources.PairStore.append(spark, c, "pairstore_rt")
      def rows(base: String) = (
        graft.sources.PairStore.pairs(spark, base)
          .collect().map(_.toSeq).toSeq.sortBy(_.toString),
        graft.sources.PairStore.components(spark, base)
          .collect().map(_.toSeq).toSeq.sortBy(_.toString))
      assert(rows("pairstore_rt") === rows("pairstore_rtref"))
      assert(graft.sources.PairStore.pairs(spark, "pairstore_rt")
        .count() === 4, "replayed batches must not duplicate rows")
      // compaction: the appends piled files; the rewrite brings the
      // table back to one file per bucket with rows + layout intact
      val (before, after) =
        graft.sources.PairStore.compact(spark, "pairstore_rt")
      assert(after <= 8 && after < before,
        s"compact must bound files (before=$before after=$after)")
      assert(rows("pairstore_rt") === rows("pairstore_rtref"))
      val agg = spark.table("pairstore_rt_pairs")
        .groupBy("d1").agg(count(lit(1)))
      assert(!agg.queryExecution.executedPlan.toString
        .contains("Exchange"),
        "compacted pair table must keep its bucket metadata")
    } finally {
      spark.sql("DROP TABLE IF EXISTS pairstore_rt_pairs")
      spark.sql("DROP TABLE IF EXISTS pairstore_rt_components")
      spark.sql("DROP TABLE IF EXISTS pairstore_rtref_pairs")
      spark.sql("DROP TABLE IF EXISTS pairstore_rtref_components")
    }
  }

  test("ShingleStore.compact: daily appends pile files; the rewrite " +
      "bounds both tables to one file per bucket with content and " +
      "bucket metadata intact") {
    val base = "shstore_ct"
    def d(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    graft.sources.ShingleStore.ensure(spark, base)
    try {
      graft.sources.ShingleStore.append(
        d((1L, "one two three four five six")), 5, base)
      graft.sources.ShingleStore.append(
        d((2L, "one two three four five seven")), 5, base)
      graft.sources.ShingleStore.append(
        d((3L, "totally different words in this row here")), 5, base)
      def rows() = (
        graft.sources.ShingleStore.shingles(spark, base)
          .collect().map(_.toSeq).toSet,
        graft.sources.ShingleStore.sizes(spark, base)
          .collect().map(_.toSeq).toSet)
      val beforeRows = rows()
      val ((shB, shA), (szB, szA)) =
        graft.sources.ShingleStore.compact(spark, base)
      assert(shA <= 8 && shA < shB,
        s"sh compact must bound files (before=$shB after=$shA)")
      // the doc-keyed sizes table only stacks when two batches hit the
      // same bucket; with three docs in three buckets the rewrite is a
      // no-op on the count — bounded, not necessarily smaller
      assert(szA <= 8 && szA <= szB,
        s"sizes compact must bound files (before=$szB after=$szA)")
      assert(rows() === beforeRows)
      // the compacted index keeps its Exchange-free df census
      val agg = spark.table(s"${base}_sh").groupBy("h")
        .agg(count(lit(1)))
      assert(!agg.queryExecution.executedPlan.toString
        .contains("Exchange"),
        "compacted shingle table must keep its bucket metadata")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${base}_sh")
      spark.sql(s"DROP TABLE IF EXISTS ${base}_sizes")
    }
  }

  test("persisted graph-ANN index: beam search and beam sweep read " +
      "the edge table — zero graph-construction stages, output == " +
      "in-query paths") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val path = Files.createTempDirectory("graft-gann").toString
    val (m, beam, rounds, k, nSeeds, qMax) = (8, 16, 4, 10, 10, 5L)
    val cents = graft.sources.VectorStore.save(emb, path, nSeeds)
    graft.sources.VectorStore.saveGraph(spark, path, "gann_edges", m)
    try {
      // the persisted edges ARE the in-query edge relation
      assert(graft.sources.VectorStore.graphEdges(spark, "gann_edges")
        .collect().map(_.toSeq).toSet ===
        graft.operators.SimilarityOps.knnGraphEdges(emb, cents, m)
          .collect().map(_.toSeq).toSet)

      val stored = graft.sources.VectorStore
        .graphAnn(spark, path, "gann_edges", qMax, beam, rounds, k,
          nSeeds)
      val inline = graft.operators.SimilarityOps
        .graphAnn(emb, cents, qMax, m, beam, rounds, k, nSeeds)
      assert(stored.collect().map(_.toSeq) ===
        inline.collect().map(_.toSeq))
      // serving never rebuilds the graph: no assignment kernel, no
      // runner-up kernel in the plan — the edge table is read
      val plan = stored.queryExecution.executedPlan.toString
      assert(!plan.contains("kmeans_assign"),
        s"store-backed beam search must not re-assign clusters:\n" +
          plan.take(4000))
      assert(!plan.contains("kmeans_second"),
        s"store-backed beam search must not recompute probes:\n" +
          plan.take(4000))

      val sweepStored = graft.sources.VectorStore
        .graphAnnSweep(spark, path, "gann_edges", qMax, Seq(4, 8, beam),
          rounds, k, nSeeds)
      val sweepInline = graft.operators.SimilarityOps
        .graphAnnSweep(emb, cents, qMax, m, Seq(4, 8, beam), rounds, k,
          nSeeds)
      assert(sweepStored.collect().map(_.toSeq) ===
        sweepInline.collect().map(_.toSeq))
      assert(!sweepStored.queryExecution.executedPlan.toString
        .contains("kmeans_second"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS gann_edges")
    }
  }

  test("ORC round-trip preserves the ADS-B frame (alternate columnar sink)") {
    import sqlImplicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    val parsed = graft.sources.Sbs1.parse(
      graft.sources.Sbs1.sampleLines.toDF("value"),
      parsedTime = org.apache.spark.sql.functions
        .lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
    parsed.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() === 6)
    // file formats may relax nullability flags; names + types must hold
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      parsed.schema.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  private def numBuckets(table: String): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(_.numBuckets).getOrElse(0)

  test("an existing table's bucket spec wins: GramStore appends into a " +
      "4-bucket table, and compaction keeps 4 buckets") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "text")
    val (k, t) = (32, "gram_store_b4")
    // a deployment's own DDL-sized table, not the store's default count
    graft.operators.TextOps.gramFirstPositions(
        docs.filter(col("doc_id") < 200), k)
      .write.mode("overwrite").bucketBy(4, "h").sortBy("h")
      .saveAsTable(t)
    try {
      for (lo <- Seq(200L, 400L))
        graft.sources.GramStore.append(
          docs.filter(col("doc_id") >= lo && col("doc_id") < lo + 200), k, t)
      assert(numBuckets(t) === 4)
      val rows = spark.table(t).collect().map(_.toSeq)
      assert(rows.length === graft.operators.TextOps.gramFirstPositions(
        docs.filter(col("doc_id") < 600), k).count())
      val (before, after) = graft.sources.Bucketed.compact(spark, t)
      assert(numBuckets(t) === 4)
      assert(after <= 4 && after < before,
        s"compaction must bound files to the 4 buckets: $before -> $after")
      assert(spark.table(t).collect().map(_.toSeq).sortBy(_.toString) ===
        rows.sortBy(_.toString))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}__compact_tmp")
      spark.sql(s"DROP TABLE IF EXISTS ${t}__compact_old")
    }
  }

  test("a bucketed table keeps the frame's column order, bucket column " +
      "not first, through save, merge rewrite and append") {
    import graft.sources.{Bucketed, ComponentStore}
    val (comp, t) = ("component_order", "bucket_order")
    try {
      val cols = Seq("doc_id", "component")
      ComponentStore.ensure(spark, comp)
      assert(spark.table(comp).columns.toSeq === cols)
      ComponentStore.mergeBatch(comp, Seq((2L, 3L)).toDF("d1", "d2"),
        Seq(2L, 3L, 5L).toDF("doc_id"))
      assert(spark.table(comp).columns.toSeq === cols)
      ComponentStore.mergeBatch(comp, Seq((3L, 5L)).toDF("d1", "d2"),
        Seq(3L, 5L, 7L).toDF("doc_id"))
      assert(spark.table(comp).columns.toSeq === cols)
      assert(ComponentStore.load(spark, comp).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        Map(2L -> 2L, 3L -> 2L, 5L -> 2L, 7L -> 7L))

      val layout = Bucketed.Layout("c", "c")
      val frame = Seq((1L, "x", 10L, 1.5), (2L, "y", 20L, 2.5))
        .toDF("a", "b", "c", "d")
      Bucketed.write(frame, t, layout, "overwrite")
      assert(spark.table(t).columns.toSeq === frame.columns.toSeq)
      // an append in another column order lands by name
      Bucketed.write(Seq((3L, "z", 30L, 3.5)).toDF("a", "b", "c", "d")
        .select("d", "c", "b", "a"), t, layout, "append")
      assert(spark.table(t).columns.toSeq === frame.columns.toSeq)
      assert(spark.table(t).orderBy("a").collect().map(_.toSeq).toSeq ===
        Seq(Seq(1L, "x", 10L, 1.5), Seq(2L, "y", 20L, 2.5),
          Seq(3L, "z", 30L, 3.5)))
      assert(numBuckets(t) === Bucketed.Buckets)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $comp")
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }
}
