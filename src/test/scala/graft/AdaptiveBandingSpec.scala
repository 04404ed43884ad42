package graft

import org.apache.spark.sql.functions._

import graft.operators.{SimilarityOps, SimilarityQueries}

/** Scale-adaptive sign-LSH banding: the selection rule is pinned at its
  * boundaries, the query surface is pinned bit-for-bit to the 4-bit
  * output at test-corpus sizes, and the wide path (the width the rule
  * switches to past the occupancy cap) is pinned to the replication
  * closed form — so the production q_embed_lsh path past the cap is
  * the same code path, not a separate constant.
  */
class AdaptiveBandingSpec extends SparkSpec {

  test("selection rule: smallest width under the occupancy cap") {
    import SimilarityOps.adaptiveBandBits
    // menu for 16 planes is {4, 8, 16}; cap = 1024 expected per bucket
    assert(adaptiveBandBits(1L, 16) === 4)
    assert(adaptiveBandBits(500L, 16) === 4)   // sf0.001 / sf0.01
    assert(adaptiveBandBits(2000L, 16) === 4)  // sf0.1
    assert(adaptiveBandBits(16384L, 16) === 4) // boundary: 1024·2^4
    assert(adaptiveBandBits(16385L, 16) === 8) // first widening
    assert(adaptiveBandBits(64000L, 16) === 8) // sf0.1 replicated 32×
    assert(adaptiveBandBits(262144L, 16) === 8) // boundary: 1024·2^8
    assert(adaptiveBandBits(262145L, 16) === 16)
    assert(adaptiveBandBits(Long.MaxValue, 16) === 16)
    // 32-plane production menu widens through 8 to 16/32
    assert(adaptiveBandBits(2000L, 32) === 4)
    assert(adaptiveBandBits(100000L, 32) === 8)
    assert(adaptiveBandBits(1000000L, 32) === 16)
  }

  test("selection rule properties: divides planes, ≥ 4 bits, monotone " +
      "in n, occupancy cap honored below the widest width") {
    import SimilarityOps.{adaptiveBandBits, BandOccupancyCap}
    for (planes <- Seq(16, 32)) {
      val widest = (1 to planes).filter(b => planes % b == 0).max
      var prev = 0
      // sweep n across six orders of magnitude incl. the exact
      // boundaries of every menu width
      val ns = (0 to 20).map(1L << _) ++
        (2 to 16).map(b => (BandOccupancyCap << b)) ++
        (2 to 16).map(b => (BandOccupancyCap << b) + 1)
      ns.sorted.foreach { n =>
        val b = adaptiveBandBits(n, planes)
        assert(planes % b === 0, s"width $b must divide $planes")
        assert(b >= 4)
        assert(b >= prev, s"rule must widen monotonically in n ($n)")
        if (b < widest)
          assert(n <= (BandOccupancyCap << b),
            s"occupancy cap violated: n=$n width=$b")
        prev = b
      }
    }
  }

  test("query surface at test-corpus size ≡ the historical 4-bit path") {
    val dir = "/root/testdata/sf0.001"
    val adaptive = SimilarityQueries.qEmbedLsh(spark, dir).collect()
    val fixed4 = SimilarityOps.signLshPairs(
      graft.sources.Tables.embeddings(spark, dir),
      SimilarityQueries.LshPlanes, 4, SimilarityQueries.LshCosMin)
      .orderBy("d1", "d2").collect()
    assert(adaptive.toSeq === fixed4.toSeq)
    assert(adaptive.nonEmpty)
  }

  test("wide path: past the cap the rule widens and the closed form holds") {
    // 40 vec_id-offset copies of sf0.001 (identical content): 20,000
    // rows > 16,384 forces the 8-bit width. Verified pairs then obey
    // pairs(c) = c²·pairs_w8(1×) + n·c(c−1)/2 exactly — every 1× pair
    // in all c² copy combinations plus each vector against its own
    // c−1 copies (identical copies score exactly 10⁶ ≥ any bar).
    val base = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val c = 40
    val d = base.crossJoin(spark.range(c).toDF("__r"))
      .withColumn("vec_id", col("vec_id") + col("__r") * 10000000L)
      .drop("__r")
    val n = base.count()
    val bb = SimilarityOps.adaptiveBandBits(n * c, SimilarityQueries.LshPlanes)
    assert(bb === 8)
    val wide = SimilarityOps.signLshPairs(d, SimilarityQueries.LshPlanes,
      bb, SimilarityQueries.LshCosMin).count()
    val base8 = SimilarityOps.signLshPairs(base,
      SimilarityQueries.LshPlanes, 8, SimilarityQueries.LshCosMin).count()
    assert(wide === c.toLong * c * base8 + n * c * (c - 1) / 2)
  }
}
