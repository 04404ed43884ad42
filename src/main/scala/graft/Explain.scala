package graft

/** Dev tool: dump `.explain("formatted")` for queries (args, or a
  * representative set) at sf0.001 — the plan-shape review loop
  * (pushdown, pruning, broadcast, codegen spans).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_flights", "q_dedup_minhash", "q_curate",
        "q_revenue_nation", "q_embed_lsh", "q_asof")
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
