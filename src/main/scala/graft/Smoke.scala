package graft

/** Dev tool mirroring the driver's t1 smoke: run SparkEntry.entry and
  * assert rows > 0. Usage: sbt "runMain graft.Smoke"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    df.show(5, truncate = false)
    assert(n > 0, "entry must return rows on sf0.001")
    spark.stop()
  }
}
