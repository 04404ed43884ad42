package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration every main and the spec
  * suite share: graft's SQL functions registered through
  * [[GraftExtensions]], one shuffle partition per core, UTC session time
  * (DATE/TIMESTAMP outputs must not depend on the host zone), no UI.
  */
object Sessions {
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
