package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Sink maintenance: micro-batch sinks accrete small files (one per
  * partition per trigger); scan cost at 100 TB is dominated by file
  * count, so closed date partitions get periodically rewritten into
  * few large files. Rewrite goes to a sibling directory and swaps in
  * via two renames — readers see either the old or the new layout,
  * never a partial one (rename is atomic per directory on HDFS-like
  * stores). A bucketed catalog table compacts through
  * [[graft.sources.Bucketed.compact]] instead.
  */
object Maintenance {

  /** Compact one partition directory of a parquet sink to
    * `targetFiles` files. Returns (filesBefore, filesAfter).
    */
  def compactPartition(spark: SparkSession, sinkRoot: String,
                       partitionDir: String,
                       targetFiles: Int): (Int, Int) = {
    val dir = new Path(s"$sinkRoot/$partitionDir")
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    def parquetFiles(p: Path): Int =
      fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
    val before = parquetFiles(dir)
    val tmp = new Path(dir.getParent, dir.getName + "__compact_tmp")
    val old = new Path(dir.getParent, dir.getName + "__compact_old")
    spark.read.parquet(dir.toString)
      .coalesce(targetFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(dir, old))
      throw new java.io.IOException(s"compaction: cannot move $dir aside")
    if (!fs.rename(tmp, dir)) {
      fs.rename(old, dir) // restore — the partition must never vanish
      throw new java.io.IOException(s"compaction: cannot swap in $tmp")
    }
    fs.delete(old, true)
    (before, parquetFiles(dir))
  }
}
