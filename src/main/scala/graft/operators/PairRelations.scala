package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memoized near-dup pair relations.
  *
  * Three query families consume the SAME verified n-gram pair relation
  * — the pair list itself (q_dedup_ngram), its transitive closure
  * (q_dedup_clusters), and the curation drop set (q_curate). Per the
  * driver contract each query is self-contained, but a production
  * session should compute the ~3 s shingle/inverted-index pipeline
  * once. This layer memoizes the built DataFrame by
  * (session, dir, params) and pins it with [[Materialize.cached]] on
  * every use: the pin ends with the query that made it, and the next
  * query's use recomputes and re-pins the memoized plan — results are
  * identical either way, only repeated work is saved.
  */
object PairRelations {

  private val cache =
    new ConcurrentHashMap[(String, String, Int, Long, Long), DataFrame]()

  /** The verified n-gram Jaccard pair relation for (dir, params),
    * built once per session via [[TextOps.ngramJaccardPairs]].
    * `docs` is only evaluated on a cache miss.
    */
  def ngramPairs(spark: SparkSession, dir: String, docs: => DataFrame,
                 n: Int, maxDf: Long, jacMicroMin: Long): DataFrame = {
    // plans bound to a stopped session are dead weight (and can never be
    // re-used): drop them so session-scoped entries don't accumulate for
    // the process lifetime
    cache.entrySet.removeIf(e =>
      e.getValue.sparkSession.sparkContext.isStopped)
    // sessionUUID, not identityHashCode: collision-free session identity
    val key = (org.apache.spark.sql.GraftSqlBridge.sessionUUID(spark),
      dir, n, maxDf, jacMicroMin)
    Materialize.cached(cache.computeIfAbsent(key,
      _ => TextOps.ngramJaccardPairs(docs, n, maxDf, jacMicroMin)))
  }
}
