package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one module that pins and unpins shared relations.
  *
  * Two forms of pin:
  *  - [[shared]]: an eager `localCheckpoint`. The relation is computed
  *    exactly once, up front, and every consumer reads the materialized
  *    rows instead of re-carrying (and, under concurrent consumer stages,
  *    racily re-running) the shared subtree. Its blocks live in the
  *    context's persistent RDDs. Lineage is truncated, so losing an
  *    executor fails the query instead of recomputing; every site pins a
  *    candidate- or census-bounded intermediate. A pinned plan does not
  *    change when a table it read is written, which is why an admission
  *    decision pins this way before its store appends.
  *  - [[cached]]: a lazy, `CacheManager`-registered `cache()`. It fills
  *    on first use and keeps its lineage, so a released relation
  *    recomputes instead of failing. Use it where a site has a measured
  *    or correctness reason for a lazy pin. The entry is keyed by plan,
  *    so pinning an already-pinned plan is a no-op (the re-pin of a
  *    session-memoized relation), and a write to a catalog table the
  *    plan reads makes Spark re-evaluate it.
  *
  * One lifetime rule: a pin lasts until the end of the enclosing
  * [[scoped]] block and is released there. There are two such
  * boundaries: one query run in `Bench`/`Verify`, and one micro-batch in
  * `graft.streaming.MicroBatches.start`. Release happens only at those
  * boundaries, so a function may return a pinned frame to its caller.
  * A scope covers the pins made on its own thread while it is open, and
  * releases only those: a pin made on another thread, one the scope's
  * thread started included, or outside any scope (an operator called
  * directly) is not recorded, so nothing holds it strongly and the
  * `ContextCleaner` reclaims it as before. Jobs run one at a time from
  * the scope's thread; there is no driver-side pool.
  */
object Materialize {
  def shared(df: DataFrame): DataFrame = {
    val pinned = df.localCheckpoint(eager = true)
    val rdd = pinned.asInstanceOf[classic.Dataset[_]].queryExecution
      .logical.asInstanceOf[LogicalRDD].rdd
    record(() => rdd.unpersist(blocking = true))
    pinned
  }

  def cached(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.cache()
      record(() => df.unpersist(blocking = true))
    }
    df
  }

  /** Run `body` as one scope and release every pin it made, after
    * `body` returns or throws. Scopes nest; the inner one releases only
    * its own pins.
    */
  def scoped[A](body: => A): A = {
    val outer = scope.get
    val pins = mutable.ArrayBuffer.empty[() => Unit]
    scope.set(Some(pins))
    try body
    finally {
      scope.set(outer)
      pins.foreach(release => release())
    }
  }

  // the release of every pin made on this thread under its open scope
  private val scope =
    ThreadLocal.withInitial[Option[mutable.ArrayBuffer[() => Unit]]](
      () => None)

  private def record(release: () => Unit): Unit =
    scope.get.foreach(_ += release)

  /** Pin an explosion-prone equi-join input at session parallelism on
    * the join key. AQE's partition coalescing is BYTE-based: it sees
    * the tiny pre-join shuffle bytes, not the quadratic join fan-out
    * behind them, and collapses the join stage to 1-3 tasks (measured:
    * contaminationFrom's overlap join ran 5.9 CPU-seconds on 3
    * tasks at sf0.1 — the whole query serialized on one explosion
    * stage). A repartition with an EXPLICIT partition count is exempt
    * from AQE coalescing, so the fan-out keeps at least one task per
    * core at every scale. The pin reads the session's own dials
    * (defaultParallelism / spark.sql.shuffle.partitions), never a
    * constant, so it scales with the cluster; at 100 TB the join's
    * shuffle bytes exceed the advisory size and AQE would not have
    * coalesced anyway. Trade-off (documented): an explicit-origin
    * exchange opts out of AQE skew-join splitting for that join —
    * every pinned join here is df-capped on its key, which is the
    * operator's own skew bound.
    */
  def pinned(df: DataFrame, key: String): DataFrame = {
    val spark = df.sparkSession
    val n = math.max(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    df.repartition(n, org.apache.spark.sql.functions.col(key))
  }
}
