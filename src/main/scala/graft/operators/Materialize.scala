package graft.operators

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

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
  * A scope releases only the pins made under it, on its own thread or
  * on the [[concurrently]] pool threads it spawned; a pin made outside
  * any scope (an operator called directly) is not recorded, so nothing
  * holds it strongly and the `ContextCleaner` reclaims it as before.
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
    val id = ids.incrementAndGet()
    val outer = scope.get
    open.put(id, new ConcurrentLinkedQueue[() => Unit]())
    scope.set(Some(id))
    try body
    finally {
      scope.set(outer)
      open.remove(id).forEach(release => release())
    }
  }

  // The scope id is inherited by every thread the scope's thread starts,
  // the [[concurrently]] pool included; a thread that outlives its scope
  // finds the id closed and pins unscoped.
  private val scope = new InheritableThreadLocal[Option[Long]] {
    override def initialValue(): Option[Long] = None
  }
  private val open =
    new ConcurrentHashMap[Long, ConcurrentLinkedQueue[() => Unit]]()
  private val ids = new AtomicLong()

  // A pin recorded while its scope is releasing is either released or
  // left unreferenced, i.e. unscoped.
  private def record(release: () => Unit): Unit =
    scope.get.flatMap(id => Option(open.get(id))).foreach(_.add(release))

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

  /** Run independent driver-side build steps concurrently (guide §2.6,
    * overlap independent jobs): Spark's scheduler runs many jobs at
    * once — build loops like "train one k-means codebook per PQ
    * subspace" or "run the beam sweep per width" were sequential only
    * because the driver blocked on each step's collect/checkpoint
    * before submitting the next. Results combine in INPUT order, so
    * output is bit-identical to the sequential loop; only the job
    * submission overlaps. A dedicated pool, not the global
    * ForkJoinPool: the steps block on collect(), which would starve
    * nested parallel collections sharing the common pool.
    *
    * The pool is CAPPED at [[MaxConcurrentJobs]] driver threads
    * (guide §2.6: "2-3 jobs in flight is plenty" — the cap leaves
    * headroom for short steps while bounding a future caller with a
    * large list; excess items queue on the fixed pool). On failure the
    * pool is shut down with `shutdownNow()` so losing futures are
    * interrupted instead of running on in the background.
    */
  val MaxConcurrentJobs = 8

  def concurrently[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(xs.length, MaxConcurrentJobs))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(
          xs.map(x => scala.concurrent.Future(f(x)))),
        scala.concurrent.duration.Duration.Inf)
      finally pool.shutdownNow()
    }
}
