package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.functions.Hashing.{micro, microSql}
import graft.sources.Tables

/** Relational capabilities beyond the reference's own corpus — the
  * operators SURVEY.md §2.4-§2.6 notes as "absent in reference, Spark
  * built-in": sessionization (gaps-and-islands), the full window-function
  * suite (rank/dense_rank/ntile/percent_rank/frames), set operations,
  * ROLLUP, and an as-of join composed from primitives (§7.3 preference
  * (a): composition before custom operators).
  *
  * All run over the driver's `events` table; every query has a
  * term-for-term DuckDB oracle. Fractional outputs travel as micro-units;
  * window moving aggregates sum *integers* inside the frame (sliding-
  * window double accumulation is implementation-defined — segment trees
  * vs running sums associate differently).
  */
object RelationalQueries {

  val SessionGapMinutes = 30

  private def events(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select("event_id", "user_id", "event_type", "ts", "value")

  /** DuckDB-side mirror of [[Tables.events]]'s ns→µs truncation. */
  private val evCte =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
      |         value
      |  FROM events
      |)""".stripMargin

  // ------------------------------------------------------- active users

  /** R11: rolling window of the activity census. */
  val ActiveWindowDays = 7

  /** R11: daily / rolling-window distinct actives + first-seen users —
    * the DAU/WAU/new-user report every event pipeline runs. The exact
    * rolling distinct deliberately does NOT use a range join or a
    * window function (distinct is not frame-decomposable): each
    * (day, user) activity row is EXPLODED into the `windowDays` future
    * days it contributes to, and the rolling count is a plain
    * count-distinct per day — the contribution-explode formulation.
    *
    * Scale shape: everything rides the (day, user) pre-aggregate
    * (one partial-agg'd Exchange off the raw events — the raw stream
    * is never touched again); the explode fans that relation out by
    * exactly windowDays (7×, the window length — not a quadratic
    * term); the per-day distinct is the standard two-phase expansion;
    * the day census is bounded by the calendar. At sketch scale the
    * same window composes from X18's HLL register merges — this is
    * the exact path.
    */
  def qActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val dayUser = events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val daily = dayUser.groupBy("day").agg(count(lit(1)).as("dau"))
    val contrib = dayUser.select(
      explode(sequence(col("day"),
        date_add(col("day"), ActiveWindowDays - 1))).as("day"),
      col("user_id"))
    // inner join against observed days drops the phantom tail past the
    // last event date (a contribution to a day with no activity at all)
    val rolling = contrib.join(daily.select("day"), "day")
      .groupBy("day")
      .agg(count_distinct(col("user_id")).as("active_7d"))
    val newUsers = dayUser.groupBy("user_id").agg(min("day").as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    daily.join(rolling, "day").join(newUsers, Seq("day"), "left")
      .select(col("day").cast("string").as("day"), col("dau"),
        col("active_7d"),
        coalesce(col("new_users"), lit(0L)).as("new_users"))
      .orderBy("day")
  }

  private val activeUsersOracle =
    s"""WITH du AS (
       |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
       |),
       |daily AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
       |contrib AS (
       |  SELECT day + CAST(g.i AS INTEGER) AS day, user_id
       |  FROM du, unnest(range(0, $ActiveWindowDays)) g(i)
       |),
       |rolling AS (
       |  SELECT c.day, count(DISTINCT c.user_id) AS active_7d
       |  FROM contrib c JOIN daily d ON c.day = d.day GROUP BY 1
       |),
       |fs AS (SELECT user_id, min(day) AS day FROM du GROUP BY 1),
       |nu AS (SELECT day, count(*) AS new_users FROM fs GROUP BY 1)
       |SELECT CAST(d.day AS VARCHAR) AS day, d.dau, r.active_7d,
       |  CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users
       |FROM daily d JOIN rolling r USING (day)
       |LEFT JOIN nu n USING (day)
       |ORDER BY day""".stripMargin

  /** R12: cohort retention matrix — users grouped by first-seen day
    * (the cohort), each cohort's active count at every day offset, and
    * the retention fraction — THE product-analytics report, and the
    * time-resolved refinement of [[qActiveUsers]]' new_users column.
    *
    * Scale shape: rides the same (day, user) pre-aggregate; the
    * cohort assignment is one user-keyed min; the matrix census is one
    * (cohort, offset) partial-agg Exchange bounded by days²; cohort
    * sizes join onto the census relation, never the activity rows.
    */
  def qRetention(spark: SparkSession, dir: String): DataFrame = {
    val dayUser = events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val cohort = dayUser.groupBy("user_id").agg(min("day").as("cohort"))
    val sizes = cohort.groupBy("cohort")
      .agg(count(lit(1)).as("cohort_size"))
    dayUser.join(cohort, "user_id")
      .select(col("cohort"),
        datediff(col("day"), col("cohort")).cast("long").as("day_offset"))
      .groupBy("cohort", "day_offset")
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, "cohort")
      .select(col("cohort").cast("string").as("cohort"),
        col("day_offset"), col("n_active"), col("cohort_size"),
        micro(col("n_active") / col("cohort_size")).as("retained_micro"))
      .orderBy("cohort", "day_offset")
  }

  private val retentionOracle =
    s"""WITH du AS (
       |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
       |),
       |co AS (SELECT user_id, min(day) AS cohort FROM du GROUP BY 1),
       |cs AS (SELECT cohort, count(*) AS cohort_size FROM co GROUP BY 1),
       |act AS (
       |  SELECT c.cohort, CAST(du.day - c.cohort AS BIGINT) AS day_offset,
       |    count(*) AS n_active
       |  FROM du JOIN co c USING (user_id) GROUP BY 1, 2
       |)
       |SELECT CAST(a.cohort AS VARCHAR) AS cohort, a.day_offset,
       |  a.n_active, s.cohort_size,
       |  ${microSql("a.n_active * 1.0 / s.cohort_size")}
       |    AS retained_micro
       |FROM act a JOIN cs s USING (cohort)
       |ORDER BY cohort, day_offset""".stripMargin

  /** R13: ordered conversion funnel (view → click → purchase) with
    * the product-analytics contract: SINGLE-ATTEMPT, entry-anchored
    * conversion window — the funnel attempt starts at the user's
    * FIRST view (t1), and every later step must land inside
    * (prev step, t1 + window]: t2 is the first qualifying click, t3
    * the first qualifying purchase. A user active for months still
    * converts only if the SEQUENCE completes within the window of the
    * first entry — without the window every active user eventually
    * "converts" and the funnel reads 100 % at every step (measured:
    * exactly that degeneration on this corpus at 30 days).
    *
    * Scale shape: each step is one filtered (user, partial-min)
    * aggregation joined user-keyed against the previous step's
    * survivors (monotonically shrinking relations); the conversion
    * census packs the 3-row step table into ONE row and re-explodes
    * (the clusterMix discipline — no driver collect, no
    * unpartitioned window over data rows).
    */
  val FunnelSteps: Seq[String] = Seq("view", "click", "purchase")
  val FunnelWindowHours = 24

  /** The three funnel stage relations + the (step, n) census —
    * factored so R57's Wilson intervals read the SAME stage semantics
    * as the R4 funnel.
    */
  private def funnelStepCensus(ev: DataFrame): DataFrame = {
    val deadline = col("t1") + expr(s"INTERVAL $FunnelWindowHours HOURS")
    val s1 = ev.filter(col("event_type") === FunnelSteps.head)
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = ev.filter(col("event_type") === FunnelSteps(1))
      .join(s1, "user_id")
      .filter(col("ts") > col("t1") && col("ts") <= deadline)
      .groupBy("user_id").agg(min("ts").as("t2"), min("t1").as("t1"))
    val s3 = ev.filter(col("event_type") === FunnelSteps(2))
      .join(s2, "user_id")
      .filter(col("ts") > col("t2") && col("ts") <= deadline)
      .groupBy("user_id").agg(min("ts").as("t3"))
    s1.agg(count(lit(1)).as("n"))
      .select(lit(1L).as("step"), col("n"))
      .unionByName(s2.agg(count(lit(1)).as("n"))
        .select(lit(2L).as("step"), col("n")))
      .unionByName(s3.agg(count(lit(1)).as("n"))
        .select(lit(3L).as("step"), col("n")))
  }

  def qFunnel(spark: SparkSession, dir: String): DataFrame =
    funnelCensus(events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts")))

  /** R4's full funnel rollup over any events-shaped frame — factored
    * so the T29 streaming store serves the EXACT batch shape
    * from its accumulated event relation (shared code, the
    * T25/T26/T28 discipline).
    */
  def funnelCensus(ev: DataFrame): DataFrame = {
    val census = funnelStepCensus(ev)
    val stepName = when(col("step") === 1L, FunnelSteps.head)
      .when(col("step") === 2L, FunnelSteps(1))
      .otherwise(FunnelSteps(2))
    def lookup(step: Column): Column =
      aggregate(filter(col("cs"), x => x.getField("step") === step),
        lit(0L), (a, x) => a + x.getField("n"))
    census
      .agg(collect_list(struct(col("step"), col("n"))).as("cs"))
      .select(explode(col("cs")).as("c"), col("cs"))
      .select(col("c.step").as("step"), col("c.n").as("n_users"),
        lookup(col("c.step") - 1L).as("prev_n"),
        lookup(lit(1L)).as("first_n"))
      .select(col("step"), stepName.as("event_type"), col("n_users"),
        when(col("step") === 1L, 1000000L)
          .otherwise(when(col("prev_n") > 0L,
            micro(col("n_users") / col("prev_n"))).otherwise(0L))
          .as("conv_prev_micro"),
        when(col("step") === 1L, 1000000L)
          .otherwise(when(col("first_n") > 0L,
            micro(col("n_users") / col("first_n"))).otherwise(0L))
          .as("conv_first_micro"))
      .orderBy("step")
  }

  private val funnelOracle =
    s"""WITH fev AS (
       |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
       |  FROM events
       |),
       |f1 AS (
       |  SELECT user_id, min(ts) AS t1 FROM fev
       |  WHERE event_type = '${FunnelSteps.head}' GROUP BY 1
       |),
       |f2 AS (
       |  SELECT e.user_id, min(e.ts) AS t2, min(f1.t1) AS t1
       |  FROM fev e JOIN f1 USING (user_id)
       |  WHERE e.event_type = '${FunnelSteps(1)}' AND e.ts > f1.t1
       |    AND e.ts <= f1.t1 + INTERVAL $FunnelWindowHours HOUR
       |  GROUP BY 1
       |),
       |f3 AS (
       |  SELECT e.user_id, min(e.ts) AS t3
       |  FROM fev e JOIN f2 USING (user_id)
       |  WHERE e.event_type = '${FunnelSteps(2)}' AND e.ts > f2.t2
       |    AND e.ts <= f2.t1 + INTERVAL $FunnelWindowHours HOUR
       |  GROUP BY 1
       |),
       |fc AS (
       |  SELECT CAST(1 AS BIGINT) AS step, count(*) AS n FROM f1
       |  UNION ALL SELECT 2, count(*) FROM f2
       |  UNION ALL SELECT 3, count(*) FROM f3
       |)
       |SELECT c.step,
       |  CASE c.step WHEN 1 THEN '${FunnelSteps.head}'
       |              WHEN 2 THEN '${FunnelSteps(1)}'
       |              ELSE '${FunnelSteps(2)}' END AS event_type,
       |  c.n AS n_users,
       |  CAST(CASE WHEN c.step = 1 THEN 1000000
       |       WHEN (SELECT n FROM fc p WHERE p.step = c.step - 1) > 0
       |       THEN ${microSql(
      "c.n * 1.0 / (SELECT n FROM fc p WHERE p.step = c.step - 1)")}
       |       ELSE 0 END AS BIGINT) AS conv_prev_micro,
       |  CAST(CASE WHEN c.step = 1 THEN 1000000
       |       WHEN (SELECT n FROM fc p WHERE p.step = 1) > 0
       |       THEN ${microSql(
      "c.n * 1.0 / (SELECT n FROM fc p WHERE p.step = 1)")}
       |       ELSE 0 END AS BIGINT) AS conv_first_micro
       |FROM fc c ORDER BY c.step""".stripMargin

  // ----------------------- retention half-life (R58)

  /** R58: pooled retention half-life — the ONE number the R3 cohort
    * retention matrix exists to produce: fit ln r(d) over the pooled
    * day-offset curve with a Theil–Sen robust slope (the R44
    * machinery on a new series) and report the exponential-decay
    * half-life −ln2/slope in days. Product work runs on this number
    * (churn budgeting, LTV discounting, "did the onboarding change
    * move the half-life"), and a robust fit matters because day-7 /
    * day-30 marketing re-activations put bumps in r(d) that wreck an
    * OLS line. Censoring is handled honestly: the day-d denominator
    * counts only cohorts OLD ENOUGH to be observed at offset d (the
    * at-risk population), so late cohorts never read as churn.
    *
    * Exactness: pooled numerators/denominators are exact integers;
    * ln r(d) is a micro-floored ln of an exact-integer ratio; pair
    * slopes use the R44 positive-shift floor-division idiom (Spark
    * `div` truncates toward zero, DuckDB `//` floors — the shift
    * makes every dividend positive so they agree); the median picks
    * rank (m+1) div 2 under (slope, d1, d2) — fully tie-broken; the
    * half-life is one positive integer floor-division, 0-sentineled
    * when the slope is ≥ 0 (no decay — flat or growing retention).
    *
    * Scale shape: the R3 aggregates (two (user)-keyed + one
    * (cohort, offset) partial-agg'd Exchange), then EVERYTHING is
    * calendar-bounded: the at-risk relation is the broadcast offset
    * grid × the cohort-size census (days², whitelisted BNLJ — the
    * R44 pair discipline), pair slopes are offsets², and the median
    * windows run over those pairs.
    */
  def qRetentionSlope(spark: SparkSession, dir: String): DataFrame =
    retentionSlope(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def retentionSlope(ev: DataFrame): DataFrame = {
    val k = TheilsenOffset
    val du = ev.select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val co = du.groupBy("user_id").agg(min("day").as("cohort"))
    val cs = co.groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
    val md = du.agg(max("day").as("max_day"))
    val pooled = du.join(co, "user_id")
      .select(datediff(col("day"), col("cohort")).cast("long").as("d"))
      .filter(col("d") >= 1L)
      .groupBy("d").agg(count(lit(1)).as("act"))
    // both non-equi joins are calendar-bounded on one side — hint the
    // broadcast explicitly (aggregate outputs carry no size stats, so
    // the planner would otherwise fall back to CartesianProduct)
    val risk = cs
      .join(broadcast(pooled.select("d").crossJoin(broadcast(md))),
        col("cohort") <= expr("date_sub(max_day, cast(d as int))"))
      .groupBy("d").agg(sum("cohort_size").as("risk"))
    val idx = pooled.join(risk, "d")
      .select(col("d"),
        micro(log(col("act").cast("double") / col("risk"))).as("lnr"))
    val a = idx.select(col("d").as("d1"), col("lnr").as("l1"))
    val b = idx.select(col("d").as("d2"), col("lnr").as("l2"))
    val pairs = a.join(broadcast(b), col("d2") > col("d1"))
      .withColumn("slope_micro",
        expr(s"(((l2 - l1) + $k * (d2 - d1)) div (d2 - d1)) - $k"))
    val wAllP = Window.partitionBy(lit(0))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wSlope = Window.partitionBy(lit(0))
      .orderBy(col("slope_micro"), col("d1"), col("d2"))
    val nPts = idx.agg(count(lit(1)).as("n_points"))
    pairs
      .withColumn("m", count(lit(1)).over(wAllP))
      .withColumn("rs", row_number().over(wSlope))
      .filter(col("rs") === expr("(m + 1) div 2"))
      .select(col("slope_micro"), col("m").as("n_pairs"))
      .crossJoin(broadcast(nPts))
      .select(col("n_points"), col("n_pairs"), col("slope_micro"),
        when(col("slope_micro") < 0L,
          expr("693147000000 div (-slope_micro)"))
          .otherwise(lit(0L)).as("half_life_days_micro"))
  }

  private val retentionSlopeOracle = {
    val k = TheilsenOffset
    s"""WITH du AS (
       |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
       |),
       |co AS (SELECT user_id, min(day) AS cohort FROM du GROUP BY 1),
       |cs AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
       |       FROM co GROUP BY 1),
       |md AS (SELECT max(day) AS max_day FROM du),
       |pooled AS (
       |  SELECT CAST(du.day - c.cohort AS BIGINT) AS d,
       |    CAST(count(*) AS BIGINT) AS act
       |  FROM du JOIN co c USING (user_id)
       |  WHERE du.day - c.cohort >= 1 GROUP BY 1
       |),
       |risk AS (
       |  SELECT p.d, CAST(sum(s.cohort_size) AS BIGINT) AS risk
       |  FROM (SELECT d FROM pooled) p CROSS JOIN md
       |  JOIN cs s ON s.cohort <= md.max_day - CAST(p.d AS INTEGER)
       |  GROUP BY 1
       |),
       |idx AS (
       |  SELECT p.d,
       |    ${microSql("ln(CAST(p.act AS DOUBLE) / r.risk)")} AS lnr
       |  FROM pooled p JOIN risk r USING (d)
       |),
       |pr AS (
       |  SELECT a.d1, a.d2,
       |    (((a.l2 - a.l1) + $k * (a.d2 - a.d1)) // (a.d2 - a.d1)) - $k
       |      AS slope_micro
       |  FROM (SELECT x.d AS d1, x.lnr AS l1, y.d AS d2, y.lnr AS l2
       |        FROM idx x JOIN idx y ON y.d > x.d) a
       |),
       |np AS (SELECT CAST(count(*) AS BIGINT) AS n_points FROM idx),
       |sl AS (
       |  SELECT CAST(slope_micro AS BIGINT) AS slope_micro,
       |    CAST(m AS BIGINT) AS n_pairs
       |  FROM (
       |    SELECT slope_micro, count(*) OVER () AS m,
       |      row_number() OVER (ORDER BY slope_micro, d1, d2) AS rs
       |    FROM pr
       |  ) WHERE rs = (m + 1) // 2
       |)
       |SELECT np.n_points, sl.n_pairs, sl.slope_micro,
       |  CAST(CASE WHEN sl.slope_micro < 0
       |       THEN 693147000000 // (-sl.slope_micro)
       |       ELSE 0 END AS BIGINT) AS half_life_days_micro
       |FROM sl, np""".stripMargin
  }

  // ----------------------- funnel Wilson intervals (R57)

  /** R57: Wilson score intervals on the funnel's step-conversion
    * rates (Wilson 1927; Brown, Cai & DasGupta 2001 for why Wald
    * intervals are the wrong default) — R4's funnel reports point
    * conversions, which at small step populations invite decisions on
    * noise; the Wilson interval is the standard small-n-safe band
    * (never leaves [0,1], behaves at p near 0/1 where Wald collapses)
    * — the "is this step's drop real or just 40 users" guard rail
    * before anyone ships a checkout change. z = 1.96 (95 %), a
    * LITERAL shared by both engines.
    *
    * Exactness: step populations are exact integers off the SAME
    * stage relations as R4 ([[funnelStepCensus]] — factored, q_funnel
    * re-verified post-refactor); p̂ and both bounds are each ONE
    * micro-floored double tree with explicit literal association,
    * mirrored term-for-term; an empty previous step guards all three
    * to 0.
    *
    * Scale shape: the funnel's own joins (user-keyed, each stage
    * bounded by the previous); the census is 3 rows, the step
    * self-join census-sized. Nothing new is corpus-sized.
    */
  def qFunnelCi(spark: SparkSession, dir: String): DataFrame =
    funnelWilson(events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts")))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def funnelWilson(ev: DataFrame): DataFrame = {
    val census = funnelStepCensus(ev)
    val a = census.select(col("step"), col("n").as("n_users"))
    val b = census.select((col("step") + 1L).as("step"),
      col("n").as("prev_n"))
    val z = lit(1.96)
    val nD = col("prev_n").cast("double")
    val p = col("n_users") / col("prev_n")
    val denom = lit(1.0) + (z * z) / nD
    val center = p + (z * z) / (lit(2.0) * nD)
    val half = z * sqrt(p * (lit(1.0) - p) / nD +
      (z * z) / ((lit(4.0) * nD) * nD))
    val stepName = when(col("step") === 2L, FunnelSteps(1))
      .otherwise(FunnelSteps(2))
    a.join(b, "step").filter(col("step") >= 2L)
      .select(col("step"), stepName.as("event_type"), col("n_users"),
        col("prev_n"),
        when(col("prev_n") > 0L, micro(p)).otherwise(lit(0L))
          .as("p_micro"),
        when(col("prev_n") > 0L, micro((center - half) / denom))
          .otherwise(lit(0L)).as("lo_micro"),
        when(col("prev_n") > 0L, micro((center + half) / denom))
          .otherwise(lit(0L)).as("hi_micro"))
      .orderBy("step")
  }

  private val funnelCiOracle = {
    val n = "CAST(prev_n AS DOUBLE)"
    val p = "(n_users / prev_n)"
    val denom = s"(1.0 + (1.96 * 1.96) / $n)"
    val center = s"($p + (1.96 * 1.96) / (2.0 * $n))"
    val half = s"(1.96 * sqrt($p * (1.0 - $p) / $n" +
      s" + (1.96 * 1.96) / ((4.0 * $n) * $n)))"
    s"""WITH fev AS (
       |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
       |  FROM events
       |),
       |f1 AS (
       |  SELECT user_id, min(ts) AS t1 FROM fev
       |  WHERE event_type = '${FunnelSteps.head}' GROUP BY 1
       |),
       |f2 AS (
       |  SELECT e.user_id, min(e.ts) AS t2, min(f1.t1) AS t1
       |  FROM fev e JOIN f1 USING (user_id)
       |  WHERE e.event_type = '${FunnelSteps(1)}' AND e.ts > f1.t1
       |    AND e.ts <= f1.t1 + INTERVAL $FunnelWindowHours HOUR
       |  GROUP BY 1
       |),
       |f3 AS (
       |  SELECT e.user_id, min(e.ts) AS t3
       |  FROM fev e JOIN f2 USING (user_id)
       |  WHERE e.event_type = '${FunnelSteps(2)}' AND e.ts > f2.t2
       |    AND e.ts <= f2.t1 + INTERVAL $FunnelWindowHours HOUR
       |  GROUP BY 1
       |),
       |fc AS (
       |  SELECT CAST(1 AS BIGINT) AS step, CAST(count(*) AS BIGINT) AS n
       |  FROM f1
       |  UNION ALL SELECT 2, count(*) FROM f2
       |  UNION ALL SELECT 3, count(*) FROM f3
       |),
       |fj AS (
       |  SELECT c.step, c.n AS n_users, p.n AS prev_n
       |  FROM fc c JOIN fc p ON p.step = c.step - 1
       |  WHERE c.step >= 2
       |)
       |SELECT step,
       |  CASE step WHEN 2 THEN '${FunnelSteps(1)}'
       |            ELSE '${FunnelSteps(2)}' END AS event_type,
       |  n_users, prev_n,
       |  CASE WHEN prev_n > 0 THEN ${microSql(p)}
       |       ELSE CAST(0 AS BIGINT) END AS p_micro,
       |  CASE WHEN prev_n > 0
       |       THEN ${microSql(s"($center - $half) / $denom")}
       |       ELSE CAST(0 AS BIGINT) END AS lo_micro,
       |  CASE WHEN prev_n > 0
       |       THEN ${microSql(s"($center + $half) / $denom")}
       |       ELSE CAST(0 AS BIGINT) END AS hi_micro
       |FROM fj ORDER BY step""".stripMargin
  }

  // -------------------------------------------------------- sessionization

  /** Gaps-and-islands sessionization: a session breaks after a 30-minute
    * silence. One shuffle on user_id feeds both window passes and the
    * final aggregation (same partitioning reused across stages).
    */
  def qSessions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, dir)
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("ns",
        when(col("prev").isNull ||
          col("ts") > col("prev") +
            expr(s"INTERVAL $SessionGapMinutes MINUTES"), 1L)
          .otherwise(0L))
      .withColumn("session_num", sum(col("ns")).over(run))
      .groupBy("user_id", "session_num")
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("session_start"), max("ts").as("session_end"))
      .orderBy("user_id", "session_num")
  }

  private val sessionsOracle =
    s"""$evCte,
       |x AS (
       |  SELECT user_id, event_id, ts,
       |         lag(ts) OVER (PARTITION BY user_id
       |                       ORDER BY ts, event_id) AS prev
       |  FROM ev
       |),
       |y AS (
       |  SELECT user_id, event_id, ts,
       |    CASE WHEN prev IS NULL
       |           OR ts > prev + INTERVAL $SessionGapMinutes MINUTE
       |         THEN 1 ELSE 0 END AS ns
       |  FROM x
       |),
       |z AS (
       |  SELECT user_id, ts,
       |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |      AS session_num
       |  FROM y
       |)
       |SELECT user_id, session_num, count(*) AS n_events,
       |       min(ts) AS session_start, max(ts) AS session_end
       |FROM z GROUP BY 1, 2 ORDER BY user_id, session_num""".stripMargin

  // -------------------------------------------------------- window suite

  /** The window functions absent from the reference corpus: rank /
    * dense_rank (over a value with real ties), ntile, percent_rank, and
    * a ROWS-frame moving aggregate — all per user, all in one shuffle.
    */
  def qWindowSuite(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val byValue = Window.partitionBy(col("user_id"))
      .orderBy(floor(col("value")).desc, col("event_id"))
    val frame = byTime.rowsBetween(-2, Window.currentRow)
    events(spark, dir)
      .withColumn("v_int", floor(col("value")))
      .withColumn("rnk", rank().over(
        Window.partitionBy(col("user_id")).orderBy(col("v_int").desc)))
      .withColumn("drnk", dense_rank().over(
        Window.partitionBy(col("user_id")).orderBy(col("v_int").desc)))
      .withColumn("tile", ntile(4).over(byTime))
      .withColumn("prank_micro", micro(percent_rank().over(byValue)))
      .withColumn("mavg_micro",
        micro(sum(col("v_int")).over(frame) /
          count(lit(1)).over(frame)))
      .select("user_id", "event_id", "v_int", "rnk", "drnk", "tile",
        "prank_micro", "mavg_micro")
      .orderBy("user_id", "event_id")
  }

  private val windowSuiteOracle =
    s"""$evCte,
       |x AS (
       |  SELECT user_id, event_id, CAST(floor(value) AS BIGINT) AS v_int,
       |         ts
       |  FROM ev
       |)
       |SELECT user_id, event_id, v_int,
       |  CAST(rank() OVER (PARTITION BY user_id ORDER BY v_int DESC)
       |       AS INTEGER) AS rnk,
       |  CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY v_int DESC)
       |       AS INTEGER) AS drnk,
       |  CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |       AS INTEGER) AS tile,
       |  ${microSql("percent_rank() OVER (PARTITION BY user_id " +
      "ORDER BY v_int DESC, event_id)")} AS prank_micro,
       |  ${microSql(
      "(sum(v_int) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) / " +
        "(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))")} AS mavg_micro
       |FROM x ORDER BY user_id, event_id""".stripMargin

  // -------------------------------------------------------- set operations

  /** UNION / INTERSECT / EXCEPT over per-event-type user sets, emitted
    * as one tagged relation.
    */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    def users(t: String): DataFrame =
      ev.filter(col("event_type") === t).select("user_id").distinct()
    val purchasers = users("purchase")
    val errorers = users("error")
    val clickers = users("click")
    purchasers.intersect(errorers)
      .select(lit("purchase_and_error").as("tag"), col("user_id"))
      .unionAll(purchasers.except(clickers)
        .select(lit("purchase_not_click").as("tag"), col("user_id")))
      .unionAll(purchasers.union(errorers).distinct()
        .select(lit("purchase_or_error").as("tag"), col("user_id")))
      .orderBy("tag", "user_id")
  }

  private val setOpsOracle =
    s"""$evCte
       |SELECT 'purchase_and_error' AS tag, user_id FROM (
       |  SELECT user_id FROM ev WHERE event_type = 'purchase'
       |  INTERSECT
       |  SELECT user_id FROM ev WHERE event_type = 'error'
       |)
       |UNION ALL
       |SELECT 'purchase_not_click' AS tag, user_id FROM (
       |  SELECT DISTINCT user_id FROM ev WHERE event_type = 'purchase'
       |  EXCEPT
       |  SELECT user_id FROM ev WHERE event_type = 'click'
       |)
       |UNION ALL
       |SELECT 'purchase_or_error' AS tag, user_id FROM (
       |  SELECT user_id FROM ev WHERE event_type = 'purchase'
       |  UNION
       |  SELECT user_id FROM ev WHERE event_type = 'error'
       |)
       |ORDER BY tag, user_id""".stripMargin

  // -------------------------------------------------------- rollup

  /** ROLLUP over (event_type, day): subtotal rows at each level, with
    * the level derived from the null pattern (engine-agnostic, unlike
    * grouping_id bit orders).
    */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .rollup(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value"))).as("sum_v"))
      .withColumn("level",
        when(col("event_type").isNull && col("day").isNull, 2L)
          .when(col("day").isNull, 1L).otherwise(0L))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day"), lit("ALL")).as("day"),
        col("level"), col("n"), col("sum_v"))
      .orderBy("event_type", "day", "level")

  private val rollupOracle =
    s"""$evCte,
       |x AS (
       |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value FROM ev
       |),
       |r AS (
       |  SELECT event_type, day, count(*) AS n,
       |         CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_v,
       |         CASE WHEN event_type IS NULL AND day IS NULL THEN 2
       |              WHEN day IS NULL THEN 1 ELSE 0 END AS level
       |  FROM x GROUP BY ROLLUP (event_type, day)
       |)
       |SELECT COALESCE(event_type, 'ALL') AS event_type,
       |       COALESCE(day, 'ALL') AS day,
       |       CAST(level AS BIGINT) AS level, n, sum_v
       |FROM r ORDER BY event_type, day, level""".stripMargin

  /** R10: CUBE over (event_type, day) — all four grouping sets in one
    * pass, including the (day)-only slice ROLLUP cannot express; the
    * grouping level again derives from the null pattern (engine-
    * agnostic, unlike grouping_id bit orders). One shuffle: Spark
    * expands the grouping sets map-side and aggregates partials, so
    * the cube costs one Exchange like the plain census.
    */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .cube(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value"))).as("sum_v"))
      .withColumn("level",
        when(col("event_type").isNull && col("day").isNull, 3L)
          .when(col("event_type").isNull, 2L)
          .when(col("day").isNull, 1L).otherwise(0L))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day"), lit("ALL")).as("day"),
        col("level"), col("n"), col("sum_v"))
      .orderBy("event_type", "day", "level")

  private val cubeOracle =
    s"""$evCte,
       |x AS (
       |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value FROM ev
       |),
       |r AS (
       |  SELECT event_type, day, count(*) AS n,
       |         CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_v,
       |         CASE WHEN event_type IS NULL AND day IS NULL THEN 3
       |              WHEN event_type IS NULL THEN 2
       |              WHEN day IS NULL THEN 1 ELSE 0 END AS level
       |  FROM x GROUP BY CUBE (event_type, day)
       |)
       |SELECT COALESCE(event_type, 'ALL') AS event_type,
       |       COALESCE(day, 'ALL') AS day,
       |       CAST(level AS BIGINT) AS level, n, sum_v
       |FROM r ORDER BY event_type, day, level""".stripMargin

  /** R20: explicit GROUPING SETS — the asymmetric aggregation shape
    * neither ROLLUP (R9, hierarchical prefixes only) nor CUBE (R10,
    * all 2^k combinations) can express: detail (event_type, day) plus
    * the (day)-only slice, WITHOUT the (event_type)-only and grand-
    * total rows a cube would force the consumer to filter back out.
    * The dashboard shape — "per-type-per-day plus a daily total line"
    * — in one pass: Spark expands the requested sets map-side and
    * partial-aggregates, so the asymmetric list still costs ONE
    * Exchange like a plain census (no union of two aggregations, no
    * double scan).
    *
    * Level derives from the null pattern (engine-agnostic, unlike
    * grouping_id bit orders, which Spark and DuckDB assign
    * differently) — the R9/R10 discipline.
    */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .groupingSets(
        Seq(Seq(col("event_type"), col("day")), Seq(col("day"))),
        col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value"))).as("sum_v"))
      .withColumn("level",
        when(col("event_type").isNull, 1L).otherwise(0L))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        col("day"), col("level"), col("n"), col("sum_v"))
      .orderBy("event_type", "day", "level")

  private val groupingSetsOracle =
    s"""$evCte,
       |x AS (
       |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value FROM ev
       |),
       |r AS (
       |  SELECT event_type, day, count(*) AS n,
       |         CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_v,
       |         CASE WHEN event_type IS NULL THEN 1 ELSE 0 END AS level
       |  FROM x GROUP BY GROUPING SETS ((event_type, day), (day))
       |)
       |SELECT COALESCE(event_type, 'ALL') AS event_type, day,
       |       CAST(level AS BIGINT) AS level, n, sum_v
       |FROM r ORDER BY event_type, day, level""".stripMargin

  /** R21: k-anonymity risk curve — the privacy audit a governance
    * review runs before any event export: project each event onto its
    * quasi-identifier (event_type, day), count DISTINCT users per
    * equivalence class, and report, for every class size s, the
    * fraction of user-QI records sitting in classes of size ≤ s. The
    * curve answers every k at once: risk at k is the value at
    * s = k − 1 (records in classes smaller than k are re-identifiable
    * under that threshold). A record here is a distinct (user, QI)
    * membership — a user active in a class on many events is one
    * exposure, not many.
    *
    * Exactness: class sizes, census counts, and the cumulative are
    * exact integers; risk is ONE micro-floored division per census
    * row.
    *
    * Scale shape: distinct (user, QI) partial-aggregates map-side;
    * class sizes are one QI-keyed aggregation; everything above —
    * the size census, the cumulative window, the one-row total — is
    * census-sized (≤ distinct class sizes rows).
    */
  def qKanon(spark: SparkSession, dir: String): DataFrame =
    kanonCurve(events(spark, dir))

  /** The curve over any events-shaped frame (user_id, event_type, ts)
    * — factored for the hand-computed spec.
    */
  def kanonCurve(ev: DataFrame): DataFrame = {
    val rec = ev
      .select(col("user_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .distinct()
    val classes = rec.groupBy("event_type", "day")
      .agg(count(lit(1)).as("size"))
    val census = classes.groupBy("size")
      .agg(count(lit(1)).as("n_classes"))
      .select(col("size"), col("n_classes"),
        (col("size") * col("n_classes")).as("n_recs"))
    val total = census.agg(sum("n_recs").as("t")).select("t")
    census
      .withColumn("cum_recs",
        sum("n_recs").over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(0)).orderBy("size")))
      .crossJoin(broadcast(total))
      .select(col("size"), col("n_classes"), col("n_recs"),
        micro(col("cum_recs") / col("t")).as("risk_micro"))
      .orderBy("size")
  }

  private val kanonOracle =
    s"""$evCte,
       |rec AS (
       |  SELECT DISTINCT user_id, event_type,
       |    strftime(ts, '%Y-%m-%d') AS day
       |  FROM ev
       |),
       |cls AS (
       |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS size
       |  FROM rec GROUP BY 1, 2
       |),
       |cen AS (
       |  SELECT size, CAST(count(*) AS BIGINT) AS n_classes,
       |    CAST(size * count(*) AS BIGINT) AS n_recs
       |  FROM cls GROUP BY 1
       |),
       |tot AS (SELECT CAST(sum(n_recs) AS BIGINT) AS t FROM cen),
       |cum AS (
       |  SELECT size, n_classes, n_recs,
       |    CAST(sum(n_recs) OVER (ORDER BY size) AS BIGINT) AS cum_recs
       |  FROM cen
       |)
       |SELECT size, n_classes, n_recs,
       |  ${microSql("cum_recs / t")} AS risk_micro
       |FROM cum, tot ORDER BY size""".stripMargin

  // ------------------------------------------------------- l-diversity

  /** R22: l-diversity risk curve — the audit k-anonymity (R21) cannot
    * express: a class can hold 50 users (k-anonymous at any practical
    * k) and still leak an attribute if all 50 share it. Here the
    * sensitive attribute is the user's nationality (events joined to
    * the customer dimension), the QI is R21's (event_type, day), and
    * the curve reports, for every diversity level l, the fraction of
    * user-QI records in classes with ≤ l distinct sensitive values —
    * risk at threshold l is read directly, one curve for every l.
    *
    * Exactness: diversity levels, class record counts, and the
    * cumulative are exact integers; risk is ONE micro-floored
    * division per census row.
    *
    * Scale shape: the dimension join broadcasts (customers are the
    * small side by construction); distinct (user, QI) partial-
    * aggregates map-side; per-class COUNT + COUNT DISTINCT is one
    * QI-keyed aggregation; the l census, cumulative window, and
    * one-row total are census-sized (≤ distinct diversity levels).
    */
  def qLdiv(spark: SparkSession, dir: String): DataFrame =
    ldivCurve(events(spark, dir),
      Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey").cast("long")))

  /** The curve over any events-shaped frame joined to a (c_custkey,
    * c_nationkey) dimension — factored for the hand-computed spec.
    */
  def ldivCurve(ev: DataFrame, cust: DataFrame): DataFrame = {
    val rec = ev
      .select(col("user_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .distinct()
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
    val classes = rec.groupBy("event_type", "day")
      .agg(count(lit(1)).as("n_recs_cls"),
        countDistinct(col("c_nationkey")).as("l"))
    val census = classes.groupBy("l")
      .agg(count(lit(1)).as("n_classes"),
        sum("n_recs_cls").as("n_recs"))
    val total = census.agg(sum("n_recs").as("t")).select("t")
    census
      .withColumn("cum_recs",
        sum("n_recs").over(Window.partitionBy(lit(0)).orderBy("l")))
      .crossJoin(broadcast(total))
      .select(col("l"), col("n_classes"), col("n_recs"),
        micro(col("cum_recs") / col("t")).as("risk_micro"))
      .orderBy("l")
  }

  private val ldivOracle =
    s"""$evCte,
       |rec AS (
       |  SELECT DISTINCT e.user_id, e.event_type,
       |    strftime(e.ts, '%Y-%m-%d') AS day,
       |    CAST(c.c_nationkey AS BIGINT) AS nat
       |  FROM ev e JOIN customer c ON e.user_id = c.c_custkey
       |),
       |cls AS (
       |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_recs_cls,
       |    CAST(count(DISTINCT nat) AS BIGINT) AS l
       |  FROM rec GROUP BY 1, 2
       |),
       |cen AS (
       |  SELECT l, CAST(count(*) AS BIGINT) AS n_classes,
       |    CAST(sum(n_recs_cls) AS BIGINT) AS n_recs
       |  FROM cls GROUP BY 1
       |),
       |tot AS (SELECT CAST(sum(n_recs) AS BIGINT) AS t FROM cen),
       |cum AS (
       |  SELECT l, n_classes, n_recs,
       |    CAST(sum(n_recs) OVER (ORDER BY l) AS BIGINT) AS cum_recs
       |  FROM cen
       |)
       |SELECT l, n_classes, n_recs,
       |  ${microSql("cum_recs / t")} AS risk_micro
       |FROM cum, tot ORDER BY l""".stripMargin

  // ------------------------------------------- inter-arrival census

  /** R23: inter-arrival time census per event type — the traffic-
    * shape fingerprint (bot bursts vs human cadence vs batch-loader
    * spikes) and the number capacity planning reads. Consecutive
    * same-type events (ordered by ts, event_id — the deterministic
    * tiebreak) yield microsecond deltas, binned into power-of-two
    * buckets via a 64-row broadcast boundary table (lo ≤ δ < hi) —
    * never floor(log2(δ)): an IEEE log at an exact power-of-two
    * boundary is engine-dependent, an integer range compare is not.
    * Bucket −1 holds δ = 0 (same-microsecond arrivals).
    *
    * Scale shape: one (event_type)-keyed sort-window for the lag; the
    * bucket assignment is a broadcast range join against 64 rows; the
    * census is ≤ 64 rows per type with map-side partials. Exactness:
    * deltas and counts are exact integers; the per-type share is ONE
    * micro division per census row.
    */
  def qInterarrival(spark: SparkSession, dir: String): DataFrame =
    interarrivalCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def interarrivalCensus(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val w = Window.partitionBy("event_type")
      .orderBy(col("ts"), col("event_id"))
    // ts is TIMESTAMP_NTZ; the session is pinned UTC so the cast to
    // TIMESTAMP is an identity relabel for unix_micros
    val us = unix_micros(col("ts").cast("timestamp"))
    val deltas = ev
      .select(col("event_type"), col("event_id"), col("ts"))
      .withColumn("prev", lag(us, 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), (us - col("prev")).as("delta"))
    val buckets = ((-1L, 0L, 1L) +:
      (0 until 62).map(b =>
        (b.toLong, 1L << b, if (b == 61) Long.MaxValue else 1L << (b + 1))))
      .toDF("bucket", "lo", "hi")
    val binned = deltas.join(broadcast(buckets),
        col("delta") >= col("lo") && col("delta") < col("hi"))
      .groupBy("event_type", "bucket")
      .agg(min("lo").as("lo"), count(lit(1)).as("n"))
    val totals = binned.groupBy("event_type").agg(sum("n").as("t"))
    binned.join(totals, Seq("event_type"))
      .select(col("event_type"), col("bucket"), col("lo"), col("n"),
        micro(col("n") / col("t")).as("frac_micro"))
      .orderBy("event_type", "bucket")
  }

  private val interarrivalOracle =
    s"""$evCte,
       |d AS (
       |  SELECT event_type,
       |    epoch_us(ts) - lag(epoch_us(ts)) OVER
       |      (PARTITION BY event_type ORDER BY ts, event_id) AS delta
       |  FROM ev
       |),
       |dd AS (SELECT event_type, delta FROM d WHERE delta IS NOT NULL),
       |bkt AS (
       |  SELECT CAST(g.b AS BIGINT) AS bucket,
       |    CASE WHEN g.b = -1 THEN 0
       |         ELSE CAST(2 ** g.b AS BIGINT) END AS lo,
       |    CASE WHEN g.b = 61 THEN 9223372036854775807
       |         ELSE CAST(2 ** (g.b + 1) AS BIGINT) END AS hi
       |  FROM unnest(range(-1, 62)) AS g(b)
       |),
       |binned AS (
       |  SELECT dd.event_type, bkt.bucket, min(bkt.lo) AS lo,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM dd JOIN bkt ON dd.delta >= bkt.lo AND dd.delta < bkt.hi
       |  GROUP BY 1, 2
       |),
       |tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS t
       |        FROM binned GROUP BY 1)
       |SELECT b.event_type, b.bucket, b.lo, b.n,
       |  ${microSql("b.n / tot.t")} AS frac_micro
       |FROM binned b JOIN tot USING (event_type)
       |ORDER BY b.event_type, b.bucket""".stripMargin

  // ------------------------------------------------- EWMA anomaly

  /** R24: EWMA volume-anomaly flags per event type — the streaming-
    * adjacent drift detector as a batch census: each day's count is
    * compared against the exponentially weighted moving average of
    * the preceding ≤ 30 days with half-life decay (weight 2^(30−k)
    * for a day k back). The deliberate α = ½ makes every weight a
    * power of two, so numerator and denominator are EXACT INTEGERS —
    * the one decay schedule whose EWMA cross-checks bit-for-bit
    * between engines (an arbitrary α compounds libm pow drift).
    * The spike verdict never divides: cnt > 3·EWMA tests as
    * cnt·den > 3·num in integers.
    *
    * Scale shape: daily counts are one partial-agg'd Exchange off the
    * raw events; the lookback is a ≤ 30× band self-join on the
    * calendar-sized census, never the event stream; days with no
    * prior day in the window are absent by contract (a first day has
    * no baseline to be anomalous against). Headroom: weights spend
    * 2^30, so daily counts to 2^32 fit the int64 sum; larger counts
    * rescale the weight budget, not the algorithm.
    */
  def qEwma(spark: SparkSession, dir: String): DataFrame =
    ewmaAnomaly(events(spark, dir))

  /** The flags over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def ewmaAnomaly(ev: DataFrame): DataFrame = {
    val daily = ev
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      .withColumn("d",
        datediff(col("day"), lit("1970-01-01").cast("date"))
          .cast("long"))
    val prior = daily.select(col("event_type").as("p_et"),
      col("d").as("pd"), col("cnt").as("pcnt"))
    daily.join(prior,
        col("event_type") === col("p_et") &&
          col("pd") >= col("d") - 30L && col("pd") <= col("d") - 1L)
      .select(col("event_type"), col("day"), col("cnt"),
        (col("pcnt") *
          expr("shiftleft(CAST(1 AS BIGINT), CAST(30 - (d - pd) AS INT))"))
          .as("num_t"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(30 - (d - pd) AS INT))")
          .as("den_t"))
      .groupBy("event_type", "day", "cnt")
      .agg(sum("num_t").as("num"), sum("den_t").as("den"))
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"), col("cnt"),
        micro(col("num") / col("den")).as("ewma_micro"),
        (col("cnt") * col("den") > lit(3L) * col("num"))
          .as("is_spike"))
      .orderBy("event_type", "day")
  }

  private val ewmaOracle =
    s"""$evCte,
       |daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    CAST(count(*) AS BIGINT) AS cnt,
       |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
       |         AS BIGINT) AS d
       |  FROM ev GROUP BY 1, 2, 4
       |),
       |j AS (
       |  SELECT c.event_type, c.day, c.cnt,
       |    CAST(sum(p.cnt * CAST(2 ** (30 - (c.d - p.d)) AS BIGINT))
       |         AS BIGINT) AS num,
       |    CAST(sum(CAST(2 ** (30 - (c.d - p.d)) AS BIGINT))
       |         AS BIGINT) AS den
       |  FROM daily c JOIN daily p
       |    ON c.event_type = p.event_type
       |   AND p.d >= c.d - 30 AND p.d <= c.d - 1
       |  GROUP BY 1, 2, 3
       |)
       |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cnt,
       |  ${microSql("num / den")} AS ewma_micro,
       |  cnt * den > 3 * num AS is_spike
       |FROM j ORDER BY event_type, day""".stripMargin

  // -------------------------------------------------------- as-of join

  /** As-of join composed from primitives: for every error event, the
    * latest purchase by the same user at or before it. The band join on
    * (user_id, pts <= ts) fans out per user (bounded by purchases/user);
    * the row_number argmax collapses it. At 100 TB: bucket both sides by
    * user_id (co-located join) and salt hot users.
    */
  def qAsof(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("purchase_ts").desc, col("purchase_id").desc)
    errors
      .join(purchases.withColumnRenamed("user_id", "p_user"),
        col("p_user") === col("user_id") &&
          col("purchase_ts") <= col("ts"), "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("purchase_id"), col("purchase_ts"),
        expr("timestampdiff(MICROSECOND, purchase_ts, ts)")
          .as("gap_micros"))
      .orderBy("event_id")
  }

  private val asofOracle =
    s"""$evCte,
       |e AS (SELECT event_id, user_id, ts FROM ev
       |      WHERE event_type = 'error'),
       |p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
       |      FROM ev WHERE event_type = 'purchase'),
       |j AS (
       |  SELECT e.event_id, e.user_id, e.ts, p.purchase_id, p.purchase_ts,
       |    row_number() OVER (PARTITION BY e.event_id
       |                       ORDER BY p.purchase_ts DESC,
       |                                p.purchase_id DESC) AS rn
       |  FROM e LEFT JOIN p
       |    ON p.user_id = e.user_id AND p.purchase_ts <= e.ts
       |)
       |SELECT event_id, user_id, ts, purchase_id, purchase_ts,
       |       date_diff('microsecond', purchase_ts, ts) AS gap_micros
       |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin

  // ---------------------------------------------- aggregation-join shapes

  /** Money as exact integer cents: `round(x*100)` of the same input
    * double is identical in both engines, and integer sums are
    * association-free — unlike summing 600k doubles, where Spark's
    * per-partition partials and DuckDB's sequential scan associate
    * differently and drift past the micro-unit floor.
    */
  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100.0).cast("long")

  /** TPC-H Q1-shaped pricing summary over the largest table: map-side
    * partial aggregation means the shuffle carries one row per
    * (partition × flag × status), not 600k rows.
    */
  def qPricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        sum(cents(col("l_quantity"))).as("sum_qty_cents"),
        sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("sum_disc_price_cents"))
      .withColumn("avg_qty_micro",
        micro(col("sum_qty_cents") / col("n") / lit(100.0)))
      .orderBy("l_returnflag", "l_linestatus")

  private val pricingSummaryOracle =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(round(l_quantity * 100.0) AS BIGINT)) AS BIGINT)
      |    AS sum_qty_cents,
      |  CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT)
      |    AS sum_price_cents,
      |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0)
      |           AS BIGINT)) AS BIGINT) AS sum_disc_price_cents,
      |  CAST(floor(1000000.0 *
      |    (sum(CAST(round(l_quantity * 100.0) AS BIGINT)) / count(*) / 100.0))
      |    AS BIGINT) AS avg_qty_micro
      |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Revenue by region/nation: the fact table joins a broadcast dim
    * chain (supplier⋈nation⋈region resolved driver-side-free, shipped to
    * every executor), so lineitem is never shuffled — the only exchange
    * is the final tiny group-by.
    */
  def qRevenueNation(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, dir),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("n_name"), col("r_name"))
    Tables.lineitem(spark, dir)
      .join(broadcast(dims), col("l_suppkey") === col("s_suppkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_items"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("revenue_cents"))
      .orderBy("r_name", "n_name")
  }

  /** R25: TPC-H Q3-shaped shipping priority — the canonical
    * selective-dimension + fact-fact join report: unshipped revenue
    * per order for one market segment, orders placed before the cut
    * and line items shipping after it, top 10 by revenue. The classic
    * join-strategy showcase: the filtered customer keys BROADCAST
    * (segment cuts the dimension ~6×), orders joins them map-side,
    * and the lineitem⋈orders equi join is the only real Exchange —
    * both sides keyed on orderkey, so at 100 TB the same plan rides
    * orderkey-bucketed layouts Exchange-free (the q_flights
    * precedent). The top-10 is a TakeOrderedAndProject, never a full
    * sort.
    *
    * Exactness: revenue in integer cents (`round(x·100)` per line
    * item, the house money discipline), integer sums; dates compared
    * and emitted as DATE/ISO strings (no tz arithmetic).
    */
  val ShipSegment = "BUILDING"
  val ShipCutoff = "1998-06-01"

  def qShipPriority(spark: SparkSession, dir: String): DataFrame =
    shipPriority(Tables.customer(spark, dir), Tables.orders(spark, dir),
      Tables.lineitem(spark, dir), ShipSegment, ShipCutoff, 10)

  /** The report over any TPC-H-shaped frames — factored for the
    * hand-computed spec.
    */
  def shipPriority(cust: DataFrame, orders: DataFrame, li: DataFrame,
                   segment: String, cutoff: String, k: Int): DataFrame = {
    val c = cust.filter(col("c_mktsegment") === segment)
      .select("c_custkey")
    val o = orders
      .filter(col("o_orderdate").cast("date") < lit(cutoff).cast("date"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"), col("o_orderpriority"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
    li.filter(col("l_shipdate").cast("date") > lit(cutoff).cast("date"))
      .select(col("l_orderkey"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum("rev").as("revenue_cents"))
      .select(col("l_orderkey"), col("revenue_cents"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"))
      .orderBy(col("revenue_cents").desc, col("o_orderdate"),
        col("l_orderkey"))
      .limit(k)
  }

  private val shipPriorityOracle =
    s"""SELECT l_orderkey,
       |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0)
       |           AS BIGINT)) AS BIGINT) AS revenue_cents,
       |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       |  o_orderpriority
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE c_mktsegment = '$ShipSegment'
       |  AND CAST(o_orderdate AS DATE) < DATE '$ShipCutoff'
       |  AND CAST(l_shipdate AS DATE) > DATE '$ShipCutoff'
       |GROUP BY 1, 3, 4
       |ORDER BY revenue_cents DESC, o_orderdate, l_orderkey
       |LIMIT 10""".stripMargin

  /** R26: TPC-H Q8-shaped market share — the deep-join-tree report:
    * for every order year, each supplier nation's share of the
    * revenue delivered into one region's market. Six base relations;
    * every dimension chain (customer→nation→region filtered to the
    * market, supplier→nation for the seller side) collapses to a
    * BROADCAST before it touches a fact table, so the only real
    * Exchange is lineitem⋈orders on orderkey — exactly the q_ship
    * _priority spine with two more dimension hops, which is the point:
    * join depth should cost broadcasts, not shuffles. Shares are
    * census-over-census (per-year totals off the year×nation census
    * itself, never a second fact pass).
    *
    * Exactness: revenue in integer cents; each share is ONE
    * micro-floored division of exact integers.
    */
  val MarketRegion = "ASIA"

  def qMarketShare(spark: SparkSession, dir: String): DataFrame = {
    val custIn = Tables.customer(spark, dir)
      .join(Tables.nation(spark, dir),
        col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, dir).filter(col("r_name") === MarketRegion),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val suppNat = Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cen = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custIn), col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"),
        col("supp_nation"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .as("revenue_cents"))
    val totals = cen.groupBy("o_year")
      .agg(sum("revenue_cents").as("t"))
    cen.join(totals, Seq("o_year"))
      .select(col("o_year"), col("supp_nation"), col("revenue_cents"),
        micro(col("revenue_cents") / col("t")).as("share_micro"))
      .orderBy("o_year", "supp_nation")
  }

  private val marketShareOracle =
    s"""WITH cen AS (
       |  SELECT year(o_orderdate) AS o_year, sn.n_name AS supp_nation,
       |    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
       |             * 100.0) AS BIGINT)) AS BIGINT) AS revenue_cents
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation cn ON c_nationkey = cn.n_nationkey
       |  JOIN region ON cn.n_regionkey = r_regionkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation sn ON s_nationkey = sn.n_nationkey
       |  WHERE r_name = '$MarketRegion'
       |  GROUP BY 1, 2
       |),
       |tot AS (SELECT o_year, CAST(sum(revenue_cents) AS BIGINT) AS t
       |        FROM cen GROUP BY 1)
       |SELECT c.o_year, c.supp_nation, c.revenue_cents,
       |  ${microSql("c.revenue_cents / t.t")} AS share_micro
       |FROM cen c JOIN tot t USING (o_year)
       |ORDER BY c.o_year, c.supp_nation""".stripMargin

  /** R27: TPC-H Q10-shaped returned-item report — the "who is
    * returning merchandise and how much is it costing us" top-20:
    * 'R'-flagged line items aggregated to lost revenue per customer,
    * identity columns (name, nation) joined AFTER the aggregation so
    * the wide dimension attributes never ride the fact shuffle —
    * aggregate-then-decorate, the dimensional-join discipline every
    * star-schema report should follow (decorating before aggregating
    * drags c_name/n_name through the orderkey Exchange for nothing).
    *
    * Exactness: lost revenue in integer cents; top-20 ties break on
    * c_custkey.
    */
  def qReturns(spark: SparkSession, dir: String): DataFrame = {
    val lost = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_items"), sum("rev").as("lost_cents"))
    val dim = Tables.customer(spark, dir)
      .join(Tables.nation(spark, dir),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"))
    lost.join(broadcast(dim), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("n_items"), col("lost_cents"))
      .orderBy(col("lost_cents").desc, col("c_custkey"))
      .limit(20)
  }

  private val returnsOracle =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0)
      |           AS BIGINT)) AS BIGINT) AS lost_cents
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |GROUP BY 1, 2, 3
      |ORDER BY lost_cents DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** R28: revenue-concentration (Lorenz) census — the whale-analysis
    * readout finance and capacity planning both ask for: "the bottom
    * p of customers carry what share of revenue?" at p ∈ {50 %, 90 %,
    * 99 %}, customers ranked ascending by revenue — X60's coverage
    * curve pointed at entities and money. Integer cents throughout;
    * the rank pick is k = max(1, n·p div 1000) (exact integer
    * arithmetic, no IEEE percentile); share is ONE micro division per
    * cut.
    *
    * Scale shape: the fact side is one orderkey Exchange + custkey
    * aggregation; the rank/cumulative window runs over the CUSTOMER
    * census (entity-sized, never event-sized; range-bucketed
    * two-level at extreme scale — the X38 precedent); the 3-row cut
    * grid broadcasts.
    */
  def qLorenz(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("r"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey").agg(sum("r").as("rev"))
    val w = Window.partitionBy(lit(0))
      .orderBy(col("rev"), col("o_custkey"))
    val ranked = rev
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cum", sum("rev").over(w))
    val tot = rev.agg(count(lit(1)).as("n"), sum("rev").as("t"))
    val cuts = Seq(500L, 900L, 990L).toDF("permille")
    tot.crossJoin(broadcast(cuts))
      .select(col("permille"), col("n"), col("t"),
        greatest(lit(1L), expr("(n * permille) div 1000")).as("k"))
      .join(ranked.select(col("rn"), col("cum")),
        col("k") === col("rn"))
      .select(col("permille"), col("n"), col("k"),
        col("cum").as("cum_cents"), col("t").as("total_cents"),
        micro(col("cum") / col("t")).as("share_micro"))
      .orderBy("permille")
  }

  private val lorenzOracle =
    s"""WITH rev AS (
       |  SELECT o_custkey,
       |    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
       |             * 100.0) AS BIGINT)) AS BIGINT) AS rev
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1
       |),
       |ranked AS (
       |  SELECT o_custkey, rev,
       |    CAST(row_number() OVER (ORDER BY rev, o_custkey) AS BIGINT)
       |      AS rn,
       |    CAST(sum(rev) OVER (ORDER BY rev, o_custkey) AS BIGINT)
       |      AS cum
       |  FROM rev
       |),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |          CAST(sum(rev) AS BIGINT) AS t FROM rev),
       |cuts AS (SELECT CAST(unnest([500, 900, 990]) AS BIGINT)
       |           AS permille),
       |g AS (
       |  SELECT c.permille, tot.n, tot.t,
       |    greatest(1, (tot.n * c.permille) // 1000) AS k
       |  FROM cuts c, tot
       |)
       |SELECT g.permille, g.n, g.k, r.cum AS cum_cents,
       |  g.t AS total_cents,
       |  ${microSql("r.cum / g.t")} AS share_micro
       |FROM g JOIN ranked r ON g.k = r.rn
       |ORDER BY g.permille""".stripMargin

  /** R29: weekday-seasonality deviation census — the (event_type,
    * day-of-week) contingency table with each cell's chi-square
    * contribution against the independence expectation
    * e = row·col/T: the "is this event type weekday-shaped?" audit
    * behind alerting calendars and traffic models (a deploy-driven
    * `error` type spikes on weekdays, organic `view` traffic doesn't
    * — the loud cells say which and where). Weekday numbering is
    * pinned cross-engine: Spark `dayofweek` (1 = Sunday) minus one ≡
    * DuckDB `dayofweek` (0 = Sunday) — never locale day NAMES.
    *
    * Exactness: counts and both marginals exact integers; each
    * cell's expectation and chi term are ONE micro-floored fixed
    * double tree ((n − rc/T)²/(rc/T) with rc = row·col an exact
    * integer product).
    *
    * Scale shape: one partial-agg'd (type, dow) Exchange; marginals
    * and the total come census-over-census; everything after the
    * first aggregation is ≤ |types|·7 rows.
    */
  def qDow(spark: SparkSession, dir: String): DataFrame =
    dowCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def dowCensus(ev: DataFrame): DataFrame = {
    val cells = ev
      .select(col("event_type"),
        (dayofweek(col("ts")) - 1).cast("long").as("dow"))
      .groupBy("event_type", "dow").agg(count(lit(1)).as("n"))
    val rows = cells.groupBy("event_type").agg(sum("n").as("rt"))
    val cols = cells.groupBy("dow").agg(sum("n").as("ct"))
    val tot = cells.agg(sum("n").as("t"))
    val e = (col("rt") * col("ct")) / col("t")
    cells.join(rows, Seq("event_type")).join(cols, Seq("dow"))
      .crossJoin(broadcast(tot))
      .select(col("event_type"), col("dow"), col("n"), col("rt"),
        col("ct"),
        micro(e).as("expected_micro"),
        micro((col("n") - e) * (col("n") - e) / e).as("chi_micro"))
      .orderBy("event_type", "dow")
  }

  private val dowOracle =
    s"""$evCte,
       |cells AS (
       |  SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM ev GROUP BY 1, 2
       |),
       |r AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS rt
       |      FROM cells GROUP BY 1),
       |c AS (SELECT dow, CAST(sum(n) AS BIGINT) AS ct
       |      FROM cells GROUP BY 1),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cells)
       |SELECT cells.event_type, cells.dow, cells.n, r.rt, c.ct,
       |  ${microSql("(r.rt * c.ct) / t.t")} AS expected_micro,
       |  ${microSql("(cells.n - (r.rt * c.ct) / t.t)" +
        " * (cells.n - (r.rt * c.ct) / t.t) / ((r.rt * c.ct) / t.t)")}
       |    AS chi_micro
       |FROM cells JOIN r USING (event_type) JOIN c USING (dow), t
       |ORDER BY cells.event_type, cells.dow""".stripMargin

  /** R30: market-basket pair lift — association mining over order
    * contents (which parts are co-purchased beyond chance), the
    * relational sibling of X43's document co-occurrence with a
    * different blocking story: pairs generate WITHIN an order, so the
    * fan-out is Σ C(|order|, 2) — bounded by real basket sizes (≤ ~21
    * for TPC-H's ≤ 7-line orders), never a global cross join. Lift =
    * n_ab·N/(n_a·n_b) (> 10⁶ micro means the pair co-occurs beyond
    * independence); a min-support floor of 2 keeps the reported
    * census to repeated signals.
    *
    * Exactness: all counts exact integers off DISTINCT (order, part)
    * memberships; lift is ONE micro-floored division of exact integer
    * products (< 2⁵³ through ~10⁸ orders).
    */
  val BasketMinSupport = 2L

  def qBasket(spark: SparkSession, dir: String): DataFrame =
    basketLift(Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")))

  /** The census over any (o, p) membership frame — factored for the
    * hand-computed spec.
    */
  def basketLift(memb: DataFrame): DataFrame = {
    val items = memb.select(col("o"), col("p")).distinct()
    val b = items.select(col("o"), col("p").as("p2"))
    val pairs = items.join(b, Seq("o")).filter(col("p") < col("p2"))
      .groupBy("p", "p2").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= BasketMinSupport)
    val freq = items.groupBy("p").agg(count(lit(1)).as("n_p"))
    val tot = items.agg(countDistinct(col("o")).as("n_orders"))
    pairs
      .join(freq, Seq("p"))
      .join(freq.select(col("p").as("p2"), col("n_p").as("n_p2")),
        Seq("p2"))
      .crossJoin(broadcast(tot))
      .select(col("p"), col("p2"), col("n_ab"), col("n_p"),
        col("n_p2"), col("n_orders"),
        micro((col("n_ab") * col("n_orders")) /
          (col("n_p") * col("n_p2"))).as("lift_micro"))
      .orderBy("p", "p2")
  }

  private val basketOracle =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
       |),
       |pairs AS (
       |  SELECT a.p, b.p AS p2, CAST(count(*) AS BIGINT) AS n_ab
       |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
       |  GROUP BY 1, 2 HAVING count(*) >= $BasketMinSupport
       |),
       |freq AS (SELECT p, CAST(count(*) AS BIGINT) AS n_p
       |         FROM items GROUP BY 1),
       |tot AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders
       |        FROM items)
       |SELECT pr.p, pr.p2, pr.n_ab, fa.n_p, fb.n_p AS n_p2,
       |  tot.n_orders,
       |  ${microSql("(pr.n_ab * tot.n_orders) / (fa.n_p * fb.n_p)")}
       |    AS lift_micro
       |FROM pairs pr
       |JOIN freq fa ON pr.p = fa.p
       |JOIN freq fb ON pr.p2 = fb.p, tot
       |ORDER BY pr.p, pr.p2""".stripMargin

  private val revenueNationOracle =
    """SELECT r_name, n_name, count(*) AS n_items,
      |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0)
      |           AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1, 2 ORDER BY r_name, n_name""".stripMargin

  /** Exact interpolated percentiles of the integerized value per event
    * type. Spark `percentile` and DuckDB `quantile_cont` share the
    * (n-1)*p index + linear interpolation definition over exact integer
    * inputs, so the micro floor absorbs any last-ulp arithmetic
    * difference. (Approximate sketch percentiles differ per engine and
    * are deliberately not used for oracle-checked output.)
    */
  def qQuantiles(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("v_int", floor(col("value")))
      .groupBy("event_type")
      .agg(
        micro(expr("percentile(v_int, 0.25)")).as("p25_micro"),
        micro(expr("percentile(v_int, 0.5)")).as("p50_micro"),
        micro(expr("percentile(v_int, 0.9)")).as("p90_micro"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  private val quantilesOracle =
    s"""$evCte,
       |x AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS v_int
       |      FROM ev)
       |SELECT event_type,
       |  ${microSql("quantile_cont(v_int, 0.25)")} AS p25_micro,
       |  ${microSql("quantile_cont(v_int, 0.5)")} AS p50_micro,
       |  ${microSql("quantile_cont(v_int, 0.9)")} AS p90_micro,
       |  count(*) AS n
       |FROM x GROUP BY 1 ORDER BY event_type""".stripMargin

  /** R17: the same exact interpolated quantiles as [[qQuantiles]],
    * computed from a VALUE CENSUS instead of `percentile`'s per-group
    * value collection — the 100 TB path. Spark's `percentile` (and any
    * sort-based exact percentile) materializes every value of a group
    * in one aggregation buffer: at a billion events per event_type
    * that's the executor-OOM shape, and the reason engines fall back
    * to sketches (which are engine-specific and not oracle-able).
    *
    * A census changes the cardinality the sort touches: group by
    * (group, value) first — partial-aggregated map-side, so the
    * Exchange carries at most |distinct values| rows per group, not
    * |rows| — then run the rank arithmetic on the census:
    * value-at-rank-r is the census row whose cumulative range
    * [cum−cnt, cum) contains r, found by a range join of the tiny
    * target table (one row per (group, p)) against the census. The
    * per-group window orders census rows only. For integerized
    * telemetry/score columns the census is bounded by the value
    * domain, independent of row count — quantiles over 100 TB cost
    * one partial-agg Exchange plus census-sized work.
    *
    * The interpolation mirrors `percentile`'s definition term for
    * term: h = p·(n−1); if ⌊h⌋ = ⌈h⌉ the value itself, else
    * v_lo·(⌈h⌉−h) + v_hi·(h−⌊h⌋) — each term one IEEE multiply of an
    * exact integer by an exact difference, so the census path, Spark's
    * `percentile`, and the DuckDB oracle agree bit-for-bit after the
    * micro floor (pinned against [[qQuantiles]] in the spec).
    */
  def censusQuantiles(ev: DataFrame, ps: Seq[Double]): DataFrame = {
    // cached: the census is consumed three times (n, lo probe, hi
    // probe) — one corpus scan + one partial-agg Exchange total
    val cen = ev.withColumn("v_int", floor(col("value")))
      .groupBy("event_type", "v_int").agg(count(lit(1)).as("cnt"))
      .transform(Materialize.cached)
    val cum = cen.withColumn("cum",
      sum("cnt").over(Window.partitionBy("event_type").orderBy("v_int")))
    val n = cen.groupBy("event_type").agg(sum("cnt").as("n"))
    val tgt = n.select(col("event_type"), col("n"),
        explode(array(ps.map(lit): _*)).as("p"))
      .withColumn("h", col("p") * (col("n") - lit(1L)))
      .withColumn("lo_idx", floor(col("h")))
      .withColumn("hi_idx", ceil(col("h")))
    val lo = tgt.join(cum.select(col("event_type"), col("v_int"),
        col("cnt"), col("cum")),
        Seq("event_type"))
      .filter(col("lo_idx") >= col("cum") - col("cnt") &&
        col("lo_idx") < col("cum"))
      .select(col("event_type"), col("n"), col("p"), col("h"),
        col("lo_idx"), col("hi_idx"), col("v_int").as("lo_val"))
    val both = lo.join(cum.select(col("event_type"),
        col("v_int").as("hi_val"), col("cnt"), col("cum")),
        Seq("event_type"))
      .filter(col("hi_idx") >= col("cum") - col("cnt") &&
        col("hi_idx") < col("cum"))
      .select(col("event_type"), col("n"), col("p"), col("h"),
        col("lo_idx"), col("hi_idx"), col("lo_val"), col("hi_val"))
    val qv = both.withColumn("qv",
      when(col("lo_idx") === col("hi_idx"), col("lo_val").cast("double"))
        .otherwise(col("lo_val") * (col("hi_idx") - col("h")) +
          col("hi_val") * (col("h") - col("lo_idx"))))
    qv.groupBy("event_type")
      .agg(
        micro(max(when(col("p") === ps(0), col("qv")))).as("p25_micro"),
        micro(max(when(col("p") === ps(1), col("qv")))).as("p50_micro"),
        micro(max(when(col("p") === ps(2), col("qv")))).as("p90_micro"),
        max(col("n")).as("n"))
  }

  /** R18: first-order Markov transition census over per-user event
    * sequences — the behavioral-model readout (what follows what, with
    * what probability) that funnels (R13) check one FIXED path of:
    * every (from → to) arc with its count and conditional probability
    * P(to | from) = n / Σ_to n. Feeds churn/journey models and
    * synthetic-event generation; a missing arc is structurally absent
    * (no zero-filled cross product — the census reports the support).
    *
    * Exactness: p is ONE IEEE division of exact integers,
    * micro-floored; ordering inside a user's sequence ties on
    * (ts, event_id) so the lag is deterministic on both engines.
    *
    * Scale shape: the lag window is the honest per-key plan (the R16
    * argument): ONE shuffle by user_id, per-key sort bounded by a
    * user's own event count; the census aggregations downstream are
    * |event_types|²-bounded with map-side partials. At lakehouse
    * scale the same window runs per user-bucket (the AdsbStore
    * precedent) — sequence rebuild never global-sorts.
    */
  def transitionCensus(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val tr = ev
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("prev").as("from_type"),
        col("event_type").as("to_type"))
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    val tot = tr.groupBy("from_type").agg(sum("n").as("total_from"))
    tr.join(tot, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        col("total_from"),
        micro(col("n") / col("total_from")).as("p_micro"))
  }

  def qTransitions(spark: SparkSession, dir: String): DataFrame =
    transitionCensus(events(spark, dir)).orderBy("from_type", "to_type")

  /** R18 oracle: the same lag window with the same (ts, event_id) tie
    * order; one division at the end.
    */
  private val transitionsOracle =
    s"""$evCte,
       |tr AS (
       |  SELECT user_id, event_type,
       |    lag(event_type) OVER (PARTITION BY user_id
       |                          ORDER BY ts, event_id) AS prev
       |  FROM ev
       |),
       |cnt AS (
       |  SELECT prev AS from_type, event_type AS to_type, count(*) AS n
       |  FROM tr WHERE prev IS NOT NULL GROUP BY 1, 2
       |),
       |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS total_from
       |        FROM cnt GROUP BY 1)
       |SELECT c.from_type, c.to_type, c.n, t.total_from,
       |  ${microSql("c.n / t.total_from")} AS p_micro
       |FROM cnt c JOIN tot t USING (from_type)
       |ORDER BY from_type, to_type""".stripMargin

  /** D21: fuzzy record-linkage join (entity resolution) — the
    * dirty-feed-to-master-data matcher every warehouse runs when a
    * provider ships mangled keys: a deterministic probe feed (every
    * 50th customer name with one character corrupted at a
    * key-derived position) is resolved back to the master by q-gram
    * BLOCKING (character 3-grams, document-frequency-capped so the
    * shared template prefix and zero-run grams never become join
    * keys) followed by exact Levenshtein verification at distance
    * ≤ [[FuzzyMaxDist]] and a deterministic best-match rank
    * (distance, then key). `n_cand` reports the verified competitor
    * count — on this master the corrupted digit leaves single-digit
    * neighbors at distance 2, so resolution genuinely has to RANK,
    * not just find.
    *
    * Cross-engine: Levenshtein is the classic DP edit distance in
    * both engines — an exact integer; blocking and ranking are
    * integer/string comparisons throughout.
    *
    * Scale shape: the inverted q-gram index is the [[TextOps]] dedup
    * discipline applied to record linkage — candidates are generated
    * per shared DISCRIMINATIVE gram (df cap bounds each gram's
    * fan-out; the probe side is the small feed), never by a name ×
    * name cross join; verification cost is |candidates| small DP
    * evaluations. Known recall edge, measured not hidden: a record
    * with NO discriminative gram (customer 0 — an all-template name
    * whose every gram is df-capped) generates no candidates and is
    * absent from the output; production handles the all-template
    * tail with a fallback exact-key pass.
    */
  val FuzzyEvery = 50L
  val FuzzyMaxDist = 2
  val FuzzyMaxDf = 500L

  /** Char-trigram kernel ([[graft.functions.TextKernels.char_grams]]) in
    * place of the interpreted `transform(sequence(1, length-2),
    * i => substr(i, 3))` tower, which paid one lambda dispatch per gram
    * of every name on both join sides; the kernel adds the below-3-chars empty-array guard the
    * unguarded expression lacked (its `sequence(1, len-2)` DESCENDS
    * there) — identical output wherever the expression was
    * well-defined, which is every real name (TextKernelSpec pins both).
    */
  private def charGrams3(c: Column): Column =
    graft.functions.Kernels.CharGrams.using(3)(c)

  def qFuzzyJoin(spark: SparkSession, dir: String): DataFrame =
    fuzzyResolve(Tables.customer(spark, dir)
      .select("c_custkey", "c_name"))

  /** `maxDf` is a corpus-relative dial (the SemDeDup-nCentroids
    * discipline): at k× the master, the cap must scale by k or every
    * discriminative gram saturates. With the ratio held fixed, a
    * customer table copied k× under new keys resolves exactly k× the
    * probes, each to its base entity (the lowest key of its name class)
    * at distance 1.
    */
  def fuzzyResolve(cust: DataFrame,
                   maxDf: Long = FuzzyMaxDf): DataFrame = {
    val probes = cust.filter(col("c_custkey") % FuzzyEvery === 0)
      .selectExpr("c_custkey AS probe_id",
        "concat(substring(c_name, 1, 9 + cast(c_custkey % 4 as int)), " +
          "'X', substring(c_name, 11 + cast(c_custkey % 4 as int))) " +
          "AS dirty_name")
    val mg = cust.select(col("c_custkey"),
      explode(array_distinct(charGrams3(col("c_name")))).as("g"))
    val keep = mg.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("g")
    val mgk = mg.join(keep, Seq("g"))
    val pg = probes.select(col("probe_id"), col("dirty_name"),
      explode(array_distinct(charGrams3(col("dirty_name")))).as("g"))
    val cand = pg.join(mgk, Seq("g"))
      .select("probe_id", "dirty_name", "c_custkey").distinct()
    val verified = cand.join(cust, Seq("c_custkey"))
      .withColumn("distance",
        levenshtein(col("dirty_name"), col("c_name")).cast("long"))
      .filter(col("distance") <= FuzzyMaxDist)
    val wBest = Window.partitionBy("probe_id")
      .orderBy(col("distance"), col("c_custkey"))
    verified
      .withColumn("rn", row_number().over(wBest))
      .withColumn("n_cand",
        count(lit(1)).over(Window.partitionBy("probe_id")))
      .filter(col("rn") === 1)
      .select(col("probe_id"), col("dirty_name"),
        col("c_custkey").as("matched_key"), col("distance"),
        col("n_cand"))
      .orderBy("probe_id")
  }

  /** D21 oracle: identical grams, cap, verification, and rank. */
  private val fuzzyJoinOracle =
    s"""WITH cust AS (SELECT c_custkey, c_name FROM customer),
       |probes AS (
       |  SELECT c_custkey AS probe_id,
       |    substr(c_name, 1, 9 + CAST(c_custkey % 4 AS INTEGER)) || 'X'
       |      || substr(c_name, 11 + CAST(c_custkey % 4 AS INTEGER))
       |      AS dirty_name
       |  FROM cust WHERE c_custkey % $FuzzyEvery = 0
       |),
       |mg AS (
       |  SELECT DISTINCT c_custkey, substr(c_name, i, 3) AS g
       |  FROM cust, unnest(range(1, len(c_name) - 1)) AS t(i)
       |),
       |keep AS (SELECT g FROM mg GROUP BY g
       |         HAVING count(*) <= $FuzzyMaxDf),
       |mgk AS (SELECT m.* FROM mg m JOIN keep USING (g)),
       |pg AS (
       |  SELECT DISTINCT probe_id, dirty_name,
       |    substr(dirty_name, i, 3) AS g
       |  FROM probes, unnest(range(1, len(dirty_name) - 1)) AS t(i)
       |),
       |cand AS (
       |  SELECT DISTINCT p.probe_id, p.dirty_name, m.c_custkey
       |  FROM pg p JOIN mgk m USING (g)
       |),
       |ver AS (
       |  SELECT c.probe_id, c.dirty_name, c.c_custkey,
       |    CAST(levenshtein(c.dirty_name, k.c_name) AS BIGINT)
       |      AS distance
       |  FROM cand c JOIN cust k USING (c_custkey)
       |  WHERE levenshtein(c.dirty_name, k.c_name) <= $FuzzyMaxDist
       |),
       |rk AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY probe_id
       |                       ORDER BY distance, c_custkey) AS rn,
       |    count(*) OVER (PARTITION BY probe_id) AS n_cand
       |  FROM ver
       |)
       |SELECT probe_id, dirty_name, c_custkey AS matched_key, distance,
       |  n_cand
       |FROM rk WHERE rn = 1 ORDER BY probe_id""".stripMargin

  /** R19: fixed-grid resample with last-observation-carried-forward —
    * the time-series regularization every feature pipeline runs
    * before feeding a model that expects one row per (entity, day):
    * each user's irregular event stream becomes a dense daily grid
    * over the corpus's span, each cell carrying the latest
    * observation at or before that day (value as exact cents), its
    * source day, and the staleness (`gap_days` — the feature a
    * downstream consumer thresholds). Cells before a user's first
    * observation have nothing to carry and are absent (dense-from-
    * first-touch, the standard LOCF contract).
    *
    * Determinism: within a day the carried observation is the last by
    * (ts, event_id); the LOCF pick is max(obs_day) — unique per cell.
    * Dates cross the oracle boundary as ISO strings (engine DATE
    * encodings differ in the compare).
    *
    * Scale shape: the daily-last reduction is the only corpus-sized
    * window (user-keyed, per-key sort bounded); the grid is
    * users × span-days (entity-census-sized, NOT event-sized), and
    * the LOCF join runs grid × that user's ≤ span-days daily rows —
    * both sides census-scale. At lakehouse scale the same plan runs
    * per user-bucket.
    */
  def qResample(spark: SparkSession, dir: String): DataFrame = {
    val e2 = events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"),
        to_date(col("ts")).as("day"))
    val wd = Window.partitionBy("user_id", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = e2.withColumn("rn", row_number().over(wd))
      .filter(col("rn") === 1).select("user_id", "day", "cents")
      .transform(Materialize.cached)
    val span = e2.agg(min("day").as("d0"), max("day").as("d1"))
    val days = span
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val grid = e2.select("user_id").distinct()
      .crossJoin(broadcast(days))
    val locf = grid
      .join(daily.select(col("user_id"), col("day").as("obs_day")),
        Seq("user_id"))
      .filter(col("obs_day") <= col("day"))
      .groupBy("user_id", "day").agg(max("obs_day").as("obs_day"))
    locf
      .join(daily.select(col("user_id"), col("day").as("obs_day"),
        col("cents")), Seq("user_id", "obs_day"))
      .select(col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("grid_day"),
        date_format(col("obs_day"), "yyyy-MM-dd").as("obs_day"),
        col("cents"),
        datediff(col("day"), col("obs_day")).cast("long")
          .as("gap_days"))
      .orderBy("user_id", "grid_day")
  }

  /** R19 oracle: same daily-last window, same grid, same max-day
    * LOCF pick; dates as ISO strings.
    */
  private val resampleOracle =
    s"""$evCte,
       |e2 AS (
       |  SELECT user_id, ts, event_id,
       |    CAST(round(value * 100) AS BIGINT) AS cents,
       |    CAST(ts AS DATE) AS d
       |  FROM ev
       |),
       |daily AS (
       |  SELECT user_id, d, cents FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id, d
       |      ORDER BY ts DESC, event_id DESC) AS rn FROM e2
       |  ) WHERE rn = 1
       |),
       |span AS (SELECT min(d) AS d0, max(d) AS d1 FROM e2),
       |days AS (
       |  SELECT CAST(unnest(range(CAST(d0 AS TIMESTAMP),
       |    CAST(d1 AS TIMESTAMP) + INTERVAL 1 DAY, INTERVAL 1 DAY))
       |    AS DATE) AS d
       |  FROM span
       |),
       |grid AS (
       |  SELECT u.user_id, dy.d
       |  FROM (SELECT DISTINCT user_id FROM e2) u CROSS JOIN days dy
       |),
       |locf AS (
       |  SELECT g.user_id, g.d, max(dd.d) AS obs_d
       |  FROM grid g JOIN daily dd
       |    ON g.user_id = dd.user_id AND dd.d <= g.d
       |  GROUP BY 1, 2
       |)
       |SELECT l.user_id,
       |  CAST(l.d AS VARCHAR) AS grid_day,
       |  CAST(l.obs_d AS VARCHAR) AS obs_day,
       |  dd.cents,
       |  CAST(l.d - l.obs_d AS BIGINT) AS gap_days
       |FROM locf l JOIN daily dd
       |  ON l.user_id = dd.user_id AND l.obs_d = dd.d
       |ORDER BY l.user_id, grid_day""".stripMargin

  val QuantilePs = Seq(0.25, 0.5, 0.9)

  def qQuantileCensus(spark: SparkSession, dir: String): DataFrame =
    censusQuantiles(events(spark, dir), QuantilePs).orderBy("event_type")

  /** R17 oracle: the census formulation mirrored CTE for CTE — same
    * rank arithmetic, same interpolation association.
    */
  private val quantileCensusOracle =
    s"""$evCte,
       |x AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS v_int
       |      FROM ev),
       |cen AS (SELECT event_type, v_int, count(*) AS cnt
       |        FROM x GROUP BY 1, 2),
       |cum AS (SELECT event_type, v_int, cnt,
       |        sum(cnt) OVER (PARTITION BY event_type ORDER BY v_int)
       |          AS cum FROM cen),
       |n AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
       |      FROM cen GROUP BY 1),
       |tgt AS (
       |  -- p MUST be DOUBLE: a bare 0.9 literal is DECIMAL in DuckDB
       |  -- and would compute h = p*(n-1) exactly where IEEE rounds
       |  SELECT event_type, n, p, p * (n - 1) AS h,
       |    CAST(floor(p * (n - 1)) AS BIGINT) AS lo_idx,
       |    CAST(ceil(p * (n - 1)) AS BIGINT) AS hi_idx
       |  FROM n, (SELECT CAST(unnest([0.25, 0.5, 0.9]) AS DOUBLE) AS p)
       |),
       |lo AS (
       |  SELECT t.event_type, t.n, t.p, t.h, t.lo_idx, t.hi_idx,
       |         c.v_int AS lo_val
       |  FROM tgt t JOIN cum c ON t.event_type = c.event_type
       |   AND t.lo_idx >= c.cum - c.cnt AND t.lo_idx < c.cum
       |),
       |b AS (
       |  SELECT l.*, c.v_int AS hi_val
       |  FROM lo l JOIN cum c ON l.event_type = c.event_type
       |   AND l.hi_idx >= c.cum - c.cnt AND l.hi_idx < c.cum
       |),
       |qv AS (
       |  SELECT event_type, n, p,
       |    CASE WHEN lo_idx = hi_idx THEN CAST(lo_val AS DOUBLE)
       |         ELSE lo_val * (hi_idx - h) + hi_val * (h - lo_idx)
       |    END AS qv
       |  FROM b
       |)
       |SELECT event_type,
       |  ${microSql("max(CASE WHEN p = 0.25 THEN qv END)")} AS p25_micro,
       |  ${microSql("max(CASE WHEN p = 0.5 THEN qv END)")} AS p50_micro,
       |  ${microSql("max(CASE WHEN p = 0.9 THEN qv END)")} AS p90_micro,
       |  max(n) AS n
       |FROM qv GROUP BY 1 ORDER BY event_type""".stripMargin

  /** Semi-structured extraction: pull a typed value out of the JSON
    * `props` column and aggregate it. `get_json_object` is a codegen'd
    * path expression — no UDF, no whole-row JSON materialization; only
    * `$.k` is extracted.
    */
  def qJson(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"),
        micro(sum("k") / count(lit(1))).as("avg_k_micro"))
      .orderBy("event_type")

  private val jsonOracle =
    s"""SELECT event_type, count(*) AS n,
       |  CAST(sum(k) AS BIGINT) AS sum_k,
       |  CAST(min(k) AS BIGINT) AS min_k,
       |  CAST(max(k) AS BIGINT) AS max_k,
       |  ${microSql("sum(k) / count(*)")} AS avg_k_micro
       |FROM (
       |  SELECT event_type,
       |         CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
       |  FROM events
       |) GROUP BY 1 ORDER BY event_type""".stripMargin

  /** Data-quality audit: referential integrity via anti join (orphan
    * foreign keys), coverage via semi join, duplicate-key detection,
    * and null-rate checks — one row of invariants. The anti/semi joins
    * broadcast the key side; nothing shuffles the fact table.
    */
  def qIntegrity(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val supp = Tables.supplier(spark, dir).select("s_suppkey")
    val cust = Tables.customer(spark, dir).select("c_custkey")
    val ord = Tables.orders(spark, dir)
    val orphans = li.join(broadcast(supp),
      col("l_suppkey") === col("s_suppkey"), "left_anti")
    val custWithOrders = cust.join(ord,
      col("c_custkey") === col("o_custkey"), "left_semi")
    val dupOrders = ord.groupBy("o_orderkey").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
    orphans.agg(count(lit(1)).as("n_orphan_suppkey"))
      .crossJoin(li.agg(count(lit(1)).as("n_lineitem"),
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L))
          .as("n_null_shipdate")))
      .crossJoin(custWithOrders.agg(count(lit(1)).as("n_cust_with_orders")))
      .crossJoin(dupOrders.agg(count(lit(1)).as("n_dup_orderkey")))
      .select("n_lineitem", "n_orphan_suppkey", "n_null_shipdate",
        "n_cust_with_orders", "n_dup_orderkey")
  }

  private val integrityOracle =
    """SELECT
      |  (SELECT count(*) FROM lineitem) AS n_lineitem,
      |  (SELECT count(*) FROM lineitem l
      |   WHERE NOT EXISTS (SELECT 1 FROM supplier s
      |                     WHERE s.s_suppkey = l.l_suppkey))
      |    AS n_orphan_suppkey,
      |  (SELECT CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
      |          AS BIGINT) FROM lineitem) AS n_null_shipdate,
      |  (SELECT count(*) FROM customer c
      |   WHERE EXISTS (SELECT 1 FROM orders o
      |                 WHERE o.o_custkey = c.c_custkey))
      |    AS n_cust_with_orders,
      |  (SELECT count(*) FROM (
      |     SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1))
      |    AS n_dup_orderkey""".stripMargin

  /** Pivot: event counts per user as one column per event type.
    * Explicit pivot values skip Spark's extra distinct-values job and
    * make the output schema static — at scale you always pass them.
    */
  val PivotTypes = Seq("click", "error", "purchase", "signup", "view")

  def qPivot(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", PivotTypes)
      .agg(count(lit(1)))
      .na.fill(0L, PivotTypes)
      .orderBy("user_id")

  private val pivotOracle = {
    val cols = PivotTypes.map(t =>
      s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS \"$t\"")
      .mkString(",\n  ")
    s"""$evCte
       |SELECT user_id,
       |  $cols
       |FROM ev GROUP BY 1 ORDER BY user_id""".stripMargin
  }

  /** Column profiling: one row per column with null count, distinct
    * count, and lexicographic min/max (everything stringified so the
    * output schema is column-agnostic). ONE scan of the table: all
    * per-column aggregates live in a single `agg` — the multiple exact
    * `count_distinct`s compile to a single Expand (one pass over the
    * scan, rows replicated per distinct-column internally) instead of
    * one full scan per column — then the 1-row result is pivoted into
    * per-column rows with explode (driver-free, 1 row in flight).
    */
  val ProfileColumns = Seq("doc_id", "lang", "source", "n_chars")

  def qProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val aggs = count(lit(1)).as("n_rows") +: ProfileColumns.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__null"),
        count_distinct(col(c)).as(s"${c}__distinct"),
        min(col(c).cast("string")).as(s"${c}__min"),
        max(col(c).cast("string")).as(s"${c}__max"))
    }
    val one = docs.agg(aggs.head, aggs.tail: _*)
    val rows = ProfileColumns.map { c =>
      struct(lit(c).as("column"), col("n_rows"),
        col(s"${c}__null").as("n_null"),
        col(s"${c}__distinct").as("n_distinct"),
        col(s"${c}__min").as("min_str"), col(s"${c}__max").as("max_str"))
    }
    one.select(explode(array(rows: _*)).as("r"))
      .select("r.*").orderBy("column")
  }

  private val profileOracle = {
    val parts = ProfileColumns.map { c =>
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_null,
         |  count(DISTINCT $c) AS n_distinct,
         |  min(CAST($c AS VARCHAR)) AS min_str,
         |  max(CAST($c AS VARCHAR)) AS max_str
         |FROM documents""".stripMargin
    }
    parts.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

  /** Pure range join (no equi key): events against non-aligned 36-hour
    * buckets. Plans as BroadcastNestedLoopJoin with the tiny bucket
    * table broadcast — the correct physical shape when there is no
    * equi key to hash on; at scale you'd instead bucket-align and add
    * an equi key (see the band join J1), which is why this stays a
    * small-dimension pattern.
    */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val buckets = spark.sql(
      """SELECT explode(sequence(
        |  TIMESTAMP '2024-01-01 00:00:00',
        |  TIMESTAMP '2024-01-30 12:00:00',
        |  INTERVAL 36 HOURS)) AS bucket_start""".stripMargin)
      .withColumn("bucket_end",
        expr("bucket_start + INTERVAL 36 HOURS"))
      .withColumn("bucket_start", col("bucket_start").cast("timestamp_ntz"))
      .withColumn("bucket_end", col("bucket_end").cast("timestamp_ntz"))
    events(spark, dir)
      .join(broadcast(buckets),
        col("ts") >= col("bucket_start") && col("ts") < col("bucket_end"))
      .groupBy("bucket_start")
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy("bucket_start")
  }

  private val rangeJoinOracle =
    s"""$evCte,
       |buckets AS (
       |  SELECT b AS bucket_start, b + INTERVAL 36 HOUR AS bucket_end
       |  FROM unnest(range(TIMESTAMP '2024-01-01 00:00:00',
       |                    TIMESTAMP '2024-01-30 12:00:00' + INTERVAL 1 SECOND,
       |                    INTERVAL 36 HOUR)) AS t(b)
       |)
       |SELECT b.bucket_start, count(*) AS n_events,
       |       count(DISTINCT ev.user_id) AS n_users
       |FROM ev JOIN buckets b
       |  ON ev.ts >= b.bucket_start AND ev.ts < b.bucket_end
       |GROUP BY 1 ORDER BY bucket_start""".stripMargin

  /** R14: latest-snapshot compaction — the CDC/upsert materialization
    * every lakehouse pipeline runs (Delta/Hudi merge-on-read compact,
    * Kafka log compaction): one current row per (user_id, event_type)
    * key, picked by latest `ts` with `event_id` breaking ties, plus
    * the version count the compaction collapsed.
    *
    * Scale shape: ONE partial-aggregated Exchange — `max` over a
    * `(ts, event_id, value)` struct compares lexicographically, and
    * since `event_id` is unique the comparison never reaches `value`,
    * so the struct-max IS the deterministic "latest row" in a single
    * map-side-combining pass. No window over the raw stream (a
    * per-key `row_number` sorts every version of every key), no
    * second join back to the fact table (the payload rides in the
    * struct). The oracle is the window formulation — both must agree
    * exactly.
    */
  def latestSnapshot(ev: DataFrame): DataFrame =
    ev.groupBy("user_id", "event_type")
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"),
        count(lit(1)).as("n_versions"))
      .select(col("user_id"), col("event_type"),
        col("m.event_id").as("last_event_id"),
        col("m.ts").as("last_ts"),
        micro(col("m.value")).as("last_value_micro"),
        col("n_versions"))

  def qLatestSnapshot(spark: SparkSession, dir: String): DataFrame =
    latestSnapshot(events(spark, dir)).orderBy("user_id", "event_type")

  private val latestSnapshotOracle =
    s"""$evCte,
       |snap AS (
       |  SELECT user_id, event_type, event_id, ts, value,
       |    row_number() OVER (PARTITION BY user_id, event_type
       |                       ORDER BY ts DESC, event_id DESC) AS rn,
       |    count(*) OVER (PARTITION BY user_id, event_type)
       |      AS n_versions
       |  FROM ev
       |)
       |SELECT user_id, event_type, event_id AS last_event_id,
       |  ts AS last_ts, ${microSql("value")} AS last_value_micro,
       |  CAST(n_versions AS BIGINT) AS n_versions
       |FROM snap WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  /** R16: SCD Type-2 history materialization — R14's other half: the
    * FULL version history per (user_id, event_type) key with validity
    * intervals, the slowly-changing-dimension table every warehouse
    * keeps next to the compacted snapshot. Each version is valid
    * `[valid_from, valid_to)`; the current row has `valid_to` NULL and
    * `is_current` true.
    *
    * Scale shape: unlike R14 this is inherently a per-key ordering
    * (every version's interval needs its successor), so the window is
    * the honest plan — ONE shuffle by key, per-key sort bounded by
    * versions-per-key, `row_number` + `lead` sharing a single window
    * frame. At lakehouse scale the same plan runs per partition-bucket
    * of the key (the AdsbStore bucketing precedent) so history rebuild
    * never re-sorts the full stream globally.
    */
  def scd2(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    ev.withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_type"), col("version"),
        col("event_id"), col("ts").as("valid_from"), col("valid_to"),
        micro(col("value")).as("value_micro"),
        col("valid_to").isNull.as("is_current"))
  }

  def qScd2(spark: SparkSession, dir: String): DataFrame =
    scd2(events(spark, dir))
      .orderBy("user_id", "event_type", "version")

  private val scd2Oracle =
    s"""$evCte
       |SELECT user_id, event_type,
       |  CAST(row_number() OVER w AS BIGINT) AS version,
       |  event_id, ts AS valid_from,
       |  lead(ts) OVER w AS valid_to,
       |  ${microSql("value")} AS value_micro,
       |  (lead(ts) OVER w IS NULL) AS is_current
       |FROM ev
       |WINDOW w AS (PARTITION BY user_id, event_type
       |             ORDER BY ts, event_id)
       |ORDER BY user_id, event_type, version""".stripMargin

  /** Salt fan-out for [[SkewJoin.salted]] under q_skew_join. */
  val SkewSalts = 8

  /** The salted skew-join, oracled: lineitem⋈supplier through
    * [[SkewJoin.salted]] (left side split 8 ways by content hash,
    * right side replicated per salt), aggregated to per-nation
    * revenue. The oracle is the PLAIN join — salting must be
    * result-invariant, and this query pins that invariance into the
    * driver's hash compare (the manual fallback for skew AQE doesn't
    * cover: aggregations after the join, non-SMJ plans).
    */
  def qSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_suppkey").as("suppkey"),
        col("l_extendedprice"), col("l_discount"))
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    SkewJoin.salted(li, supp, "suppkey", SkewSalts)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_items"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("revenue_cents"))
      .orderBy("s_nationkey")
  }

  private val skewJoinOracle =
    """SELECT s_nationkey, count(*) AS n_items,
      |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0)
      |           AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY 1 ORDER BY s_nationkey""".stripMargin

  // ------------------------------------------------- RFM segmentation

  /** R31: RFM quintile segmentation over orders — the classic customer
    * scoring grid (recency / frequency / monetary, each cut into
    * quintiles) that CRM and retention pipelines run before any model:
    * the (r, f, m) cell census says where the customer base actually
    * sits (fresh heavy spenders vs lapsed one-timers) and which
    * segments carry the revenue.
    *
    * Quintile semantics are CENSUS-THRESHOLD (the X46/X51 rank-picked
    * edge discipline, NOT ntile): four edges per metric are picked by
    * integer rank r_i = ((n−1)·i) div 5 off the metric's value census,
    * and a customer's score is 1 + (# edges strictly below its value)
    * — value-determined, so no row tiebreak exists at all, and tied
    * edges merge buckets (the documented standard behavior). Scores
    * read ascending in the raw value: r_q = 1 is the MOST RECENT
    * quintile (smallest recency_days — best), f_q = 5 / m_q = 5 are
    * the most frequent / highest spend (best). Recency is measured
    * against the corpus as-of date (max order date), so the readout
    * is reproducible from the data alone.
    *
    * Exactness: money as integer cents, day gaps as integer datediff,
    * edge ranks in pure integer division — no IEEE percentile, no
    * double anywhere.
    *
    * Scale shape: per-customer metrics are ONE custkey-keyed
    * partial-agg'd Exchange off orders; each quintile cut runs over
    * the METRIC'S VALUE CENSUS (recency: bounded by the date range;
    * frequency: tiny; monetary: ≤ customers, the X38 documented
    * census-window bound — range-bucketed two-level at extreme
    * scale), and the four edges broadcast back; the (r,f,m) rollup is
    * ≤ 125 cells. The alternative — three global ntile sorts over the
    * customer relation — is exactly the single-partition shape this
    * formulation avoids.
    */
  def qRfm(spark: SparkSession, dir: String): DataFrame =
    rfmSegments(Tables.orders(spark, dir))

  /** The segmentation over any orders-shaped frame — factored for the
    * hand-computed spec.
    */
  def rfmSegments(orders: DataFrame): DataFrame = {
    val per = orders
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("day"),
        cents(col("o_totalprice")).as("p"))
      .groupBy("o_custkey")
      .agg(max("day").as("last_day"), count(lit(1)).as("frequency"),
        sum("p").as("monetary_cents"))
    val asof = per.agg(max("last_day").as("asof"))
    // eagerly materialized (was a lazy cache): the count, the three
    // quintile cuts and the final bucket pass all consume it — five
    // racy consumers of a customer-bounded relation (the
    // Materialize.shared discipline).
    val scored = Materialize.shared(per.crossJoin(broadcast(asof))
      .select(col("o_custkey"),
        datediff(col("asof"), col("last_day")).cast("long")
          .as("recency_days"),
        col("frequency"), col("monetary_cents")))
    val n = scored.agg(count(lit(1)).as("n"))
    def quintileEdges(metric: String): DataFrame = {
      val cen = scored.groupBy(col(metric).as("v"))
        .agg(count(lit(1)).as("cnt"))
      val cum = cen.withColumn("cum",
        sum("cnt").over(Window.partitionBy(lit(0)).orderBy("v")))
      n.select(explode(sequence(lit(1L), lit(4L))).as("i"), col("n"))
        .withColumn("r", expr("((n - 1) * i) div 5"))
        .join(cum, col("r") >= col("cum") - col("cnt") &&
          col("r") < col("cum"))
        .select(col("v").as("edge"))
    }
    // score = 1 + (# edges strictly below the value), evaluated as a
    // PROJECTION over the broadcast 4-element edge list of each
    // metric. The previous form crossJoined the 4 edge rows and
    // re-aggregated by every customer column — three extra
    // customer-keyed Exchanges and a 4x row fan-out per metric, all
    // carrying the same information as one array lookup (guide §2.4:
    // remove shuffles outright). Sum-over-edges is order-independent,
    // so collect_list's nondeterministic order cannot change the
    // score; duplicate edge values still merge buckets by counting
    // twice, exactly as the rows did.
    def edgeArr(metric: String): DataFrame =
      quintileEdges(metric).agg(
        collect_list("edge").as(s"__${metric}_edges"))
    def scoreCol(metric: String): org.apache.spark.sql.Column =
      lit(1L) + aggregate(col(s"__${metric}_edges"), lit(0L),
        (acc, e) => acc + when(col(metric) > e, 1L).otherwise(0L))
    val cells = scored
      .crossJoin(broadcast(edgeArr("recency_days")))
      .crossJoin(broadcast(edgeArr("frequency")))
      .crossJoin(broadcast(edgeArr("monetary_cents")))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary_cents"), scoreCol("recency_days").as("r_q"),
        scoreCol("frequency").as("f_q"),
        scoreCol("monetary_cents").as("m_q"))
    cells.groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_cust"),
        sum("monetary_cents").as("segment_cents"))
      .orderBy("r_q", "f_q", "m_q")
  }

  private val rfmOracle = {
    def edgesCte(tag: String, metric: String): String =
      s"""${tag}cen AS (
         |  SELECT $metric AS v, CAST(count(*) AS BIGINT) AS cnt
         |  FROM per GROUP BY 1
         |),
         |${tag}cum AS (
         |  SELECT v, cnt,
         |    CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum
         |  FROM ${tag}cen
         |),
         |${tag}edges AS (
         |  SELECT c.v AS edge
         |  FROM (SELECT unnest([1, 2, 3, 4]) AS i) g, nn, ${tag}cum c
         |  WHERE ((nn.n - 1) * g.i) // 5 >= c.cum - c.cnt
         |    AND ((nn.n - 1) * g.i) // 5 < c.cum
         |),
         |${tag}sc AS (
         |  SELECT p.o_custkey,
         |    CAST(1 + (SELECT count(*) FROM ${tag}edges e
         |              WHERE p.$metric > e.edge) AS BIGINT) AS q
         |  FROM per p
         |)""".stripMargin
    s"""WITH base AS (
       |  SELECT o_custkey,
       |    max(CAST(o_orderdate AS DATE)) AS last_day,
       |    CAST(count(*) AS BIGINT) AS frequency,
       |    CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT))
       |         AS BIGINT) AS monetary_cents
       |  FROM orders GROUP BY 1
       |),
       |refday AS (SELECT max(last_day) AS asof_day FROM base),
       |per AS MATERIALIZED (
       |  SELECT b.o_custkey,
       |    CAST(date_diff('day', b.last_day, a.asof_day) AS BIGINT)
       |      AS recency_days,
       |    b.frequency, b.monetary_cents
       |  FROM base b, refday a
       |),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per),
       |${edgesCte("r_", "recency_days")},
       |${edgesCte("f_", "frequency")},
       |${edgesCte("m_", "monetary_cents")}
       |SELECT r.q AS r_q, f.q AS f_q, m.q AS m_q,
       |  CAST(count(*) AS BIGINT) AS n_cust,
       |  CAST(sum(p.monetary_cents) AS BIGINT) AS segment_cents
       |FROM per p
       |JOIN r_sc r USING (o_custkey)
       |JOIN f_sc f USING (o_custkey)
       |JOIN m_sc m USING (o_custkey)
       |GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q""".stripMargin
  }

  // ------------------------------------------------- forecast error

  /** R32: one-step-ahead forecast-error census per event type — the
    * eval half of R24's EWMA monitor: R24 flags spikes, this measures
    * how good the EWMA actually IS as a forecaster on this stream
    * (MAE for magnitude, signed bias for systematic over/under-
    * forecast, sMAPE for scale-free comparison across event types) —
    * the numbers a team reads before trusting the monitor's
    * thresholds or picking a better model.
    *
    * The forecaster is R24's exact integer EWMA verbatim (α = ½,
    * power-of-two weights over the preceding ≤ 30 days, num/den
    * integers); a day with no prior day in the window has no forecast
    * and is absent by the same contract. Per-day errors stay exact:
    * the raw residual is cnt·den − num (integers), emitted in MILLI
    * units — ae_milli = (|cnt·den − num| · 1000) div den, the signed
    * bias term via the sign(y)·(|y| div m) wrap (Spark div truncates
    * toward zero, DuckDB // floors; they agree only on non-negatives)
    * — and sMAPE's term is (2000 · |cnt·den − num|) div
    * (cnt·den + num), denominator > 0 since cnt ≥ 1. The census then
    * divides integer sums by integer day counts. Headroom: milli
    * units spend 2^10 on top of the 2^31 weight budget, so daily
    * counts to ~2·10⁶ stay exact in int64 — beyond that, rescale the
    * weight budget (the R24 note), not the algorithm.
    *
    * Scale shape: identical to R24 — one partial-agg'd Exchange to
    * daily counts, a ≤ 30× band self-join on the calendar-sized
    * census, then a ≤ #event_types census rollup.
    */
  def qForecast(spark: SparkSession, dir: String): DataFrame =
    forecastCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def forecastCensus(ev: DataFrame): DataFrame = {
    val daily = ev
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      .withColumn("d",
        datediff(col("day"), lit("1970-01-01").cast("date"))
          .cast("long"))
    val prior = daily.select(col("event_type").as("p_et"),
      col("d").as("pd"), col("cnt").as("pcnt"))
    val f = daily.join(prior,
        col("event_type") === col("p_et") &&
          col("pd") >= col("d") - 30L && col("pd") <= col("d") - 1L)
      .select(col("event_type"), col("day"), col("cnt"),
        (col("pcnt") *
          expr("shiftleft(CAST(1 AS BIGINT), CAST(30 - (d - pd) AS INT))"))
          .as("num_t"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(30 - (d - pd) AS INT))")
          .as("den_t"))
      .groupBy("event_type", "day", "cnt")
      .agg(sum("num_t").as("num"), sum("den_t").as("den"))
      .withColumn("resid", col("cnt") * col("den") - col("num"))
      .select(col("event_type"),
        expr("(abs(resid) * 1000) div den").as("ae_milli"),
        expr("CASE WHEN resid < 0 THEN -((abs(resid) * 1000) div den)" +
          " ELSE (abs(resid) * 1000) div den END").as("se_milli"),
        expr("(2000 * abs(resid)) div (cnt * den + num)")
          .as("sm_milli"))
    f.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("ae_milli").as("sum_ae"),
        sum("se_milli").as("sum_se"), sum("sm_milli").as("sum_sm"))
      .select(col("event_type"), col("n_days"),
        expr("sum_ae div n_days").as("mae_milli"),
        expr("CASE WHEN sum_se < 0 THEN -((-sum_se) div n_days)" +
          " ELSE sum_se div n_days END").as("bias_milli"),
        expr("sum_sm div n_days").as("smape_milli"))
      .orderBy("event_type")
  }

  private val forecastOracle =
    s"""$evCte,
       |daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    CAST(count(*) AS BIGINT) AS cnt,
       |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
       |         AS BIGINT) AS d
       |  FROM ev GROUP BY 1, 2, 4
       |),
       |j AS (
       |  SELECT c.event_type, c.day, c.cnt,
       |    CAST(sum(p.cnt * CAST(2 ** (30 - (c.d - p.d)) AS BIGINT))
       |         AS BIGINT) AS num,
       |    CAST(sum(CAST(2 ** (30 - (c.d - p.d)) AS BIGINT))
       |         AS BIGINT) AS den
       |  FROM daily c JOIN daily p
       |    ON c.event_type = p.event_type
       |   AND p.d >= c.d - 30 AND p.d <= c.d - 1
       |  GROUP BY 1, 2, 3
       |),
       |terms AS (
       |  SELECT event_type,
       |    (abs(cnt * den - num) * 1000) // den AS ae_milli,
       |    CASE WHEN cnt * den - num < 0
       |      THEN -((abs(cnt * den - num) * 1000) // den)
       |      ELSE (abs(cnt * den - num) * 1000) // den END AS se_milli,
       |    (2000 * abs(cnt * den - num)) // (cnt * den + num)
       |      AS sm_milli
       |  FROM j
       |),
       |cen AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
       |    CAST(sum(ae_milli) AS BIGINT) AS sum_ae,
       |    CAST(sum(se_milli) AS BIGINT) AS sum_se,
       |    CAST(sum(sm_milli) AS BIGINT) AS sum_sm
       |  FROM terms GROUP BY 1
       |)
       |SELECT event_type, n_days,
       |  CAST(sum_ae // n_days AS BIGINT) AS mae_milli,
       |  CAST(CASE WHEN sum_se < 0 THEN -((-sum_se) // n_days)
       |       ELSE sum_se // n_days END AS BIGINT) AS bias_milli,
       |  CAST(sum_sm // n_days AS BIGINT) AS smape_milli
       |FROM cen ORDER BY event_type""".stripMargin

  // ------------------------------------------------- A/B experiment

  /** R33: A/B experiment census — the uplift readout every
    * experimentation pipeline computes: users split into two arms by
    * a DETERMINISTIC assignment (user_id parity — in production a
    * salted hash bucket; parity keeps the oracle engine-exact), arm
    * conversion measured per event type ("did the user emit ≥ 1 such
    * event"), and each type read as a 2×2 contingency: conversion
    * rates, relative lift B/A, and the chi-square statistic whose
    * threshold (3.84 at α = 0.05, df = 1) is the ship/no-ship gate.
    * R29 reads seasonality cells against independence; this reads a
    * designed two-arm split — the experiment, not the calendar.
    *
    * Exactness: all eight contingency integers are exact distinct-user
    * counts; rates and lift are integer micro divisions
    * ((conv·1e6) div n, (conv_b·n_a·1e6) div (n_b·conv_a) — exact to
    * ~3·10⁶ users per arm before int64 headroom runs out, the
    * documented bound); chi² is ONE micro-floored fixed double tree
    * (N·(ad−bc)²)/((a+b)(c+d)(a+c)(b+d)) evaluated in the identical
    * association on both engines (the X51 discipline). Degenerate
    * marginals (zero conversions anywhere, or everyone converted)
    * read NULL lift/chi² rather than dividing by zero, and an EMPTY
    * ARM (n_a = 0 or n_b = 0) reads NULL rates/lift/chi² on both
    * engines — the guards fire before any division.
    *
    * Scale shape: one distinct over (event_type, user) pairs and one
    * over users — both partial-agg'd Exchanges; everything after is
    * ≤ #event_types rows against a ONE-ROW broadcast arm-totals
    * relation. No window, no sort, no pairwise anything.
    */
  def qAbTest(spark: SparkSession, dir: String): DataFrame =
    abTestCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def abTestCensus(ev: DataFrame): DataFrame = {
    val users = ev.select(col("user_id")).distinct()
      .withColumn("variant", expr("user_id % 2"))
    val tot = users.groupBy()
      .agg(sum(when(col("variant") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 1L, 1L).otherwise(0L)).as("n_b"))
    val conv = ev.select(col("event_type"), col("user_id")).distinct()
      .withColumn("variant", expr("user_id % 2"))
      .groupBy("event_type")
      .agg(sum(when(col("variant") === 0L, 1L).otherwise(0L))
          .as("conv_a"),
        sum(when(col("variant") === 1L, 1L).otherwise(0L)).as("conv_b"))
    conv.crossJoin(broadcast(tot))
      .withColumn("bb", col("n_a") - col("conv_a"))
      .withColumn("dd", col("n_b") - col("conv_b"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        col("conv_a"), col("conv_b"),
        when(col("n_a") > 0L, expr("(conv_a * 1000000) div n_a"))
          .as("rate_a_micro"),
        when(col("n_b") > 0L, expr("(conv_b * 1000000) div n_b"))
          .as("rate_b_micro"),
        when(col("conv_a") > 0L && col("n_b") > 0L,
          expr("(conv_b * n_a * 1000000) div (n_b * conv_a)"))
          .as("lift_micro"),
        when(col("n_a") > 0L && col("n_b") > 0L &&
          col("conv_a") + col("conv_b") > 0L &&
          col("bb") + col("dd") > 0L,
          micro(((col("n_a") + col("n_b")).cast("double") *
            ((col("conv_a") * col("dd") - col("bb") * col("conv_b"))
              .cast("double") *
              (col("conv_a") * col("dd") - col("bb") * col("conv_b"))
                .cast("double"))) /
            (col("n_a").cast("double") * col("n_b").cast("double") *
              (col("conv_a") + col("conv_b")).cast("double") *
              (col("bb") + col("dd")).cast("double"))))
          .as("chi2_micro"))
      .orderBy("event_type")
  }

  private val abTestOracle =
    s"""$evCte,
       |u AS (SELECT DISTINCT user_id FROM ev),
       |tot AS (
       |  SELECT
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_b
       |  FROM u
       |),
       |cu AS (SELECT DISTINCT event_type, user_id FROM ev),
       |conv AS (
       |  SELECT event_type,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS conv_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS conv_b
       |  FROM cu GROUP BY 1
       |)
       |SELECT c.event_type, t.n_a, t.n_b, c.conv_a, c.conv_b,
       |  CASE WHEN t.n_a > 0 THEN
       |    CAST((c.conv_a * 1000000) // t.n_a AS BIGINT)
       |  END AS rate_a_micro,
       |  CASE WHEN t.n_b > 0 THEN
       |    CAST((c.conv_b * 1000000) // t.n_b AS BIGINT)
       |  END AS rate_b_micro,
       |  CASE WHEN c.conv_a > 0 AND t.n_b > 0 THEN
       |    CAST((c.conv_b * t.n_a * 1000000) // (t.n_b * c.conv_a)
       |         AS BIGINT) END AS lift_micro,
       |  CASE WHEN t.n_a > 0 AND t.n_b > 0
       |        AND c.conv_a + c.conv_b > 0
       |        AND (t.n_a - c.conv_a) + (t.n_b - c.conv_b) > 0 THEN
       |    ${microSql("(CAST(t.n_a + t.n_b AS DOUBLE) * " +
      "(CAST(c.conv_a * (t.n_b - c.conv_b) - " +
      "(t.n_a - c.conv_a) * c.conv_b AS DOUBLE) * " +
      "CAST(c.conv_a * (t.n_b - c.conv_b) - " +
      "(t.n_a - c.conv_a) * c.conv_b AS DOUBLE))) / " +
      "(CAST(t.n_a AS DOUBLE) * CAST(t.n_b AS DOUBLE) * " +
      "CAST(c.conv_a + c.conv_b AS DOUBLE) * " +
      "CAST((t.n_a - c.conv_a) + (t.n_b - c.conv_b) AS DOUBLE))")}
       |  END AS chi2_micro
       |FROM conv c, tot t
       |ORDER BY c.event_type""".stripMargin

  // ------------------------------------------- Mann-Whitney U (R34)

  /** R34: Mann-Whitney U experiment readout — R33's companion for a
    * CONTINUOUS metric: where R33 tests a conversion proportion, this
    * rank-tests each event type's `value` distribution between the
    * same two parity arms (the nonparametric two-sample test product
    * analytics reaches for when revenue-per-event is heavy-tailed and
    * a t-test's mean is hostage to whales). Output per type: the
    * exact U statistic, the tie-correction mass, and the normal-
    * approximation z — |z| ≥ 1.96 is the same α = 0.05 gate as R33's
    * chi².
    *
    * Exactness: ranks live on the VALUE CENSUS with midrank ties —
    * kept exact by DOUBLING (a tied group entering after C rows with
    * m members has average rank C + (m+1)/2, so 2·rank = 2C + m + 1
    * stays an integer); R₁ and U₁ are integer sums of those, the tie
    * term Σ(t³−t) is exact, and z is ONE micro-floored fixed double
    * tree (variance with the standard tie correction) guarded by
    * var > 0 — an all-tied type reads NULL z rather than dividing by
    * zero, and the guard compares the IDENTICAL double both engines
    * compute.
    *
    * Scale shape: one partial-agg'd Exchange to the (type, value)
    * census with per-arm counts; the rank window partitions BY TYPE
    * over census rows (the X33/X51 census-window discipline); the
    * rollup is ≤ #event_types rows. No event-grain window, no sort.
    */
  def qMannWhitney(spark: SparkSession, dir: String): DataFrame =
    mannWhitneyCensus(events(spark, dir))

  /** The test over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def mannWhitneyCensus(ev: DataFrame): DataFrame = {
    val cen = ev
      .select(col("event_type"), cents(col("value")).as("v"),
        expr("user_id % 2").as("arm"))
      .groupBy("event_type", "v")
      .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("na_v"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("nb_v"))
    val w = Window.partitionBy("event_type").orderBy("v")
    val ranked = cen
      .withColumn("m", col("na_v") + col("nb_v"))
      .withColumn("cum", sum("m").over(w))
      .withColumn("rank2",
        lit(2L) * (col("cum") - col("m")) + col("m") + 1L)
    val zSql =
      """(CAST(n_a * n_b AS DOUBLE) / 12.0) *
        | (CAST(n_a + n_b + 1 AS DOUBLE) -
        |  CAST(tie_cubes AS DOUBLE) /
        |  CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE))"""
        .stripMargin.replaceAll("\\s+", " ").trim
    ranked.groupBy("event_type")
      .agg(sum("na_v").as("n_a"), sum("nb_v").as("n_b"),
        sum(col("na_v") * col("rank2")).as("r1_x2"),
        sum(col("m") * col("m") * col("m") - col("m")).as("tie_cubes"))
      .withColumn("u1_x2",
        col("r1_x2") - col("n_a") * (col("n_a") + 1L))
      .select(col("event_type"), col("n_a"), col("n_b"),
        col("u1_x2"), col("tie_cubes"),
        expr(s"""CASE WHEN $zSql > 0.0 THEN
          | CAST(floor(1000000.0 * (CAST(u1_x2 - n_a * n_b AS DOUBLE) /
          |   (2.0 * sqrt($zSql)))) AS BIGINT) END"""
          .stripMargin.replaceAll("\\s+", " ").trim).as("z_micro"))
      .orderBy("event_type")
  }

  private val mannWhitneyOracle = {
    val zSql =
      """(CAST(n_a * n_b AS DOUBLE) / 12.0) *
        | (CAST(n_a + n_b + 1 AS DOUBLE) -
        |  CAST(tie_cubes AS DOUBLE) /
        |  CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE))"""
        .stripMargin.replaceAll("\\s+", " ").trim
    s"""$evCte,
       |cen AS (
       |  SELECT event_type, CAST(round(value * 100.0) AS BIGINT) AS v,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS na_v,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS nb_v
       |  FROM ev GROUP BY 1, 2
       |),
       |ranked AS (
       |  SELECT event_type, na_v, nb_v, na_v + nb_v AS m,
       |    2 * (CAST(sum(na_v + nb_v) OVER (PARTITION BY event_type
       |           ORDER BY v) AS BIGINT) - (na_v + nb_v))
       |      + (na_v + nb_v) + 1 AS rank2
       |  FROM cen
       |),
       |agg AS (
       |  SELECT event_type,
       |    CAST(sum(na_v) AS BIGINT) AS n_a,
       |    CAST(sum(nb_v) AS BIGINT) AS n_b,
       |    CAST(sum(na_v * rank2) AS BIGINT) AS r1_x2,
       |    CAST(sum(m * m * m - m) AS BIGINT) AS tie_cubes
       |  FROM ranked GROUP BY 1
       |),
       |u AS (
       |  SELECT event_type, n_a, n_b,
       |    CAST(r1_x2 - n_a * (n_a + 1) AS BIGINT) AS u1_x2, tie_cubes
       |  FROM agg
       |)
       |SELECT event_type, n_a, n_b, u1_x2, tie_cubes,
       |  CASE WHEN $zSql > 0.0 THEN
       |    CAST(floor(1000000.0 * (CAST(u1_x2 - n_a * n_b AS DOUBLE) /
       |      (2.0 * sqrt($zSql)))) AS BIGINT) END AS z_micro
       |FROM u ORDER BY event_type""".stripMargin
  }

  // --------------------------------------- Poisson bootstrap (R35)

  /** R35's resample count. */
  val BootstrapB = 32

  /** Poisson(1) inverse-CDF thresholds on the 60-bit hash range:
    * T_k = floor(P(X ≤ k) · 2⁶⁰) for k = 0..7, computed ONCE here and
    * inlined as the same integer literals into the oracle SQL (the
    * V32 weight-table discipline). A row's replicate weight is
    * #{k : h ≥ T_k} ∈ [0, 8] — the residual mass beyond 8 copies is
    * ~10⁻⁵ and truncates by contract.
    */
  val PoissonThresholds: Seq[Long] = Seq(
    424136118829305344L, 848272237658610688L, 1060340297073263360L,
    1131029650211480960L, 1148701988496035328L, 1152236456152946176L,
    1152825534095764608L, 1152909688087595776L)

  /** R35: Poisson-bootstrap census of the mean order value — the
    * error bar every pipeline metric needs before a ship decision
    * reads it: B independent resamples of the orders relation, each
    * row carried with a DETERMINISTIC Poisson(1) weight derived from
    * md5(orderkey, replicate) against the inverse-CDF thresholds —
    * the streaming-friendly bootstrap (no resample materialization,
    * no shared-state RNG; Poisson(1) is the large-N limit of the
    * multinomial bootstrap weight). The replicate census (mean per
    * resample, rank-ordered) IS the sampling distribution; a CI is a
    * rank read-off (ranks ⌈0.025·B⌉ / ⌈0.975·B⌉).
    *
    * Exactness: weights are integer threshold counts off the 60-bit
    * md5; per-replicate Σw and Σw·cents are exact integer sums; the
    * mean is ONE micro-floored division of exact integers; the rank
    * window orders (mean_micro, b) over exactly B rows.
    *
    * Scale shape: ONE corpus scan fans out ×B (sequence explode) with
    * the weight computed per row by an 8-literal codegen comparison
    * chain — no join against the threshold table — and map-side
    * partial aggregation collapses the fan-out before the Exchange
    * (shuffle carries B × partitions rows); everything after is
    * B-row census work.
    */
  def qBootstrap(spark: SparkSession, dir: String): DataFrame =
    bootstrapMean(Tables.orders(spark, dir), BootstrapB)

  /** The census over any orders-shaped frame — factored for the
    * hand-computed spec.
    */
  def bootstrapMean(orders: DataFrame, b: Int): DataFrame = {
    val weight = PoissonThresholds
      .map(t => when(col("h") >= t, 1L).otherwise(0L))
      .reduce(_ + _)
    val rep = orders
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("p"))
      .select(col("o_orderkey"), col("p"),
        explode(sequence(lit(0L), lit(b.toLong - 1L))).as("b"))
      .withColumn("h", graft.functions.Hashing.md5Long(
        concat(lit("bs:"), col("o_orderkey").cast("string"),
          lit(":"), col("b").cast("string"))))
      .withColumn("wt", weight)
    val cen = rep.groupBy("b")
      .agg(sum("wt").as("n_eff"), sum(col("wt") * col("p")).as("sum_cents"))
      .select(col("b"), col("n_eff"), col("sum_cents"),
        micro(col("sum_cents") / col("n_eff")).as("mean_micro"))
    cen.withColumn("rk", row_number().over(
        Window.partitionBy(lit(0)).orderBy(col("mean_micro"), col("b")))
        .cast("long"))
      .orderBy("b")
  }

  private val bootstrapOracle = {
    val wSql = PoissonThresholds
      .map(t => s"(CASE WHEN h >= $t THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH rep AS (
       |  SELECT o.o_orderkey,
       |    CAST(round(o.o_totalprice * 100.0) AS BIGINT) AS p,
       |    g.b
       |  FROM orders o,
       |       (SELECT CAST(unnest(range(0, $BootstrapB)) AS BIGINT)
       |          AS b) g
       |),
       |hashed AS (
       |  SELECT b, p,
       |    ${graft.functions.Hashing.md5LongSql(
      "'bs:' || CAST(o_orderkey AS VARCHAR) || ':' || CAST(b AS VARCHAR)")}
       |      AS h
       |  FROM rep
       |),
       |wtd AS (SELECT b, p, CAST($wSql AS BIGINT) AS wt FROM hashed),
       |cen AS (
       |  SELECT b, CAST(sum(wt) AS BIGINT) AS n_eff,
       |    CAST(sum(wt * p) AS BIGINT) AS sum_cents
       |  FROM wtd GROUP BY 1
       |),
       |sc AS (
       |  SELECT b, n_eff, sum_cents,
       |    ${microSql("sum_cents / n_eff")} AS mean_micro
       |  FROM cen
       |)
       |SELECT b, n_eff, sum_cents, mean_micro,
       |  CAST(row_number() OVER (ORDER BY mean_micro, b) AS BIGINT)
       |    AS rk
       |FROM sc ORDER BY b""".stripMargin
  }

  // --------------------------------------- touch attribution (R36)

  /** R36's lookback window. */
  val AttributionWindowDays = 7

  /** R36: first-/last-touch conversion attribution — the marketing-
    * analytics census behind every "which channel drives purchases"
    * readout: each purchase is attributed to the user's EARLIEST
    * (first-touch) and LATEST (last-touch) preceding non-purchase
    * event within a 7-day lookback, and the census counts conversions
    * per (model, event_type). The two models bracket the credit-
    * assignment spectrum (discovery vs closing); purchases with no
    * touch in the window drop by contract (nothing to credit).
    *
    * Determinism: the lookback is STRICTLY-earlier timestamps; the
    * argmin/argmax pick is an exact struct extreme on
    * (unix_micros(ts), event_id) — same-instant touches break toward
    * the smaller id for first and the larger id for last, pinned both
    * sides, never an engine-dependent `max_by`.
    *
    * Scale shape: the R26 as-of pattern — a user-keyed equi join with
    * the window band as a residual (purchases/user × touches/user
    * fan-out, bounded by per-user activity), collapsed by ONE
    * min/max-struct aggregation per purchase (no row_number window
    * needed — the argmax is an aggregate, so it map-side combines);
    * the census rollup is ≤ 2 × #event_types rows. At 100 TB: bucket
    * events by user_id and the join co-locates (the q_asof note).
    */
  def qAttribution(spark: SparkSession, dir: String): DataFrame =
    attributionCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def attributionCensus(ev: DataFrame): DataFrame = {
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("t_user"), col("event_type"),
        col("ts").as("t_ts"), col("event_id").as("t_id"))
    val picked = purchases.join(touches,
        col("t_user") === col("user_id") &&
          col("t_ts") < col("p_ts") &&
          col("t_ts") >= col("p_ts") -
            expr(s"INTERVAL $AttributionWindowDays DAYS"))
      .groupBy("p_id")
      .agg(
        min(struct(expr("unix_micros(CAST(t_ts AS TIMESTAMP))"),
          col("t_id"), col("event_type"))).as("f"),
        max(struct(expr("unix_micros(CAST(t_ts AS TIMESTAMP))"),
          col("t_id"), col("event_type"))).as("l"))
    val first = picked.select(lit("first").as("model"),
      col("f.event_type").as("event_type"))
    val last = picked.select(lit("last").as("model"),
      col("l.event_type").as("event_type"))
    first.unionByName(last)
      .groupBy("model", "event_type")
      .agg(count(lit(1)).as("n_attr"))
      .orderBy("model", "event_type")
  }

  private val attributionOracle =
    s"""$evCte,
       |p AS (SELECT event_id AS p_id, user_id, ts AS p_ts FROM ev
       |      WHERE event_type = 'purchase'),
       |t AS (SELECT user_id AS t_user, event_type, ts AS t_ts,
       |        event_id AS t_id
       |      FROM ev WHERE event_type <> 'purchase'),
       |j AS (
       |  SELECT p.p_id, epoch_us(t.t_ts) AS us, t.t_id, t.event_type
       |  FROM p JOIN t ON t.t_user = p.user_id
       |   AND t.t_ts < p.p_ts
       |   AND t.t_ts >= p.p_ts - INTERVAL $AttributionWindowDays DAY
       |),
       |picked AS (
       |  SELECT p_id,
       |    min(struct_pack(us := us, id := t_id, et := event_type))
       |      AS f,
       |    max(struct_pack(us := us, id := t_id, et := event_type))
       |      AS l
       |  FROM j GROUP BY 1
       |),
       |u AS (
       |  SELECT 'first' AS model, f.et AS event_type FROM picked
       |  UNION ALL
       |  SELECT 'last' AS model, l.et AS event_type FROM picked
       |)
       |SELECT model, event_type, CAST(count(*) AS BIGINT) AS n_attr
       |FROM u GROUP BY 1, 2 ORDER BY model, event_type""".stripMargin

  // -------------------------------------------------- survival (R37)

  /** R37: censoring horizon — a user whose LAST event falls within this
    * many days of the stream's observed end is censored (still active:
    * we did not watch long enough to call it churn), everyone else is a
    * churn event at their lifetime duration.
    */
  val SurvivalCensorDays = 14

  /** R37: Nelson–Aalen cumulative-hazard census over user lifetimes —
    * the survival-analysis member of the statistics family (R33 A/B,
    * R34 Mann-Whitney, R35 bootstrap): per lifetime day t, the risk set
    * n_t (users whose lifetime ≥ t, churned OR censored — the standard
    * right-censoring convention keeps same-day censored users at risk),
    * churn count d_t, and the Nelson–Aalen cumulative hazard
    * H(t) = Σ_{s≤t} d_s/n_s. Deliberately Nelson–Aalen and NOT
    * Kaplan-Meier: KM's survival product Π(1−d/n) has no exact integer
    * form (hundreds of factors overflow any fixed precision, and
    * exp/ln round differently across engines' libm), while NA is a SUM
    * of per-day hazards — each an integer division of exact integers
    * ((10⁶·d) div n), so the whole curve is bit-exact cross-engine;
    * S(t) ≈ exp(−H(t)) is the consumer-side read.
    *
    * Exactness: lifetimes are calendar-day differences (both engines
    * subtract date-truncated timestamps); all counts and both running
    * sums are integers; the only division is the integer hazard.
    *
    * Scale shape: one partial-agg'd user Exchange (the min/max lifetime
    * rollup), then a duration census bounded by the observation span in
    * DAYS — the windows run over that tiny census, never the stream;
    * the horizon is a 1-row broadcast.
    */
  def qSurvival(spark: SparkSession, dir: String): DataFrame =
    survivalCensus(events(spark, dir), SurvivalCensorDays)

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def survivalCensus(ev: DataFrame, censorDays: Int): DataFrame = {
    val users = ev.groupBy("user_id")
      .agg(to_date(min("ts")).as("fd"), to_date(max("ts")).as("ld"))
    val horizon = users.agg(max("ld").as("md"))
    val durations = users.crossJoin(broadcast(horizon))
      .select(
        datediff(col("ld"), col("fd")).cast("long").as("duration_days"),
        when(datediff(col("md"), col("ld")) < censorDays, 1L)
          .otherwise(0L).as("cens"))
    val cells = durations.groupBy("duration_days")
      .agg(sum(lit(1L) - col("cens")).as("n_deaths"),
        sum("cens").as("n_censored"))
    val desc = Window.partitionBy(lit(0))
      .orderBy(col("duration_days").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val asc = Window.partitionBy(lit(0)).orderBy(col("duration_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("at_risk",
        sum(col("n_deaths") + col("n_censored")).over(desc))
      .withColumn("hazard_micro",
        expr("(1000000 * n_deaths) div at_risk"))
      .withColumn("cumhaz_micro", sum("hazard_micro").over(asc))
      .orderBy("duration_days")
  }

  // duration census rows are unique per duration, so DuckDB's default
  // RANGE window frame coincides with the Spark ROWS frame (the
  // cosCensus discipline)
  private val survivalOracle =
    s"""$evCte,
       |u AS (SELECT user_id, CAST(min(ts) AS DATE) AS fd,
       |        CAST(max(ts) AS DATE) AS ld
       |      FROM ev GROUP BY 1),
       |mx AS (SELECT max(ld) AS md FROM u),
       |du AS (
       |  SELECT CAST(date_diff('day', u.fd, u.ld) AS BIGINT)
       |      AS duration_days,
       |    CASE WHEN date_diff('day', u.ld, mx.md) < $SurvivalCensorDays
       |         THEN 1 ELSE 0 END AS cens
       |  FROM u, mx),
       |cells AS (
       |  SELECT duration_days, CAST(sum(1 - cens) AS BIGINT) AS n_deaths,
       |    CAST(sum(cens) AS BIGINT) AS n_censored
       |  FROM du GROUP BY 1),
       |r AS (
       |  SELECT duration_days, n_deaths, n_censored,
       |    CAST(sum(n_deaths + n_censored)
       |      OVER (ORDER BY duration_days DESC) AS BIGINT) AS at_risk
       |  FROM cells)
       |SELECT duration_days, n_deaths, n_censored, at_risk,
       |  CAST((1000000 * n_deaths) // at_risk AS BIGINT) AS hazard_micro,
       |  CAST(sum((1000000 * n_deaths) // at_risk)
       |    OVER (ORDER BY duration_days) AS BIGINT) AS cumhaz_micro
       |FROM r ORDER BY duration_days""".stripMargin

  // ------------------------------------------------ changepoint (R38)

  /** R38: CUSUM changepoint census over the daily event volume — the
    * page-one monitoring question ("did the level of this stream shift,
    * and when?") answered with the classic cumulative-sum statistic:
    * CUSUM_t = Σ_{i≤t}(n_i − n̄), whose |max| locates the most likely
    * single level-shift point (the offline CUSUM estimator). The mean
    * subtraction is where naive implementations go non-deterministic
    * (n̄ is rational); this census works in DAYS-SCALED units —
    * S'_t = D·cum_t − t·T (D = #days, T = total events) = D·CUSUM_t —
    * so every row is an EXACT integer and the argmax needs no doubles
    * at all. The normalized score (|S'|/(D·T) = |CUSUM|/T) is one
    * integer division. The changepoint flag marks the EARLIEST day
    * attaining the peak |S'| (deterministic under ties).
    *
    * Exactness: all integers; score_micro = (10⁶·|S'|) div (D·T) stays
    * under 2⁶³ through ~10¹² daily-census events (document shards
    * census per-source at that scale).
    *
    * Scale shape: one partial-agg'd (day) Exchange; both windows and
    * the peak scan run over the calendar-bounded census; the totals
    * row is a 1-row broadcast.
    */
  def qCusum(spark: SparkSession, dir: String): DataFrame =
    cusumCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def cusumCensus(ev: DataFrame): DataFrame = {
    val daily = ev.select(to_date(col("ts")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
    val tot = daily.agg(count(lit(1)).as("d_days"),
      sum("n").as("t_events"))
    val ascRows = Window.partitionBy(lit(0)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(lit(0))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    daily
      .withColumn("t", row_number()
        .over(Window.partitionBy(lit(0)).orderBy(col("day")))
        .cast("long"))
      .withColumn("cum_n", sum("n").over(ascRows))
      .crossJoin(broadcast(tot))
      .withColumn("cusum_scaled",
        col("d_days") * col("cum_n") - col("t") * col("t_events"))
      .withColumn("score_micro",
        expr("(1000000 * abs(cusum_scaled)) div (d_days * t_events)"))
      .withColumn("peak", max(abs(col("cusum_scaled"))).over(all))
      .withColumn("fpd",
        min(when(abs(col("cusum_scaled")) === col("peak"), col("day")))
          .over(all))
      .select(col("day").cast("string").as("day"), col("n"),
        col("cum_n"), col("cusum_scaled"), col("score_micro"),
        when(col("day") === col("fpd"), 1L).otherwise(0L)
          .as("is_changepoint"))
      .orderBy("day")
  }

  private val cusumOracle =
    s"""$evCte,
       |daily AS (SELECT CAST(ts AS DATE) AS day,
       |            CAST(count(*) AS BIGINT) AS n
       |          FROM ev GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS d_days,
       |          CAST(sum(n) AS BIGINT) AS t_events FROM daily),
       |r AS (
       |  SELECT day, n,
       |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
       |    CAST(sum(n) OVER (ORDER BY day) AS BIGINT) AS cum_n
       |  FROM daily),
       |c AS (
       |  SELECT r.day, r.n, r.cum_n,
       |    tot.d_days * r.cum_n - r.t * tot.t_events AS cusum_scaled,
       |    (1000000 * abs(tot.d_days * r.cum_n - r.t * tot.t_events))
       |      // (tot.d_days * tot.t_events) AS score_micro
       |  FROM r, tot),
       |p AS (SELECT max(abs(cusum_scaled)) AS peak FROM c),
       |fp AS (SELECT min(day) AS fpd FROM c, p
       |       WHERE abs(c.cusum_scaled) = p.peak)
       |SELECT CAST(c.day AS VARCHAR) AS day, c.n, c.cum_n,
       |  CAST(c.cusum_scaled AS BIGINT) AS cusum_scaled,
       |  CAST(c.score_micro AS BIGINT) AS score_micro,
       |  CAST(CASE WHEN c.day = fp.fpd THEN 1 ELSE 0 END AS BIGINT)
       |    AS is_changepoint
       |FROM c, fp ORDER BY c.day""".stripMargin

  // ---------------------------------------------- autocorrelation (R39)

  /** R39: lags the daily-volume autocorrelation is measured at — 1
    * (day-over-day persistence), 2, and 7 (weekly seasonality, the
    * q_dow signal as a correlation).
    */
  val AutocorrLags: Seq[Int] = Seq(1, 2, 7)

  /** R39: lag-k autocorrelation of the daily event volume — Pearson r
    * between (volume on day d, volume on day d+k) for each lag k, the
    * seasonality/persistence diagnostic behind forecasting-model choice
    * (R24's EWMA assumes short memory; a high lag-7 r says the model
    * needs a weekly term). Pairs join on the CALENDAR (day d with day
    * d+k), so gap days drop pairs rather than silently shifting the
    * series — the census is honest about missing days.
    *
    * Exactness: the X48 discipline — five exact integer power sums per
    * lag, then ONE double tree (cov/√var·√var; sqrt is IEEE-correctly-
    * rounded, so cross-engine safe) micro-floored; degenerate variance
    * reads 0.
    *
    * Scale shape: the daily census (calendar-bounded) self-joins per
    * lag — ≤ 3·D pair rows; everything else is a 3-row rollup.
    */
  def qAutocorr(spark: SparkSession, dir: String): DataFrame =
    autocorrCensus(events(spark, dir), AutocorrLags)

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def autocorrCensus(ev: DataFrame, lags: Seq[Int]): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val daily = ev.select(to_date(col("ts")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
    val a = daily.select(col("day"), col("n").as("x"))
    val b = daily.select(col("day").as("day2"), col("n").as("y"))
    val pairs = a.crossJoin(broadcast(lags.map(_.toLong).toDF("lag")))
      .join(b,
        col("day2") === date_add(col("day"), col("lag").cast("int")))
    val s = pairs.groupBy("lag").agg(
      count(lit(1)).as("m"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    s.select(col("lag"), col("m"),
      (col("m") * col("sxy") - col("sx") * col("sy")).as("cov_num"),
      (col("m") * col("sxx") - col("sx") * col("sx")).as("var_x"),
      (col("m") * col("syy") - col("sy") * col("sy")).as("var_y"))
      .withColumn("r_micro",
        when(col("var_x") > 0 && col("var_y") > 0,
          micro(col("cov_num") /
            (sqrt(col("var_x")) * sqrt(col("var_y")))))
          .otherwise(0L))
      .orderBy("lag")
  }

  private val autocorrOracle =
    s"""$evCte,
       |daily AS (SELECT CAST(ts AS DATE) AS day,
       |            CAST(count(*) AS BIGINT) AS n
       |          FROM ev GROUP BY 1),
       |lags AS (SELECT CAST(unnest([${AutocorrLags.mkString(", ")}])
       |           AS BIGINT) AS lag),
       |p AS (
       |  SELECT l.lag, a.n AS x, b.n AS y
       |  FROM daily a CROSS JOIN lags l
       |  JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER)
       |),
       |s AS (
       |  SELECT lag, CAST(count(*) AS BIGINT) AS m,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy
       |  FROM p GROUP BY 1
       |),
       |f AS (
       |  SELECT lag, m,
       |    CAST(m * sxy - sx * sy AS BIGINT) AS cov_num,
       |    CAST(m * sxx - sx * sx AS BIGINT) AS var_x,
       |    CAST(m * syy - sy * sy AS BIGINT) AS var_y
       |  FROM s
       |)
       |SELECT lag, m, cov_num, var_x, var_y,
       |  CASE WHEN var_x > 0 AND var_y > 0
       |       THEN ${microSql("cov_num / (sqrt(var_x) * sqrt(var_y))")}
       |       ELSE CAST(0 AS BIGINT) END AS r_micro
       |FROM f ORDER BY lag""".stripMargin

  // --------------------------------- Wald–Wolfowitz runs test (R48)

  /** R48: runs test for randomness of the daily volume series — the
    * nonparametric "is this sequence random or does it cluster?"
    * check that complements R38 (looks for ONE level shift) and R39
    * (linear correlation only): days above/below the median volume
    * form a ±-sequence; too FEW runs means regimes (clustered highs —
    * campaigns, outages), too MANY means oscillation (retry storms,
    * batch-vs-realtime interleave). Neither pattern moves the mean,
    * the chi, or necessarily lag-k r.
    *
    * Determinism/exactness: the median is the lower median (VALUE at
    * rank (D+1) div 2 under (n, day)); days EQUAL to the median drop
    * (the standard Wald–Wolfowitz treatment, deterministic); runs/n1/
    * n2 are exact integers off a lag window in calendar order; E[R]
    * and z are ONE double tree each from integer operands (a single
    * division, a single sqrt — IEEE-exact), micro-floored; degenerate
    * one-sided sequences (n1·n2 = 0) guard to z = 0.
    *
    * Scale shape: ONE (day) partial-agg Exchange; median rank, sign
    * sequence, and lag window all run over the calendar-bounded
    * census; the one-row median broadcasts.
    */
  def qRunsTest(spark: SparkSession, dir: String): DataFrame =
    runsTestCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def runsTestCensus(ev: DataFrame): DataFrame = {
    val daily = ev.select(to_date(col("ts")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
    val wAll = Window.partitionBy(lit(0))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wVal = Window.partitionBy(lit(0)).orderBy(col("n"), col("day"))
    val med = daily
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("r", row_number().over(wVal))
      .filter(col("r") === expr("(m + 1) div 2"))
      .select(col("n").as("med"), col("m").as("n_days"))
    val wDay = Window.partitionBy(lit(0)).orderBy(col("day"))
    val s = daily.crossJoin(broadcast(med))
      .filter(col("n") =!= col("med"))
      .select(col("day"), col("med"), col("n_days"),
        when(col("n") > col("med"), 1L).otherwise(0L).as("sgn"))
      .withColumn("prev", lag(col("sgn"), 1).over(wDay))
      .agg(max("med").as("med"), max("n_days").as("n_days"),
        sum(when(col("prev").isNull || col("prev") =!= col("sgn"), 1L)
          .otherwise(0L)).as("runs"),
        sum(col("sgn")).as("n1"),
        sum(lit(1L) - col("sgn")).as("n2"))
    val e = lit(1.0) +
      (lit(2L) * col("n1") * col("n2")) / (col("n1") + col("n2"))
    val varNum = lit(2L) * col("n1") * col("n2") *
      (lit(2L) * col("n1") * col("n2") - col("n1") - col("n2"))
    val varDen = (col("n1") + col("n2")) * (col("n1") + col("n2")) *
      (col("n1") + col("n2") - 1L)
    s.select(col("n_days"), col("med"), col("n1"), col("n2"),
        col("runs"),
        when(col("n1") + col("n2") > 0, micro(e)).otherwise(lit(0L))
          .as("e_micro"),
        when(col("n1") > 0 && col("n2") > 0 && varNum > 0,
          micro((col("runs") - e) / sqrt(varNum / varDen)))
          .otherwise(lit(0L)).as("z_micro"))
  }

  private val runsTestOracle = {
    val e = "(1.0 + (2 * n1 * n2) / (n1 + n2))"
    val varNum = "(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2))"
    val varDen = "((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))"
    s"""$evCte,
       |daily AS (SELECT CAST(ts AS DATE) AS day,
       |            CAST(count(*) AS BIGINT) AS n
       |          FROM ev GROUP BY 1),
       |md AS (
       |  SELECT n AS med, m AS n_days FROM (
       |    SELECT n, CAST(count(*) OVER () AS BIGINT) AS m,
       |      row_number() OVER (ORDER BY n, day) AS r
       |    FROM daily
       |  ) WHERE r = (m + 1) // 2),
       |sg AS (
       |  SELECT d.day, md.med, md.n_days,
       |    CAST(CASE WHEN d.n > md.med THEN 1 ELSE 0 END AS BIGINT)
       |      AS sgn
       |  FROM daily d, md WHERE d.n <> md.med),
       |st AS (
       |  SELECT max(med) AS med, max(n_days) AS n_days,
       |    CAST(sum(CASE WHEN prev IS NULL OR prev <> sgn
       |             THEN 1 ELSE 0 END) AS BIGINT) AS runs,
       |    CAST(sum(sgn) AS BIGINT) AS n1,
       |    CAST(sum(1 - sgn) AS BIGINT) AS n2
       |  FROM (SELECT med, n_days, sgn,
       |               lag(sgn) OVER (ORDER BY day) AS prev
       |        FROM sg))
       |SELECT n_days, med, n1, n2, runs,
       |  CASE WHEN n1 + n2 > 0 THEN ${microSql(e)}
       |       ELSE CAST(0 AS BIGINT) END AS e_micro,
       |  CASE WHEN n1 > 0 AND n2 > 0 AND $varNum > 0
       |       THEN ${microSql(
      s"(runs - $e) / sqrt($varNum / $varDen)")}
       |       ELSE CAST(0 AS BIGINT) END AS z_micro
       |FROM st""".stripMargin
  }

  // ------------------------------------ Mann-Kendall trend test (R49)

  /** R49: Mann-Kendall trend test over the daily volume series — the
    * nonparametric "is there a monotone trend AT ALL" decision that
    * fronts R44's Theil–Sen (which estimates the slope this test
    * decides exists; the two are the standard pairing: MK for the
    * verdict, TS for the magnitude — Mann 1945, Kendall 1975). Unlike
    * R48's runs test (randomness around the median), MK accumulates
    * DIRECTION over every day pair, so a gradual drift the runs test
    * misses still drives |S| up. Output: S, the tie-corrected variance
    * numerator (var = var_num/18), and the continuity-corrected normal
    * z — the feed-health number a pipeline alarms on.
    *
    * Exactness: S = Σ_{i<j} sign(y_j − y_i) and the tie correction
    * Σ t(t−1)(2t+5) are exact integers; z is ONE double tree
    * ((S∓1)/sqrt(var_num/18.0)) micro-floored, mirrored verbatim —
    * sqrt is IEEE-correctly-rounded, so both engines agree bit-exactly.
    *
    * Scale shape: the pair relation is the CALENDAR-BOUNDED daily
    * census self-join (the R44 shape — days², not events²); everything
    * after is one-row arithmetic. All products are day-count-sized
    * (≤ ~10⁴ days ⇒ n³ ≈ 10¹² ≪ 2⁶³) — no overflow headroom issue.
    */
  def qMannKendall(spark: SparkSession, dir: String): DataFrame =
    mannKendallCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def mannKendallCensus(ev: DataFrame): DataFrame = {
    val daily = ev.select(to_date(col("ts")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
    val a = daily.select(col("day").as("d1"), col("n").as("y1"))
    val b = daily.select(col("day").as("d2"), col("n").as("y2"))
    val s = a.join(b, col("d2") > col("d1"))
      .agg(coalesce(sum(when(col("y2") > col("y1"), 1L)
          .when(col("y2") < col("y1"), -1L).otherwise(0L)), lit(0L))
        .as("s_stat"))
    val nd = daily.agg(count(lit(1)).as("n_days"))
    val ties = daily.groupBy("n").agg(count(lit(1)).as("t"))
      .filter(col("t") > 1)
      .agg(coalesce(sum(expr("t * (t - 1) * (2 * t + 5)")), lit(0L))
          .as("tie_corr"),
        count(lit(1)).as("n_tie_groups"))
    val z = (col("s_stat") + when(col("s_stat") > 0, -1L)
      .when(col("s_stat") < 0, 1L).otherwise(0L)) /
      sqrt(col("var_num") / lit(18.0))
    nd.crossJoin(broadcast(s)).crossJoin(broadcast(ties))
      .withColumn("var_num",
        expr("n_days * (n_days - 1) * (2 * n_days + 5)") -
          col("tie_corr"))
      .select(col("n_days"), col("s_stat"), col("n_tie_groups"),
        col("tie_corr"), col("var_num"),
        when(col("var_num") > 0 && col("s_stat") =!= 0, micro(z))
          .otherwise(lit(0L)).as("z_micro"))
  }

  private val mannKendallOracle = {
    val z = "(s_stat + CASE WHEN s_stat > 0 THEN -1 " +
      "WHEN s_stat < 0 THEN 1 ELSE 0 END) / sqrt(var_num / 18.0)"
    s"""$evCte,
       |daily AS (SELECT CAST(ts AS DATE) AS day,
       |            CAST(count(*) AS BIGINT) AS n
       |          FROM ev GROUP BY 1),
       |s AS (
       |  SELECT CAST(coalesce(sum(CASE WHEN b.n > a.n THEN 1
       |           WHEN b.n < a.n THEN -1 ELSE 0 END), 0) AS BIGINT)
       |    AS s_stat
       |  FROM daily a JOIN daily b ON b.day > a.day),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
       |tg AS (SELECT CAST(count(*) AS BIGINT) AS t
       |       FROM daily GROUP BY n HAVING count(*) > 1),
       |ties AS (
       |  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
       |           AS BIGINT) AS tie_corr,
       |         CAST(count(*) AS BIGINT) AS n_tie_groups
       |  FROM tg),
       |st AS (
       |  SELECT n_days, s_stat, n_tie_groups, tie_corr,
       |    n_days * (n_days - 1) * (2 * n_days + 5) - tie_corr
       |      AS var_num
       |  FROM nd, s, ties)
       |SELECT n_days, s_stat, n_tie_groups, tie_corr, var_num,
       |  CASE WHEN var_num > 0 AND s_stat <> 0 THEN ${microSql(z)}
       |       ELSE CAST(0 AS BIGINT) END AS z_micro
       |FROM st""".stripMargin
  }

  // --------------------------------- CUSUM changepoint census (R52)

  /** R52: offline CUSUM changepoint over the daily volume series —
    * the batch twin of the T14 streaming CUSUM monitor (the V39/T16
    * pairing discipline: T14 ALARMS online, this LOCATES offline):
    * WHERE did the level shift, by how much. The classic cumulative-
    * sum locator (Page 1954; Pettitt 1979's CUSUM form): S_k =
    * Σ_{i≤k}(x_i − x̄) peaks at the shift point. Kept integer-exact
    * by scaling out the mean — S'_k = N·cum_k − k·T ≡ N·S_k — which
    * preserves the argmax and needs no division anywhere in the
    * trace. Output one row: the argmax day (tie → earliest), the
    * peak |S'|, its normalized magnitude, and the before/after level
    * read (floor day-means, whole events/day — the shift estimate).
    * Complements R49 (monotone-trend verdict) and R48 (randomness):
    * a single level SHIFT is exactly the signature those two blur.
    *
    * Exactness: the whole trace is integers (cum via a ROWS-pinned
    * window on the UNIQUE day key, so DuckDB's default RANGE frame
    * agrees); argmax by (|S'| DESC, day) row_number — deterministic;
    * means are positive integer floor-divisions; the one double is
    * the normalized magnitude micro(|S'| / (N·T)) with the product
    * promoted to double BEFORE multiplying (so no Long product can overflow).
    * Long headroom: N·cum ≤ N·T, exact to ~10⁴ days × 10¹⁴
    * events/day-sum (N·T < 2⁶³); DuckDB errors identically past it.
    *
    * Scale shape: ONE (day) partial-agg'd Exchange (map-side
    * combine), then every window/join runs over the CALENDAR-BOUNDED
    * census (≤ ~10⁴ rows however big the corpus) with the one-row
    * totals broadcast.
    */
  def qChangepoint(spark: SparkSession, dir: String): DataFrame =
    cusumChangepoint(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def cusumChangepoint(ev: DataFrame): DataFrame = {
    val daily = ev.select(to_date(col("ts")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
    val w = Window.orderBy("day")
    val cum = daily.select(col("day"), col("n"),
      sum("n").over(w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)).as("cum"),
      row_number().over(w).cast("long").as("k"))
    val tot = daily.agg(sum("n").as("t"), count(lit(1)).as("n_days"))
    val sc = cum.crossJoin(broadcast(tot))
      .withColumn("s_scaled",
        col("n_days") * col("cum") - col("k") * col("t"))
    val wr = Window.orderBy(abs(col("s_scaled")).desc, col("day"))
    sc.withColumn("rk", row_number().over(wr))
      .filter(col("rk") === 1)
      .select(col("n_days"), col("t").as("total"),
        col("day").cast("string").as("cp_day"), col("k").as("k_cp"),
        abs(col("s_scaled")).as("s_abs_max"),
        expr("cum div k").as("mean_pre"),
        when(col("n_days") === col("k"), lit(0L))
          .otherwise(expr("(t - cum) div (n_days - k)"))
          .as("mean_post"))
      .withColumn("shift_per_day",
        when(col("n_days") === col("k_cp"), lit(0L))
          .otherwise(col("mean_post") - col("mean_pre")))
      .withColumn("cusum_norm_micro",
        micro(col("s_abs_max") /
          (col("n_days").cast("double") * col("total"))))
  }

  private val changepointOracle = {
    val norm = "s_abs_max / (CAST(n_days AS DOUBLE) * total)"
    s"""$evCte,
       |daily AS (SELECT CAST(ts AS DATE) AS day,
       |            CAST(count(*) AS BIGINT) AS n
       |          FROM ev GROUP BY 1),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t,
       |          CAST(count(*) AS BIGINT) AS n_days FROM daily),
       |c AS (SELECT day, n,
       |        CAST(sum(n) OVER (ORDER BY day) AS BIGINT) AS cum,
       |        CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k
       |      FROM daily),
       |sc AS (SELECT c.day, c.cum, c.k, tot.t, tot.n_days,
       |         n_days * cum - k * t AS s_scaled
       |       FROM c, tot),
       |r AS (SELECT *, row_number() OVER
       |        (ORDER BY abs(s_scaled) DESC, day) AS rk
       |      FROM sc),
       |p AS (SELECT n_days, t AS total, CAST(day AS VARCHAR) AS cp_day,
       |        k AS k_cp, CAST(abs(s_scaled) AS BIGINT) AS s_abs_max,
       |        CAST(cum // k AS BIGINT) AS mean_pre,
       |        CAST(CASE WHEN n_days = k THEN 0
       |             ELSE (t - cum) // (n_days - k) END AS BIGINT)
       |          AS mean_post
       |      FROM r WHERE rk = 1)
       |SELECT n_days, total, cp_day, k_cp, s_abs_max, mean_pre,
       |  mean_post,
       |  CAST(CASE WHEN n_days = k_cp THEN 0
       |       ELSE mean_post - mean_pre END AS BIGINT)
       |    AS shift_per_day,
       |  ${microSql(norm)} AS cusum_norm_micro
       |FROM p""".stripMargin
  }

  // ------------------------------- daily autocorrelation census (R53)

  /** R53: autocorrelation function of the daily volume series at lags
    * 1–7 — the MEMORY/periodicity lens the rest of the time-series
    * battery lacks: R49 decides monotone trend, R52 locates a level
    * shift, R47 compares weekday MEANS, but none of them answers "does
    * today predict tomorrow (r₁) and is there a weekly CYCLE (r₇
    * peak)" — the standard pre-model diagnostic (Box & Jenkins 1970)
    * behind both seasonality-aware sampling and alarm de-noising.
    * Series semantics: lag in SERIES INDEX over the day-ordered
    * census (row_number on the unique day key), the textbook sample
    * ACF over the n−L aligned pairs per lag, Pearson-normalized per
    * lag so each row is a correlation in [−1, 1].
    *
    * Exactness: the six moments per lag (m, Σx, Σy, Σx², Σy², Σxy)
    * are exact integer aggregates; r is ONE micro-floored double tree
    * (m·Σxy − Σx·Σy)/sqrt((m·Σx²−Σx·Σx)·(m·Σy²−Σy·Σy)) with every
    * product's first factor CAST to double BEFORE multiplying (the
    * product stays double, never an overflowing Long), zero-variance
    * lags guarded to 0. Integer
    * headroom: Σ x·x products are exact to ~10⁹ events/day on a
    * 30-year series (DuckDB's BIGINT multiply errors past it).
    *
    * Scale shape: ONE (day) partial-agg'd Exchange; the lag grid
    * (≤ 7 rows, broadcast) × calendar census stays calendar-bounded
    * (7·n_days rows), the self-join is an equi-join on the shifted
    * index, and the output is exactly 7 rows.
    */
  def qAcf(spark: SparkSession, dir: String): DataFrame =
    acfCensus(events(spark, dir), 7)

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def acfCensus(ev: DataFrame, maxLag: Int): DataFrame = {
    val daily = ev.select(to_date(col("ts")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
    val idx = daily.select(
      row_number().over(Window.orderBy("day")).cast("long").as("k"),
      col("n"))
    val lags = ev.sparkSession.range(1, maxLag + 1)
      .select(col("id").as("lag"))
    val a = idx.crossJoin(broadcast(lags))
      .select(col("lag"), (col("k") + col("lag")).as("k2"),
        col("n").as("x"))
    val b = idx.select(col("k").as("k2"), col("n").as("y"))
    val m = a.join(b, Seq("k2"))
      .groupBy("lag").agg(count(lit(1)).as("m"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"),
        sum(expr("x * y")).as("sxy"))
    val num = col("m").cast("double") * col("sxy") -
      col("sx").cast("double") * col("sy")
    val vx = col("m").cast("double") * col("sxx") -
      col("sx").cast("double") * col("sx")
    val vy = col("m").cast("double") * col("syy") -
      col("sy").cast("double") * col("sy")
    m.select(col("lag"), col("m").as("n_pairs"),
        when(col("m").cast("double") * col("sxx") ===
          col("sx").cast("double") * col("sx"), lit(0L))
          .when(col("m").cast("double") * col("syy") ===
            col("sy").cast("double") * col("sy"), lit(0L))
          .otherwise(micro(num / sqrt(vx * vy))).as("r_micro"))
      .orderBy("lag")
  }

  private val acfOracle = {
    val num = "CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy"
    val vx = "(CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    val vy = "(CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)"
    s"""$evCte,
       |daily AS (SELECT CAST(ts AS DATE) AS day,
       |            CAST(count(*) AS BIGINT) AS n
       |          FROM ev GROUP BY 1),
       |idx AS (SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT)
       |          AS k, n
       |        FROM daily),
       |lg AS (SELECT CAST(g.l AS BIGINT) AS lag
       |       FROM unnest(range(1, 8)) AS g(l)),
       |pr AS (SELECT lg.lag, a.n AS x, b.n AS y
       |       FROM idx a CROSS JOIN lg
       |       JOIN idx b ON b.k = a.k + lg.lag),
       |mo AS (SELECT lag, CAST(count(*) AS BIGINT) AS m,
       |         CAST(sum(x) AS BIGINT) AS sx,
       |         CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(x * x) AS BIGINT) AS sxx,
       |         CAST(sum(y * y) AS BIGINT) AS syy,
       |         CAST(sum(x * y) AS BIGINT) AS sxy
       |       FROM pr GROUP BY 1)
       |SELECT lag, m AS n_pairs,
       |  CASE WHEN CAST(m AS DOUBLE) * sxx = CAST(sx AS DOUBLE) * sx
       |         OR CAST(m AS DOUBLE) * syy = CAST(sy AS DOUBLE) * sy
       |       THEN CAST(0 AS BIGINT)
       |       ELSE ${microSql(s"($num) / sqrt($vx * $vy)")}
       |  END AS r_micro
       |FROM mo ORDER BY lag""".stripMargin
  }

  // ------------------------------- Spearman rank correlation (R54)

  /** R54: Spearman's ρ between the daily event volume and the daily
    * distinct-user count — the third face of the correlation triad
    * over the same two series: X48's Pearson r reads LINEAR coupling,
    * R51's Kendall τ-b reads pairwise concordance, and Spearman reads
    * monotone coupling as Pearson OVER THE RANKS (Spearman 1904) —
    * the robust default when either series is heavy-tailed (one viral
    * day wrecks Pearson, moves ρ by one rank). Ties take AVERAGE
    * (fractional) ranks — the tie-corrected estimator, equivalent to
    * the textbook tie-adjusted formula — kept exact by working on the
    * DOUBLED rank scale: 2·avgrank = 2·rank_low + (ties − 1) is always
    * an integer (rank_low from a rank() window, ties from a
    * partition count), so every moment below is an exact integer.
    *
    * Exactness: the six moments (n, Σa, Σb, Σa², Σb², Σab on the 2r
    * scale) are exact integer aggregates; ρ is ONE micro-floored
    * double tree (n·Σab − Σa·Σb)/sqrt((n·Σa²−Σa·Σa)·(n·Σb²−Σb·Σb))
    * with every product's first factor CAST to double BEFORE
    * multiplying (no Long product, no ceiling);
    * an all-tied axis zeroes its variance and guards ρ to 0. The
    * doubling cancels in the ratio (numerator and each variance carry
    * the same 4×), so ρ is the standard statistic, not a scaled one.
    * Closed-form anchor (spec-pinned): Σ2r = n(n+1) on each axis,
    * ties or not.
    *
    * Scale shape: ONE (day) partial-agg'd Exchange builds the daily
    * census (volume + distinct users together); ranks are two
    * single-partition windows over the CALENDAR-BOUNDED census (the
    * R52 discipline — ≤ ~10⁴ rows regardless of corpus size); the
    * moments are one single-row aggregate. Nothing corpus-sized past
    * the first Exchange.
    */
  def qSpearman(spark: SparkSession, dir: String): DataFrame =
    spearmanCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def spearmanCensus(ev: DataFrame): DataFrame = {
    val daily = ev.select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy("day").agg(count(lit(1)).as("x"),
        countDistinct(col("user_id")).as("y"))
    def rank2(c: String) =
      (rank().over(Window.orderBy(c)).cast("long") * 2L +
        count(lit(1)).over(Window.partitionBy(c)) - 1L)
    val ranked = daily.select(rank2("x").as("a"), rank2("y").as("b"))
    val m = ranked.agg(count(lit(1)).as("n"),
      sum("a").as("sa"), sum("b").as("sb"),
      sum(expr("a * a")).as("saa"), sum(expr("b * b")).as("sbb"),
      sum(expr("a * b")).as("sab"))
    val num = col("n").cast("double") * col("sab") -
      col("sa").cast("double") * col("sb")
    val va = col("n").cast("double") * col("saa") -
      col("sa").cast("double") * col("sa")
    val vb = col("n").cast("double") * col("sbb") -
      col("sb").cast("double") * col("sb")
    m.select(col("n").as("n_days"), col("sa"), col("sb"),
      col("saa"), col("sbb"), col("sab"),
      when(col("n").cast("double") * col("saa") ===
          col("sa").cast("double") * col("sa"), lit(0L))
        .when(col("n").cast("double") * col("sbb") ===
          col("sb").cast("double") * col("sb"), lit(0L))
        .otherwise(micro(num / sqrt(va * vb))).as("rho_micro"))
  }

  private val spearmanOracle = {
    val num = "CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb"
    val va = "(CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa)"
    val vb = "(CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb)"
    s"""$evCte,
       |daily AS (
       |  SELECT CAST(ts AS DATE) AS day,
       |    CAST(count(*) AS BIGINT) AS x,
       |    CAST(count(DISTINCT user_id) AS BIGINT) AS y
       |  FROM ev GROUP BY 1),
       |rk AS (
       |  SELECT
       |    CAST(rank() OVER (ORDER BY x) * 2
       |      + count(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS a,
       |    CAST(rank() OVER (ORDER BY y) * 2
       |      + count(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS b
       |  FROM daily),
       |mo AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
       |    CAST(sum(a * a) AS BIGINT) AS saa,
       |    CAST(sum(b * b) AS BIGINT) AS sbb,
       |    CAST(sum(a * b) AS BIGINT) AS sab
       |  FROM rk)
       |SELECT n AS n_days, sa, sb, saa, sbb, sab,
       |  CASE WHEN CAST(n AS DOUBLE) * saa = CAST(sa AS DOUBLE) * sa
       |         OR CAST(n AS DOUBLE) * sbb = CAST(sb AS DOUBLE) * sb
       |       THEN CAST(0 AS BIGINT)
       |       ELSE ${microSql(s"($num) / sqrt($va * $vb)")}
       |  END AS rho_micro
       |FROM mo""".stripMargin
  }

  // -------------------------- per-user dispersion census (R55)

  /** R55: per-user Fano-factor (index-of-dispersion) census — WHO is
    * bursty, where the rest of the battery reads the corpus as one
    * series: R13 histograms corpus inter-arrivals, X50 reads token
    * burstiness, R53 reads global memory, but none attributes
    * burstiness to USERS — the bot/retry-storm attribution question
    * (a handful of F ≫ 1 users explains a fat daily-volume tail that
    * corpus-level lenses can only detect, not localize). F = σ²/μ of
    * the user's daily count over their ACTIVE SPAN (zero days count
    * as zeros — regularity means showing up, so a 2-day user and a
    * 100-day user are both scored against their own calendar);
    * F = 1 is the Poisson baseline (Fano 1947), F < 1 metronomic
    * automation, F ≫ 1 bursts (Barabási, Nature 2005). Output is the
    * half-unit histogram of users by F with the user count and event
    * mass per bucket — bounded rows, and the bucket ≥ 3 tail IS the
    * investigation list's size.
    *
    * Exactness: INTEGER-EXACT end to end — with T events over a
    * span-day calendar, F = (span·Σn² − T²)/(span·T), so fano_micro
    * is one positive integer floor-division (Cauchy–Schwarz gives
    * span·Σn² ≥ T², so the numerator is never negative — no signed
    * floor asymmetry). No doubles anywhere. Long headroom:
    * 10⁶·span·Σn² exact to ~10⁶ events/user-day at a 10⁴-day span
    * (documented ceiling; DuckDB's BIGINT multiply errors identically
    * past it, no silent wrap).
    *
    * Scale shape: one (user, day) partial-agg'd Exchange, one (user)
    * partial-agg'd Exchange (both map-side combined), then the
    * histogram aggregate over user-cardinality rows; the one-row
    * totals broadcast (whitelisted BNLJ). Nothing corpus-sized past
    * the first Exchange.
    */
  def qFano(spark: SparkSession, dir: String): DataFrame =
    fanoCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def fanoCensus(ev: DataFrame): DataFrame = {
    val daily = ev.select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy("user_id", "day").agg(count(lit(1)).as("n"))
    val per = daily.groupBy("user_id")
      .agg(sum("n").as("t"), sum(col("n") * col("n")).as("sq"),
        (datediff(max("day"), min("day")) + 1).cast("long").as("span"))
      .select(col("t"),
        expr("(1000000 * (span * sq - t * t)) div (span * t)")
          .as("fano_micro"))
    // the summary derives from the BUCKET CENSUS, not a second pass
    // over the user relation (max fano rides each bucket and reduces
    // over census rows) — events are scanned exactly once
    val census = per
      .select((expr("fano_micro div 500000") * lit(500000L))
          .as("bucket_lo_micro"), col("t"), col("fano_micro"))
      .groupBy("bucket_lo_micro")
      .agg(count(lit(1)).as("n_users"), sum("t").as("n_events"),
        max("fano_micro").as("bucket_max"))
      .transform(Materialize.shared) // bucket-cardinality rows; two consumers
    val tot = census.agg(sum("n_users").as("n_users_total"),
      max("bucket_max").as("fano_max_micro"))
    census
      .crossJoin(broadcast(tot))
      .select(col("bucket_lo_micro"), col("n_users"), col("n_events"),
        col("n_users_total"), col("fano_max_micro"))
      .orderBy("bucket_lo_micro")
  }

  private val fanoOracle =
    s"""$evCte,
       |daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM ev GROUP BY 1, 2),
       |per AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS t,
       |    CAST((1000000 * (
       |        (date_diff('day', min(day), max(day)) + 1) * sum(n * n)
       |        - sum(n) * sum(n)))
       |      // ((date_diff('day', min(day), max(day)) + 1) * sum(n))
       |      AS BIGINT) AS fano_micro
       |  FROM daily GROUP BY user_id),
       |tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_users_total,
       |    CAST(max(fano_micro) AS BIGINT) AS fano_max_micro
       |  FROM per)
       |SELECT CAST((fano_micro // 500000) * 500000 AS BIGINT)
       |    AS bucket_lo_micro,
       |  CAST(count(*) AS BIGINT) AS n_users,
       |  CAST(sum(t) AS BIGINT) AS n_events,
       |  n_users_total, fano_max_micro
       |FROM per, tot GROUP BY 1, 4, 5 ORDER BY 1""".stripMargin

  // --------------------------- Hill tail-index estimator (R56)

  /** R56: Hill estimator of the power-law tail index over the per-user
    * activity distribution (Hill 1975) — the single number that says
    * HOW HEAVY the heavy tail is, where R24's Lorenz/Gini says how
    * UNEQUAL the mass is and R55's Fano says WHO is bursty: α̂ ≈ 1
    * means the top users dominate so hard that capacity planning,
    * skew-join salting (R15), and per-user rate limits are all
    * top-k problems; α̂ > 2 means finite variance and the mean is
    * trustworthy. Estimator: α̂⁻¹ = (1/k)·Σᵢ₌₁..k ln(x₍ᵢ₎/x₍ₖ₊₁₎)
    * over the k largest per-user counts against the (k+1)-th — the
    * conditional MLE on the tail exceedances, and EXACTLY the V45 LID
    * MLE with "distance from the query" replaced by "rank in the
    * activity order" (Hill and Levina–Bickel are the same estimator;
    * the cross-reference is the point).
    *
    * Exactness: per-user counts exact integers; each term is a
    * micro-floored ln of a ratio of EXACT INTEGERS; the reduction is
    * an INTEGER sum; α̂_micro = (k·10¹²) div Σ — one positive integer
    * floor-division (x₍ᵢ₎ ≥ x₍ₖ₊₁₎ keeps every term ≥ 0). A degenerate
    * tail (all k counts equal to the threshold — Σ = 0, α̂ → ∞) reads
    * the 0 sentinel, mirroring V45's uniform-shell convention.
    *
    * Scale shape: one (user) partial-agg'd Exchange; the top-(k+1)
    * cut is a bounded rank filter over user-cardinality rows (k + 1
    * rows survive); every later relation is one-row and broadcasts
    * (whitelisted BNLJ). Nothing corpus-sized past the first
    * Exchange.
    */
  val HillK = 64L

  def qHill(spark: SparkSession, dir: String): DataFrame =
    hillCensus(events(spark, dir), HillK)

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def hillCensus(ev: DataFrame, kMax: Long): DataFrame = {
    // the user census feeds two consumers (the total and the top cut)
    // — cache the reduced relation so events are scanned once
    val per = ev.groupBy("user_id").agg(count(lit(1)).as("x"))
      .transform(Materialize.cached)
    val nt = per.agg(count(lit(1)).as("n_users"))
    // the top-(kMax+1) cut is a bounded TakeOrdered (kMax is static),
    // NOT a global-sort window over the whole user relation; the rank
    // window then runs over ≤ kMax+1 rows
    val w = Window.orderBy(col("x").desc, col("user_id"))
    val rk = per.orderBy(col("x").desc, col("user_id"))
      .limit(kMax.toInt + 1)
      .select(col("x"), row_number().over(w).cast("long").as("rn"))
      .crossJoin(broadcast(nt))
      .withColumn("k", least(lit(kMax), col("n_users") - 1L))
      .transform(Materialize.shared)
    val thr = rk.filter(col("rn") === col("k") + 1L)
      .select(col("x").as("xk1"), col("k"), col("n_users"))
    val sums = rk.filter(col("rn") <= col("k"))
      .crossJoin(broadcast(thr.select("xk1")))
      .select(micro(log(col("x").cast("double") / col("xk1"))).as("t"))
      .agg(coalesce(sum("t"), lit(0L)).as("sum_ln"))
    thr.crossJoin(broadcast(sums))
      .select(col("n_users"), col("k").as("k_used"), col("xk1"),
        col("sum_ln"))
      .withColumn("alpha_micro",
        when(col("sum_ln") > 0,
          expr("(k_used * 1000000 * 1000000) div sum_ln"))
          .otherwise(lit(0L)))
  }

  private val hillOracle = {
    val term = microSql("ln(CAST(r.x AS DOUBLE) / thr.xk1)")
    s"""$evCte,
       |per AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS x
       |  FROM ev GROUP BY 1),
       |rk AS (
       |  SELECT x, CAST(row_number() OVER (ORDER BY x DESC, user_id)
       |    AS BIGINT) AS rn
       |  FROM per),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM per),
       |kk AS (SELECT CAST(least($HillK, n_users - 1) AS BIGINT) AS k
       |       FROM nt),
       |thr AS (SELECT CAST(r.x AS BIGINT) AS xk1
       |        FROM rk r, kk WHERE r.rn = kk.k + 1),
       |s AS (SELECT CAST(coalesce(sum($term), 0) AS BIGINT) AS sum_ln
       |      FROM rk r, kk, thr WHERE r.rn <= kk.k)
       |SELECT nt.n_users, kk.k AS k_used, thr.xk1, s.sum_ln,
       |  CASE WHEN s.sum_ln > 0
       |       THEN (kk.k * 1000000 * 1000000) // s.sum_ln
       |       ELSE CAST(0 AS BIGINT) END AS alpha_micro
       |FROM nt, kk, thr, s""".stripMargin
  }

  // ------------------------------------------------ Cramér's V (R50)

  /** R50: Cramér's V between order status and order priority — the
    * single-number association STRENGTH for a categorical pair, the
    * effect-size companion of R29's per-cell chi census (R29 says
    * WHICH cells deviate from independence; this says HOW MUCH the
    * two columns are coupled overall, normalized to [0, 1] so the
    * answer is comparable across tables and scales — Cramér 1946).
    * The contingency grid is the FULL levels×levels cross product
    * (observed levels only), so zero cells contribute their expected
    * mass — a census over observed cells alone understates chi² and
    * breaks the V = 1 perfect-association anchor (spec-pinned).
    *
    * Exactness: cell counts and marginals exact integers; each cell's
    * chi term is ONE micro-floored double tree ((n − e)²/e with
    * e = (rt·ct as double)/t — the product promotes to double BEFORE
    * multiplying, so no Long product can overflow), and chi² is the
    * INTEGER sum of the per-cell micro floors — deterministic because
    * no double ever crosses an aggregation boundary (the q_anova_dow
    * rule, achieved here by flooring before summing; the quantization
    * error is < #cells micro-units, identical on both engines).
    * V = sqrt(chi²/1e6/t/(min(r,c)−1)) — a division chain of exact
    * operands + IEEE sqrt. Long headroom on the chi² sum: ≤ ~2·10⁶·t,
    * exact to t ≈ 4.6·10¹² rows.
    *
    * Scale shape: one (a, b) partial-agg Exchange; the grid is
    * levels², marginals and totals census-over-census; everything
    * after the first aggregation is ≤ r·c rows; the one-row level
    * relations broadcast (whitelisted BNLJ).
    */
  def qCramersV(spark: SparkSession, dir: String): DataFrame =
    cramersV(Tables.orders(spark, dir)
      .select(col("o_orderstatus").as("a"),
        col("o_orderpriority").as("b")))

  /** The census over any two-category frame — factored for the spec. */
  def cramersV(pairs: DataFrame): DataFrame = {
    val cells = pairs.groupBy("a", "b").agg(count(lit(1)).as("n"))
    val la = cells.select("a").distinct()
    val lb = cells.select("b").distinct()
    val grid = la.crossJoin(broadcast(lb))
      .join(cells, Seq("a", "b"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val ra = cells.groupBy("a").agg(sum("n").as("rt"))
    val cb = cells.groupBy("b").agg(sum("n").as("ct"))
    val lv = cells.agg(countDistinct(col("a")).as("r_levels"),
      countDistinct(col("b")).as("c_levels"), sum("n").as("t"))
    val e = (col("rt").cast("double") * col("ct")) / col("t")
    val chi = grid.join(ra, Seq("a")).join(cb, Seq("b"))
      .crossJoin(broadcast(lv))
      .select(micro((col("n") - e) * (col("n") - e) / e).as("cm"))
      .agg(coalesce(sum("cm"), lit(0L)).as("chi2_micro"))
    val k = least(col("r_levels"), col("c_levels")) - 1
    val v = sqrt(col("chi2_micro") / lit(1000000.0) / col("t") / k)
    lv.crossJoin(broadcast(chi))
      .select(col("r_levels"), col("c_levels"), col("t").as("n_total"),
        col("chi2_micro"),
        when(col("t") > 0 && k > 0, micro(v)).otherwise(lit(0L))
          .as("v_micro"))
  }

  private val cramersVOracle = {
    val e = "(CAST(rt AS DOUBLE) * ct) / t"
    val v = "sqrt(chi2_micro / 1000000.0 / t / " +
      "(least(r_levels, c_levels) - 1))"
    s"""WITH cells AS (
       |  SELECT o_orderstatus AS a, o_orderpriority AS b,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM orders GROUP BY 1, 2),
       |grid AS (
       |  SELECT la.a, lb.b, coalesce(c.n, 0) AS n
       |  FROM (SELECT DISTINCT a FROM cells) la
       |  CROSS JOIN (SELECT DISTINCT b FROM cells) lb
       |  LEFT JOIN cells c USING (a, b)),
       |ra AS (SELECT a, CAST(sum(n) AS BIGINT) AS rt
       |       FROM cells GROUP BY 1),
       |cb AS (SELECT b, CAST(sum(n) AS BIGINT) AS ct
       |       FROM cells GROUP BY 1),
       |lv AS (SELECT CAST(count(DISTINCT a) AS BIGINT) AS r_levels,
       |         CAST(count(DISTINCT b) AS BIGINT) AS c_levels,
       |         CAST(sum(n) AS BIGINT) AS t
       |       FROM cells),
       |chi AS (
       |  SELECT CAST(coalesce(sum(
       |    ${microSql(s"(g.n - $e) * (g.n - $e) / ($e)")}), 0)
       |    AS BIGINT) AS chi2_micro
       |  FROM grid g JOIN ra USING (a) JOIN cb USING (b), lv)
       |SELECT r_levels, c_levels, t AS n_total, chi2_micro,
       |  CASE WHEN t > 0 AND least(r_levels, c_levels) > 1
       |       THEN ${microSql(v)} ELSE CAST(0 AS BIGINT) END AS v_micro
       |FROM lv, chi""".stripMargin
  }

  // -------------------------------------------- Kendall tau-b (R51)

  /** R51: Kendall tau-b between the daily event volume and the daily
    * distinct-user count — the nonparametric rank correlation of TWO
    * series that R49 specializes to series-vs-time (Mann-Kendall IS
    * Kendall tau against the calendar; Kendall 1945 for the tie-aware
    * tau-b). The question it answers that R48's Pearson-style moments
    * cannot: does volume RANK-track audience size (growth = more
    * users), or is volume moving independently of reach (bots, retry
    * storms, a heavy-user subpopulation) — monotone but nonlinear
    * coupling reads high here and diluted in Pearson r.
    *
    * Exactness: concordant/discordant/tie counts are exact integers
    * off sign products in {−1, 0, 1}; tau-b is ONE micro-floored
    * double tree (C − D)/sqrt(((n0 − tx)·1.0)·(n0 − ty)) — the tie
    * factors promote to double BEFORE multiplying (no Long product;
    * n0 ≈ days²/2 so the Long product would hold to ~3·10⁹
    * days anyway, but the promotion removes the ceiling). Degenerate
    * (all-tied either axis) guards to 0.
    *
    * Scale shape: the CALENDAR-BOUNDED daily-census self-join (the
    * R44/R49 shape — days², never events²); the distinct-user count
    * is one partial-agg'd (day, user) pre-aggregation feeding the
    * census; the tie relations and one-row aggregates broadcast
    * (whitelisted BNLJ).
    */
  def qKendallTau(spark: SparkSession, dir: String): DataFrame =
    kendallTauCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the spec. */
  def kendallTauCensus(ev: DataFrame): DataFrame = {
    val daily = ev.select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy("day").agg(count(lit(1)).as("x"),
        countDistinct(col("user_id")).as("y"))
    val a = daily.select(col("day").as("d1"), col("x").as("x1"),
      col("y").as("y1"))
    val b = daily.select(col("day").as("d2"), col("x").as("x2"),
      col("y").as("y2"))
    val sx = when(col("x2") > col("x1"), 1).when(col("x2") < col("x1"), -1)
      .otherwise(0)
    val sy = when(col("y2") > col("y1"), 1).when(col("y2") < col("y1"), -1)
      .otherwise(0)
    val cd = a.join(b, col("d2") > col("d1"))
      .select((sx * sy).as("s"))
      .agg(coalesce(sum(when(col("s") === 1, 1L).otherwise(0L)), lit(0L))
          .as("concordant"),
        coalesce(sum(when(col("s") === -1, 1L).otherwise(0L)), lit(0L))
          .as("discordant"))
    def tiePairs(c: String) = daily.groupBy(c).agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(expr("t * (t - 1) div 2")), lit(0L)))
    val tx = tiePairs("x").toDF("tx")
    val ty = tiePairs("y").toDF("ty")
    val nd = daily.agg(count(lit(1)).as("n_days"))
    val n0 = expr("n_days * (n_days - 1) div 2")
    val tb = (col("concordant") - col("discordant")) /
      sqrt(((col("n0") - col("tx")).cast("double")) *
        (col("n0") - col("ty")))
    nd.crossJoin(broadcast(cd)).crossJoin(broadcast(tx))
      .crossJoin(broadcast(ty))
      .withColumn("n0", n0)
      .select(col("n_days"), col("n0"), col("concordant"),
        col("discordant"), col("tx"), col("ty"),
        when(col("n0") > col("tx") && col("n0") > col("ty"), micro(tb))
          .otherwise(lit(0L)).as("taub_micro"))
  }

  private val kendallTauOracle = {
    val tb = "(concordant - discordant) / " +
      "sqrt(CAST(n0 - tx AS DOUBLE) * (n0 - ty))"
    s"""$evCte,
       |daily AS (
       |  SELECT CAST(ts AS DATE) AS day,
       |    CAST(count(*) AS BIGINT) AS x,
       |    CAST(count(DISTINCT user_id) AS BIGINT) AS y
       |  FROM ev GROUP BY 1),
       |cd AS (
       |  SELECT
       |    CAST(coalesce(sum(CASE WHEN
       |      (CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END)
       |      * (CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0
       |         END) = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS concordant,
       |    CAST(coalesce(sum(CASE WHEN
       |      (CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END)
       |      * (CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0
       |         END) = -1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS discordant
       |  FROM daily a JOIN daily b ON b.day > a.day),
       |tx AS (SELECT CAST(coalesce(sum(t * (t - 1) // 2), 0) AS BIGINT)
       |         AS tx
       |       FROM (SELECT count(*) AS t FROM daily GROUP BY x)),
       |ty AS (SELECT CAST(coalesce(sum(t * (t - 1) // 2), 0) AS BIGINT)
       |         AS ty
       |       FROM (SELECT count(*) AS t FROM daily GROUP BY y)),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
       |         CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS n0
       |       FROM daily)
       |SELECT n_days, n0, concordant, discordant, tx, ty,
       |  CASE WHEN n0 > tx AND n0 > ty THEN ${microSql(tb)}
       |       ELSE CAST(0 AS BIGINT) END AS taub_micro
       |FROM nd, cd, tx, ty""".stripMargin
  }

  // -------------------------------------- weekday ANOVA / eta² (R47)

  /** R47: weekday seasonality STRENGTH — the one-way-ANOVA variance
    * decomposition of the daily volume series by day-of-week:
    * η² = SS_between/SS_total, the share of daily-volume variance the
    * weekday alone explains. R29 (chi) asks "is weekday seasonality
    * statistically there?"; R39's lag-7 asks "does it persist?"; this
    * asks the modeling question — "how MUCH of the variance does a
    * weekly term buy?" (η² ≈ 0 says drop the term however significant
    * the chi was at scale).
    *
    * Exactness: the weekday key is fixed 1..7, so the 7 groups PIVOT
    * into one row (conditional aggregation) and η² is ONE row-level
    * double tree with an explicit literal association chain
    * ((s1²/m1 + s2²/m2) + …) — no double ever crosses an aggregation,
    * so cross-engine summation order cannot exist. Empty weekdays
    * contribute a guarded 0 term. All inputs are exact integer counts.
    *
    * Scale shape: ONE (day) partial-agg Exchange builds the daily
    * census; the pivot is a single 1-row aggregation over the
    * calendar-bounded census; everything else is row-level arithmetic.
    */
  def qAnovaDow(spark: SparkSession, dir: String): DataFrame =
    anovaDowCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec. Weekday numbering: dayofweek (1 = Sunday),
    * identical in DuckDB via dayofweek(day) + 1.
    */
  def anovaDowCensus(ev: DataFrame): DataFrame = {
    val daily = ev.select(to_date(col("ts")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
      .select(dayofweek(col("day")).cast("long").as("g"), col("n"))
    val aggs = (1 to 7).flatMap { g =>
      Seq(sum(when(col("g") === g, 1L).otherwise(0L)).as(s"m$g"),
        sum(when(col("g") === g, col("n")).otherwise(0L)).as(s"s$g"))
    } ++ Seq(count(lit(1)).as("d_days"), sum("n").as("t_events"),
      sum(col("n") * col("n")).as("ssq"))
    val row = daily.agg(aggs.head, aggs.tail: _*)
    // ((s1²/m1 + s2²/m2) + …): literal association chain, guarded.
    // Moment products (s_g², t_events²) are promoted to double BEFORE
    // multiplying — as Longs they overflow past ~3e9 total events and
    // Spark would wrap silently while DuckDB errors. They only feed
    // double ratios; both engines round the IEEE product identically.
    // Mirrored in anovaDowOracle.
    val between = (1 to 7).map(g =>
        when(col(s"m$g") > 0,
          (col(s"s$g").cast("double") * col(s"s$g").cast("double")) /
            col(s"m$g")).otherwise(lit(0.0)))
      .reduceLeft(_ + _)
    val grand = (col("t_events").cast("double") *
      col("t_events").cast("double")) / col("d_days")
    row
      .withColumn("eta2_micro",
        when(col("ssq") - grand > 0,
          micro((between - grand) / (col("ssq") - grand)))
          .otherwise(lit(0L)))
      .select(col("d_days") +: col("t_events") +: col("ssq") +:
        ((1 to 7).flatMap(g => Seq(col(s"m$g"), col(s"s$g"))) :+
          col("eta2_micro")): _*)
  }

  private val anovaDowOracle = {
    val aggs = (1 to 7).flatMap(g => Seq(
      s"CAST(sum(CASE WHEN g = $g THEN 1 ELSE 0 END) AS BIGINT) AS m$g",
      s"CAST(sum(CASE WHEN g = $g THEN n ELSE 0 END) AS BIGINT) AS s$g"))
      .mkString(",\n    ")
    val between = (1 to 7).map(g =>
      s"(CASE WHEN m$g > 0 THEN (CAST(s$g AS DOUBLE) * " +
        s"CAST(s$g AS DOUBLE)) / m$g ELSE 0.0 END)")
      .reduceLeft((a, b) => s"($a + $b)")
    val grand =
      "(CAST(t_events AS DOUBLE) * CAST(t_events AS DOUBLE)) / d_days"
    s"""$evCte,
       |daily AS (
       |  SELECT CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS g,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM ev GROUP BY CAST(ts AS DATE)),
       |p AS (
       |  SELECT $aggs,
       |    CAST(count(*) AS BIGINT) AS d_days,
       |    CAST(sum(n) AS BIGINT) AS t_events,
       |    CAST(sum(n * n) AS BIGINT) AS ssq
       |  FROM daily)
       |SELECT d_days, t_events, ssq,
       |  ${(1 to 7).flatMap(g => Seq(s"m$g", s"s$g")).mkString(", ")},
       |  CASE WHEN ssq - $grand > 0
       |       THEN ${microSql(s"($between - $grand) / (ssq - $grand)")}
       |       ELSE CAST(0 AS BIGINT) END AS eta2_micro
       |FROM p""".stripMargin
  }

  // ------------------------------------------------- gap census (R46)

  /** R46: calendar-gap / data-completeness audit — the "did the feed
    * actually deliver every day" check that runs BEFORE any of the
    * daily-series analytics (R24/R32/R38/R39/R44 all consume the daily
    * census; R39 documents that gap days silently DROP pairs — this
    * query is where a pipeline finds out it has gap days at all).
    * Output: the gap-length histogram (one row per distinct gap
    * length) with the summary carried on every row (active days, span,
    * coverage ppm) — a complete feed reads one (0, 0, …, 10⁶) row.
    *
    * Exactness: all integers — calendar-day arithmetic (datediff on
    * DATE), counts, one positive integer division for coverage.
    *
    * Scale shape: ONE distinct-day partial-agg Exchange builds the
    * census; the lag window and histogram run over the CALENDAR-
    * bounded census; the one-row summary broadcasts into the ≤ span
    * histogram rows.
    */
  def qGapCensus(spark: SparkSession, dir: String): DataFrame =
    gapCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def gapCensus(ev: DataFrame): DataFrame = {
    val daily = ev.select(to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy(lit(0)).orderBy(col("day"))
    val gaps = daily
      .withColumn("prev", lag(col("day"), 1).over(w))
      .withColumn("gap_len",
        (datediff(col("day"), col("prev")) - 1).cast("long"))
      .filter(col("gap_len") > 0)
      .groupBy("gap_len").agg(count(lit(1)).as("n_gaps"))
    val s = daily
      .agg(count(lit(1)).as("n_days"), min("day").as("d0"),
        max("day").as("d1"))
      .select(col("n_days"),
        (datediff(col("d1"), col("d0")) + 1).cast("long")
          .as("span_days"))
      .withColumn("coverage_ppm",
        expr("(1000000 * n_days) div span_days"))
    s.join(gaps, lit(true), "left")
      .select(coalesce(col("gap_len"), lit(0L)).as("gap_len"),
        coalesce(col("n_gaps"), lit(0L)).as("n_gaps"),
        col("n_days"), col("span_days"), col("coverage_ppm"))
      .orderBy("gap_len")
  }

  private val gapCensusOracle =
    s"""$evCte,
       |daily AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM ev),
       |g AS (
       |  SELECT CAST(day - lag(day) OVER (ORDER BY day) - 1 AS BIGINT)
       |    AS gap_len
       |  FROM daily),
       |hist AS (
       |  SELECT gap_len, CAST(count(*) AS BIGINT) AS n_gaps
       |  FROM g WHERE gap_len > 0 GROUP BY 1),
       |s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_days,
       |    CAST(max(day) - min(day) + 1 AS BIGINT) AS span_days,
       |    (1000000 * CAST(count(*) AS BIGINT))
       |      // CAST(max(day) - min(day) + 1 AS BIGINT) AS coverage_ppm
       |  FROM daily)
       |SELECT COALESCE(h.gap_len, 0) AS gap_len,
       |  COALESCE(h.n_gaps, 0) AS n_gaps,
       |  s.n_days, s.span_days, s.coverage_ppm
       |FROM s LEFT JOIN hist h ON true
       |ORDER BY gap_len""".stripMargin

  // ------------------------------------------------ Benford audit (R45)

  /** floor(10⁶·log10(1 + 1/d)) for d = 1..9 — INTEGER LITERALS shared
    * verbatim with the oracle (the q_ndcg discount discipline: neither
    * engine evaluates a transcendental).
    */
  val BenfordExpPpm: Seq[(Int, Long)] = Seq(
    1 -> 301029L, 2 -> 176091L, 3 -> 124938L, 4 -> 96910L,
    5 -> 79181L, 6 -> 66946L, 7 -> 57991L, 8 -> 51152L, 9 -> 45757L)

  /** Nigrini MAD conformity thresholds, in ppm. */
  val BenfordMadCuts: Seq[(Long, String)] = Seq(
    2200L -> "close", 6100L -> "acceptable", 12000L -> "marginal")

  /** R45: Benford first-digit audit over order totals — the
    * fabricated-data / broken-feed detector accounting forensics
    * standardized (Nigrini): naturally occurring multi-scale amounts
    * follow P(d) = log10(1 + 1/d); a generator that draws uniforms, a
    * clamped feed, or a copy-paste batch shows up as first-digit mass
    * in the wrong cells long before any distribution test on the full
    * values. Output: per-digit observed vs expected ppm, the signed
    * deviation, and the Nigrini MAD conformity statistic + verdict
    * label (the same on all 9 rows — the census IS the report).
    *
    * Exactness: ALL integers end to end — cents = round(100·price)
    * (the money discipline), first digit via string head of a positive
    * integer, observed ppm one positive integer division, expected ppm
    * are the [[BenfordExpPpm]] literals, MAD = Σ|dev| div 9. No
    * doubles anywhere, so nothing can drift.
    *
    * Scale shape: ONE (digit, partial) agg Exchange — nine groups,
    * map-side combined; the 9-row expectation grid and one-row total
    * broadcast; everything downstream is 9 rows.
    */
  def qBenford(spark: SparkSession, dir: String): DataFrame =
    benfordCensus(Tables.orders(spark, dir)
      .select(col("o_totalprice").as("amount")))

  /** The census over any (amount: double > 0) frame — factored for the
    * hand-computed spec.
    */
  def benfordCensus(amounts: DataFrame): DataFrame = {
    val spark = amounts.sparkSession
    import spark.implicits._
    val cen = amounts
      .select(substring(round(col("amount") * 100).cast("long")
        .cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("obs"))
    val grid = BenfordExpPpm.map { case (d, e) => (d.toLong, e) }
      .toDF("digit", "exp_ppm")
    val tot = cen.agg(sum("obs").as("n"))
    val d = grid.join(cen, Seq("digit"), "left")
      .withColumn("obs", coalesce(col("obs"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("obs_ppm", expr("(1000000 * obs) div n"))
      .withColumn("dev_ppm", col("obs_ppm") - col("exp_ppm"))
    val wAll = Window.partitionBy(lit(0))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    d.withColumn("mad_ppm",
        (sum(abs(col("dev_ppm"))).over(wAll)).cast("long"))
      .withColumn("mad_ppm", expr("mad_ppm div 9"))
      .withColumn("conformity",
        when(col("mad_ppm") < BenfordMadCuts(0)._1,
          lit(BenfordMadCuts(0)._2))
          .when(col("mad_ppm") < BenfordMadCuts(1)._1,
            lit(BenfordMadCuts(1)._2))
          .when(col("mad_ppm") < BenfordMadCuts(2)._1,
            lit(BenfordMadCuts(2)._2))
          .otherwise(lit("nonconforming")))
      .select("digit", "obs", "n", "obs_ppm", "exp_ppm", "dev_ppm",
        "mad_ppm", "conformity")
      .orderBy("digit")
  }

  private val benfordOracle = {
    val grid = BenfordExpPpm.map { case (d, e) => s"($d, $e)" }
      .mkString(", ")
    s"""WITH cen AS (
       |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
       |      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
       |    CAST(count(*) AS BIGINT) AS obs
       |  FROM orders GROUP BY 1),
       |g AS (SELECT CAST(digit AS BIGINT) AS digit,
       |        CAST(exp_ppm AS BIGINT) AS exp_ppm
       |      FROM (VALUES $grid) v(digit, exp_ppm)),
       |tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cen),
       |d AS (
       |  SELECT g.digit, COALESCE(cen.obs, 0) AS obs, tot.n,
       |    (1000000 * COALESCE(cen.obs, 0)) // tot.n AS obs_ppm,
       |    g.exp_ppm,
       |    (1000000 * COALESCE(cen.obs, 0)) // tot.n - g.exp_ppm
       |      AS dev_ppm
       |  FROM g LEFT JOIN cen USING (digit), tot),
       |m AS (SELECT CAST(sum(abs(dev_ppm)) // 9 AS BIGINT) AS mad_ppm
       |      FROM d)
       |SELECT d.digit, d.obs, d.n, d.obs_ppm, d.exp_ppm, d.dev_ppm,
       |  m.mad_ppm,
       |  CASE WHEN m.mad_ppm < ${BenfordMadCuts(0)._1}
       |         THEN '${BenfordMadCuts(0)._2}'
       |       WHEN m.mad_ppm < ${BenfordMadCuts(1)._1}
       |         THEN '${BenfordMadCuts(1)._2}'
       |       WHEN m.mad_ppm < ${BenfordMadCuts(2)._1}
       |         THEN '${BenfordMadCuts(2)._2}'
       |       ELSE 'nonconforming' END AS conformity
       |FROM d, m ORDER BY d.digit""".stripMargin
  }

  // ---------------------------------------------- Theil–Sen trend (R44)

  /** Offset that makes every slope floor-division operand positive:
    * Spark `div` and DuckDB `//` agree only on non-negative operands,
    * so floor((num + K·den)/den) − K computes the true floor for
    * negative numerators too. K·den stays far below Long range
    * (den ≤ calendar days, num ≤ 10⁶·daily volume).
    */
  val TheilsenOffset = 10000000000000L

  /** R44: Theil–Sen robust trend over the daily event volume — the
    * median of all pairwise slopes (y_j−y_i)/(d_j−d_i), the estimator
    * with a 29.3 % breakdown point that one crawler outage day cannot
    * drag the way it drags least squares (the volume series' R24/R32
    * models assume a trend input somebody sanity-checked; this is the
    * sanity check). The same row carries the OLS slope from the exact
    * power sums, so the robust-vs-LS gap — the outlier influence
    * itself — is measured in-row.
    *
    * Exactness: day index d = day − min(day) (calendar days, exact
    * integers); each pair slope is ONE positive-operand floor division
    * via [[TheilsenOffset]]; medians are lower medians — the VALUE at
    * row_number rank (m+1) div 2 under a fully tie-broken order
    * (slope, d1, d2) / (b, d); the intercept census is integer
    * arithmetic (med_i of 10⁶·y_i − slope·d_i); the OLS slope is one
    * micro-floored division of exact integer moment sums.
    *
    * Scale shape: ONE (day) partial-agg Exchange builds the daily
    * census; the pair relation is the calendar-bounded census
    * self-joined (≤ D²/2 rows where D = distinct days — bounded by
    * the calendar, not the data); both median windows and the moment
    * rollup run over census-sized relations; every join after the
    * census is a broadcast of one-row or D-row relations.
    */
  def qTheilsen(spark: SparkSession, dir: String): DataFrame =
    theilsenCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def theilsenCensus(ev: DataFrame): DataFrame = {
    val k = TheilsenOffset
    val daily = ev.select(to_date(col("ts")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
    val d0 = daily.agg(min("day").as("day0"))
    val idx = daily.crossJoin(broadcast(d0))
      .select(datediff(col("day"), col("day0")).cast("long").as("d"),
        col("n").as("y"))
    val a = idx.select(col("d").as("d1"), col("y").as("y1"))
    val b = idx.select(col("d").as("d2"), col("y").as("y2"))
    val pairs = a.join(b, col("d2") > col("d1"))
      .withColumn("slope_micro",
        expr(s"((1000000 * (y2 - y1) + $k * (d2 - d1)) div (d2 - d1))" +
          s" - $k"))
    val wAllP = Window.partitionBy(lit(0))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wSlope = Window.partitionBy(lit(0))
      .orderBy(col("slope_micro"), col("d1"), col("d2"))
    val slope = pairs
      .withColumn("m", count(lit(1)).over(wAllP))
      .withColumn("rs", row_number().over(wSlope))
      .filter(col("rs") === expr("(m + 1) div 2"))
      .select(col("slope_micro"), col("m").as("n_pairs"))
    val wB = Window.partitionBy(lit(0)).orderBy(col("b"), col("d"))
    val intercept = idx.crossJoin(broadcast(slope))
      .withColumn("b", lit(1000000L) * col("y") -
        col("slope_micro") * col("d"))
      .withColumn("nd", count(lit(1)).over(wAllP))
      .withColumn("rb", row_number().over(wB))
      .filter(col("rb") === expr("(nd + 1) div 2"))
      .select(col("slope_micro"), col("n_pairs"),
        col("b").as("intercept_micro"), col("nd").as("n_days"))
    val moments = idx.agg(max("d").as("d_max"),
      sum("d").as("sd"), sum("y").as("sy"),
      sum(col("d") * col("y")).as("sdy"),
      sum(col("d") * col("d")).as("sdd"),
      count(lit(1)).as("nd2"))
    // OLS moment products (nd2·sdd, sd·sd, nd2·sdy, sd·sy) overflow
    // Long at high daily volumes (Spark wraps silently, DuckDB errors);
    // promote each operand to double BEFORE multiplying — they only
    // feed the one double ratio, and both engines round the IEEE
    // products identically. Mirrored in theilsenOracle.
    def dbl(c: String) = col(c).cast("double")
    intercept.crossJoin(broadcast(moments))
      .withColumn("ols_slope_micro",
        when(dbl("nd2") * dbl("sdd") - dbl("sd") * dbl("sd") > 0,
          micro((dbl("nd2") * dbl("sdy") - dbl("sd") * dbl("sy")) /
            (dbl("nd2") * dbl("sdd") - dbl("sd") * dbl("sd"))))
          .otherwise(lit(0L)))
      .select(col("n_days"), col("n_pairs"), col("slope_micro"),
        col("intercept_micro"), col("ols_slope_micro"),
        (col("slope_micro") * col("d_max") + col("intercept_micro"))
          .as("pred_last_micro"))
  }

  private val theilsenOracle = {
    val k = TheilsenOffset
    s"""$evCte,
       |daily AS (SELECT CAST(ts AS DATE) AS day,
       |            CAST(count(*) AS BIGINT) AS n
       |          FROM ev GROUP BY 1),
       |d0 AS (SELECT min(day) AS day0 FROM daily),
       |idx AS MATERIALIZED (
       |  SELECT CAST(daily.day - d0.day0 AS BIGINT) AS d,
       |         daily.n AS y
       |  FROM daily, d0),
       |p AS (
       |  SELECT a.d AS d1, b.d AS d2, a.y AS y1, b.y AS y2,
       |    ((1000000 * (b.y - a.y) + $k * (b.d - a.d)) // (b.d - a.d))
       |      - $k AS slope_micro
       |  FROM idx a JOIN idx b ON b.d > a.d),
       |sl AS (
       |  SELECT slope_micro, m AS n_pairs FROM (
       |    SELECT slope_micro,
       |      CAST(count(*) OVER () AS BIGINT) AS m,
       |      row_number() OVER (ORDER BY slope_micro, d1, d2) AS rs
       |    FROM p
       |  ) WHERE rs = (m + 1) // 2),
       |ic AS (
       |  SELECT slope_micro, n_pairs, b AS intercept_micro,
       |         nd AS n_days FROM (
       |    SELECT sl.slope_micro, sl.n_pairs,
       |      1000000 * idx.y - sl.slope_micro * idx.d AS b, idx.d,
       |      CAST(count(*) OVER () AS BIGINT) AS nd,
       |      row_number() OVER (
       |        ORDER BY 1000000 * idx.y - sl.slope_micro * idx.d,
       |                 idx.d) AS rb
       |    FROM idx, sl
       |  ) WHERE rb = (nd + 1) // 2),
       |mo AS (
       |  SELECT CAST(max(d) AS BIGINT) AS d_max,
       |    CAST(sum(d) AS BIGINT) AS sd, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(d * y) AS BIGINT) AS sdy,
       |    CAST(sum(d * d) AS BIGINT) AS sdd,
       |    CAST(count(*) AS BIGINT) AS nd2
       |  FROM idx)
       |SELECT ic.n_days, ic.n_pairs, ic.slope_micro,
       |  ic.intercept_micro,
       |  CASE WHEN CAST(mo.nd2 AS DOUBLE) * CAST(mo.sdd AS DOUBLE)
       |            - CAST(mo.sd AS DOUBLE) * CAST(mo.sd AS DOUBLE) > 0
       |       THEN ${microSql(
      "(CAST(mo.nd2 AS DOUBLE) * CAST(mo.sdy AS DOUBLE) - " +
        "CAST(mo.sd AS DOUBLE) * CAST(mo.sy AS DOUBLE)) / " +
        "(CAST(mo.nd2 AS DOUBLE) * CAST(mo.sdd AS DOUBLE) - " +
        "CAST(mo.sd AS DOUBLE) * CAST(mo.sd AS DOUBLE))")}
       |       ELSE CAST(0 AS BIGINT) END AS ols_slope_micro,
       |  ic.slope_micro * mo.d_max + ic.intercept_micro
       |    AS pred_last_micro
       |FROM ic, mo""".stripMargin
  }

  // ------------------------------------------- z-order layout (R40)

  /** R40: zone-map data-skipping audit across three physical layouts —
    * THE 100 TB storage question ("which file layout lets a two-
    * dimensional workload skip the most data?") answered with measured
    * numbers instead of folklore. Rows are bucketed into 64 "files"
    * three ways over the 8-bit (part, supp) key projections:
    * arrival (orderkey mod 64 — insertion-time files, every dimension
    * mixed), part-sorted (p8 div 4 — range files on ONE dimension),
    * and Z-ORDER (top 6 bits of the 16-bit Morton interleave — range
    * files on the space-filling curve). Each bucket's zone map
    * (min/max of both dimensions) is probed with 8 evenly spaced
    * point predicates per dimension; a bucket is scanned iff the
    * probe lands inside its zone. The punchline is the measured
    * asymmetry: single-dim sort skips almost everything on ITS
    * dimension and nothing on the other, Z-order skips ~7/8 on BOTH —
    * the balanced-workload argument for Morton layouts, as data.
    *
    * Exactness: bit extraction is integer div/mod arithmetic (shared
    * term-for-term with the oracle); zones, hits, and row counts are
    * exact integers; scan_ppm is one integer division.
    *
    * Scale shape: NO global sort anywhere — all three layouts bucket
    * by RADIX (a projection), exactly how real writers assign
    * range-files; one (layout, bucket) partial-agg Exchange builds
    * the 192-row zone-map relation, and everything downstream (probe
    * grid, hit census) is census-over-census with the 16-row probe
    * grid broadcast. A deployment materializes the chosen layout with
    * repartitionByRange + sortWithinPartitions; this query is the
    * decision audit that picks it.
    */
  val ZorderBuckets = 64
  val ZorderProbes: Seq[Int] = (0 until 8).map(j => 16 * j + 15)

  /** The 16-bit Morton interleave of two 8-bit keys, as pure integer
    * arithmetic both engines evaluate identically.
    */
  private def mortonExpr(p: String, s: String): String =
    (0 until 8).map(i =>
      s"((($p div ${1L << i}) % 2) * ${1L << (2 * i + 1)}) + " +
        s"((($s div ${1L << i}) % 2) * ${1L << (2 * i)})")
      .mkString(" + ")

  private def mortonSql(p: String, s: String): String =
    (0 until 8).map(i =>
      s"((($p // ${1L << i}) % 2) * ${1L << (2 * i + 1)}) + " +
        s"((($s // ${1L << i}) % 2) * ${1L << (2 * i)})")
      .mkString(" + ")

  def qZorder(spark: SparkSession, dir: String): DataFrame =
    zorderAudit(Tables.lineitem(spark, dir), ZorderProbes)

  /** The audit over any lineitem-shaped frame — factored for the
    * hand-computed spec.
    */
  def zorderAudit(lineitem: DataFrame, probeVals: Seq[Int]): DataFrame = {
    val spark = lineitem.sparkSession
    import spark.implicits._
    val base = lineitem.select(
      (col("l_partkey") % 256).as("p8"),
      (col("l_suppkey") % 256).as("s8"),
      col("l_orderkey"))
      .withColumn("z", expr(mortonExpr("p8", "s8")))
    val tagged = base.selectExpr(
      s"stack(3, 'arrival', l_orderkey % $ZorderBuckets, " +
        "'part_sorted', p8 div 4, " +
        "'zorder', z div 1024) AS (layout, bucket)",
      "p8", "s8")
    val zones = tagged.groupBy("layout", "bucket").agg(
      min("p8").as("min_p"), max("p8").as("max_p"),
      min("s8").as("min_s"), max("s8").as("max_s"),
      count(lit(1)).as("n"))
    val totals = zones.groupBy("layout").agg(
      count(lit(1)).as("buckets_total"), sum("n").as("rows_total"))
    val probes = Seq("part", "supp").flatMap(d =>
      probeVals.map(v => (d, v.toLong))).toDF("dim", "probe")
    val hits = zones.join(broadcast(probes),
      (col("dim") === "part" &&
        col("probe").between(col("min_p"), col("max_p"))) ||
      (col("dim") === "supp" &&
        col("probe").between(col("min_s"), col("max_s"))))
      .groupBy("layout", "dim", "probe")
      .agg(count(lit(1)).as("buckets_hit"),
        sum("n").as("rows_scanned"))
    hits.join(totals, "layout")
      .select(col("layout"), col("dim"), col("probe"),
        col("buckets_hit"), col("buckets_total"), col("rows_scanned"),
        col("rows_total"),
        expr("(1000000 * rows_scanned) div rows_total")
          .as("scan_ppm"))
      .orderBy("layout", "dim", "probe")
  }

  private val zorderOracle = {
    val probeRows = Seq("part", "supp").flatMap(d =>
      ZorderProbes.map(v => s"('$d', CAST($v AS BIGINT))"))
      .mkString(", ")
    s"""WITH base AS (
       |  SELECT l_partkey % 256 AS p8, l_suppkey % 256 AS s8,
       |    l_orderkey, ${mortonSql("l_partkey % 256",
                                    "l_suppkey % 256")} AS z
       |  FROM lineitem
       |),
       |tagged AS (
       |  SELECT 'arrival' AS layout, l_orderkey % $ZorderBuckets
       |    AS bucket, p8, s8 FROM base
       |  UNION ALL
       |  SELECT 'part_sorted', p8 // 4, p8, s8 FROM base
       |  UNION ALL
       |  SELECT 'zorder', z // 1024, p8, s8 FROM base
       |),
       |zones AS (
       |  SELECT layout, bucket, min(p8) AS min_p, max(p8) AS max_p,
       |    min(s8) AS min_s, max(s8) AS max_s,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM tagged GROUP BY 1, 2
       |),
       |tot AS (
       |  SELECT layout, CAST(count(*) AS BIGINT) AS buckets_total,
       |    CAST(sum(n) AS BIGINT) AS rows_total
       |  FROM zones GROUP BY 1
       |),
       |probes(dim, probe) AS (SELECT * FROM (VALUES $probeRows)),
       |hits AS (
       |  SELECT z.layout, p.dim, p.probe,
       |    CAST(count(*) AS BIGINT) AS buckets_hit,
       |    CAST(sum(z.n) AS BIGINT) AS rows_scanned
       |  FROM zones z JOIN probes p
       |    ON (p.dim = 'part' AND p.probe BETWEEN z.min_p AND z.max_p)
       |    OR (p.dim = 'supp' AND p.probe BETWEEN z.min_s AND z.max_s)
       |  GROUP BY 1, 2, 3
       |)
       |SELECT h.layout, h.dim, h.probe, h.buckets_hit,
       |  t.buckets_total, h.rows_scanned, t.rows_total,
       |  (1000000 * h.rows_scanned) // t.rows_total AS scan_ppm
       |FROM hits h JOIN tot t USING (layout)
       |ORDER BY h.layout, h.dim, h.probe""".stripMargin
  }

  // --------------------------------------------------- FK audit (R41)

  /** R41: referential-integrity audit across the star schema — the
    * dbt-test staple ("does every fact row have its dimension row, and
    * which dimension rows are dead?") as one census over all four FK
    * relationships: per relationship, child/parent row counts, child
    * DISTINCT keys, orphan children (FK with no parent — the
    * join-loses-rows bug found BEFORE the join), childless parents
    * (dead dimension rows — the candidates for pruning), and the
    * orphan ppm. On clean TPC-H-shaped data every orphan count reads
    * 0 — the audit's value is that it MEASURES that instead of
    * assuming it.
    *
    * Exactness: pure counts off distinct-key anti/semi joins; ppm is
    * one integer division.
    *
    * Scale shape: each relationship aggregates the child side to its
    * DISTINCT keys first (one partial-agg Exchange over the fact
    * table), so the orphan/childless legs join key relations bounded
    * by dimension cardinality — the fact table is never joined raw;
    * at 100 TB the child distinct is the same pre-aggregate every
    * dimension join already needs.
    */
  def qFkAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val rels = Seq(
      ("lineitem_orders", li.select(col("l_orderkey").as("k")),
        Tables.orders(spark, dir).select(col("o_orderkey").as("k"))),
      ("lineitem_part", li.select(col("l_partkey").as("k")),
        Tables.part(spark, dir).select(col("p_partkey").as("k"))),
      ("lineitem_supplier", li.select(col("l_suppkey").as("k")),
        Tables.supplier(spark, dir).select(col("s_suppkey").as("k"))),
      ("orders_customer",
        Tables.orders(spark, dir).select(col("o_custkey").as("k")),
        Tables.customer(spark, dir).select(col("c_custkey").as("k"))))
    fkAudit(rels)
  }

  /** The audit over any (name, child keys, parent keys) list —
    * factored for the hand-computed spec.
    */
  def fkAudit(rels: Seq[(String, DataFrame, DataFrame)]): DataFrame =
    rels.map { case (name, child, parent) =>
      val ck = child.groupBy("k").agg(count(lit(1)).as("c"))
      val pk = parent.select("k").distinct()
      val tot = child.agg(count(lit(1)).as("n_child"))
      val dk = ck.agg(count(lit(1)).as("n_child_keys"))
      val np = pk.agg(count(lit(1)).as("n_parent"))
      val orphans = ck.join(pk, Seq("k"), "left_anti")
        .agg(coalesce(count(lit(1)), lit(0L)).as("orphan_keys"),
          coalesce(sum("c"), lit(0L)).as("orphan_rows"))
      val childless = pk.join(ck, Seq("k"), "left_anti")
        .agg(coalesce(count(lit(1)), lit(0L)).as("childless_parents"))
      tot.crossJoin(dk).crossJoin(np).crossJoin(orphans)
        .crossJoin(childless)
        .select(lit(name).as("rel"), col("n_child"),
          col("n_child_keys"), col("n_parent"), col("orphan_keys"),
          col("orphan_rows"), col("childless_parents"),
          expr("(1000000 * orphan_rows) div n_child").as("orphan_ppm"))
    }.reduce(_ unionByName _).orderBy("rel")

  private val fkAuditOracle = {
    def relSql(name: String, ck: String, ct: String, pk: String,
               pt: String) =
      s"""SELECT '$name' AS rel, t.n_child, d.n_child_keys, p.n_parent,
         |  o.orphan_keys, o.orphan_rows, cl.childless_parents,
         |  (1000000 * o.orphan_rows) // t.n_child AS orphan_ppm
         |FROM
         |  (SELECT CAST(count(*) AS BIGINT) AS n_child FROM $ct) t,
         |  (SELECT CAST(count(DISTINCT $ck) AS BIGINT) AS n_child_keys
         |   FROM $ct) d,
         |  (SELECT CAST(count(DISTINCT $pk) AS BIGINT) AS n_parent
         |   FROM $pt) p,
         |  (SELECT CAST(COALESCE(count(*), 0) AS BIGINT) AS orphan_keys,
         |     CAST(COALESCE(sum(c), 0) AS BIGINT) AS orphan_rows
         |   FROM (SELECT $ck AS k, count(*) AS c FROM $ct GROUP BY 1) c0
         |   WHERE NOT EXISTS (SELECT 1 FROM $pt WHERE $pk = c0.k)) o,
         |  (SELECT CAST(count(*) AS BIGINT) AS childless_parents
         |   FROM (SELECT DISTINCT $pk AS k FROM $pt) p0
         |   WHERE NOT EXISTS (SELECT 1 FROM $ct WHERE $ck = p0.k)) cl"""
        .stripMargin
    Seq(
      relSql("lineitem_orders", "l_orderkey", "lineitem",
        "o_orderkey", "orders"),
      relSql("lineitem_part", "l_partkey", "lineitem",
        "p_partkey", "part"),
      relSql("lineitem_supplier", "l_suppkey", "lineitem",
        "s_suppkey", "supplier"),
      relSql("orders_customer", "o_custkey", "orders",
        "c_custkey", "customer"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY rel")
  }

  // ----------------------------------------- compaction plan (R42)

  /** R42: number of simulated small files (the key-mod grouping below)
    * and the target rows per compacted file.
    */
  val CompactionFiles = 1024
  val CompactionTarget = 4096L

  /** R42: small-file compaction planning — the OPTIMIZE/compaction
    * command's decision step as an oracled census: given the per-file
    * row census (simulated as l_orderkey mod 1024 — the "thousands of
    * tiny files" state every streaming sink drifts into), assign files
    * to compacted bins by NEXT-FIT over the (rows DESC, file) order:
    * bin = floor(cum_before / target), a pure window computation —
    * deterministic, one pass, and within max-file-size of the target
    * per bin (the classic next-fit bound), vs first-fit-decreasing's
    * sequential state that cannot be expressed as a window. Output =
    * per-bin file count, rows, and fill ppm — the before/after story
    * (1024 files → ~⌈total/target⌉ bins) a compaction job reports.
    *
    * Exactness: all integers; fill_ppm = (10⁶·rows) div target.
    *
    * Scale shape: ONE (file) partial-agg Exchange builds the file
    * census; the planning windows run over that bounded census (files,
    * not rows); actual data movement is the separate rewrite job this
    * plan feeds.
    */
  def qCompaction(spark: SparkSession, dir: String): DataFrame =
    compactionPlan(Tables.lineitem(spark, dir)
      .select((col("l_orderkey") % CompactionFiles).as("file_id")),
      CompactionTarget)

  /** The plan over any (file_id) row stream — factored for the
    * hand-computed spec.
    */
  def compactionPlan(rows: DataFrame, target: Long): DataFrame = {
    val files = rows.groupBy("file_id").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(lit(0))
      .orderBy(col("n").desc, col("file_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files
      .withColumn("cum", sum("n").over(w))
      .withColumn("bin", expr(s"(cum - n) div $target"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_files"), sum("n").as("rows_total"))
      .withColumn("fill_ppm",
        expr(s"(1000000 * rows_total) div $target"))
      .orderBy("bin")
  }

  private val compactionOracle =
    s"""WITH f AS (
       |  SELECT l_orderkey % $CompactionFiles AS file_id,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM lineitem GROUP BY 1
       |),
       |r AS (
       |  SELECT file_id, n,
       |    CAST(sum(n) OVER (ORDER BY n DESC, file_id) AS BIGINT)
       |      AS cum
       |  FROM f
       |)
       |SELECT (cum - n) // $CompactionTarget AS bin,
       |  CAST(count(*) AS BIGINT) AS n_files,
       |  CAST(sum(n) AS BIGINT) AS rows_total,
       |  (1000000 * CAST(sum(n) AS BIGINT)) // $CompactionTarget
       |    AS fill_ppm
       |FROM r GROUP BY 1 ORDER BY bin""".stripMargin

  // ---------------------------------------------- bucket skew (R43)

  /** R43: candidate bucket counts the skew audit is measured at. */
  val SkewBucketCounts: Seq[Int] = Seq(32, 256, 1024)

  /** R43: hash-bucket skew audit — the partition-count decision
    * (shuffle partitions, bucketBy N, file layout) as measured data:
    * for each candidate bucket count, hash the join key (md5, the
    * engine-portable hash) and census the buckets — buckets used,
    * largest bucket, total rows, and the skew ratio max/ideal in ppm
    * (10⁶ = perfectly balanced). Rising skew_ppm with N is how a
    * too-fine bucketing reads BEFORE it becomes stragglers; the
    * salting dial (R15) is the remedy this audit says when to apply.
    *
    * Exactness: counts exact; skew_ppm = (10⁶·max·N) div total.
    *
    * Scale shape: one scan fans out ×|counts| via stack (the R40
    * discipline), one (nb, bucket) partial-agg Exchange bounded by
    * Σ counts buckets; rollups are 3 rows.
    */
  def qBucketSkew(spark: SparkSession, dir: String): DataFrame =
    bucketSkew(Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("k")), SkewBucketCounts)

  /** The audit over any single-key frame — factored for the spec. */
  def bucketSkew(keys: DataFrame, counts: Seq[Int]): DataFrame = {
    val h = Hashing.md5Long(concat(lit("sk:"), col("k").cast("string")))
    val stacked = keys.withColumn("h", h)
      .selectExpr(s"stack(${counts.length}, " +
        counts.map(n => s"$n, h % $n").mkString(", ") +
        ") AS (nb, bucket)")
    val census = stacked.groupBy("nb", "bucket")
      .agg(count(lit(1)).as("n"))
    census.groupBy("nb")
      .agg(count(lit(1)).as("buckets_used"), max("n").as("max_n"),
        sum("n").as("total"))
      .withColumn("skew_ppm",
        expr("(1000000 * max_n * nb) div total"))
      .select(col("nb").cast("long").as("nb"), col("buckets_used"),
        col("max_n"), col("total"), col("skew_ppm"))
      .orderBy("nb")
  }

  private val bucketSkewOracle = {
    val h = Hashing.md5LongSql("'sk:' || CAST(l_partkey AS VARCHAR)")
    val legs = SkewBucketCounts.map(n =>
      s"SELECT $n AS nb, $h % $n AS bucket FROM lineitem")
      .mkString("\nUNION ALL\n")
    s"""WITH st AS (
       |$legs
       |),
       |cen AS (
       |  SELECT nb, bucket, CAST(count(*) AS BIGINT) AS n
       |  FROM st GROUP BY 1, 2
       |)
       |SELECT CAST(nb AS BIGINT) AS nb,
       |  CAST(count(*) AS BIGINT) AS buckets_used,
       |  CAST(max(n) AS BIGINT) AS max_n,
       |  CAST(sum(n) AS BIGINT) AS total,
       |  (1000000 * max(n) * nb) // CAST(sum(n) AS BIGINT) AS skew_ppm
       |FROM cen GROUP BY nb ORDER BY nb""".stripMargin
  }

  // ------------------------------------------------ Welch's t (R59)

  /** Shared statistic trees for [[welchCensus]] — ONE fixed double
    * tree per statistic, interpolated verbatim into both engines (the
    * mannWhitney zSql discipline) so association is identical.
    */
  // divisors floored at 1 via greatest(): an identity wherever the
  // guard admits the row (n >= 2), and it keeps the tree evaluable on
  // degenerate rows — Spark's subexpression elimination hoists the
  // shared variance subtree OUT of the CASE guards, so under ANSI a
  // division by (n-1)=0 would throw even though the guard is false
  // (the mdeCensus spec caught this on its single-user arm).
  private val welchVarA =
    """((CAST(ss_a AS DOUBLE) -
      |  (CAST(sum_a AS DOUBLE) * CAST(sum_a AS DOUBLE)) /
      |   CAST(greatest(n_a, 1) AS DOUBLE)) /
      |  CAST(greatest(n_a - 1, 1) AS DOUBLE))"""
      .stripMargin.replaceAll("\\s+", " ").trim
  private val welchVarB =
    """((CAST(ss_b AS DOUBLE) -
      |  (CAST(sum_b AS DOUBLE) * CAST(sum_b AS DOUBLE)) /
      |   CAST(greatest(n_b, 1) AS DOUBLE)) /
      |  CAST(greatest(n_b - 1, 1) AS DOUBLE))"""
      .stripMargin.replaceAll("\\s+", " ").trim
  private val welchSe2 =
    s"(($welchVarA / CAST(greatest(n_a, 1) AS DOUBLE)) + " +
      s"($welchVarB / CAST(greatest(n_b, 1) AS DOUBLE)))"
  private val welchT =
    s"(((CAST(sum_a AS DOUBLE) / CAST(greatest(n_a, 1) AS DOUBLE)) - " +
      s"(CAST(sum_b AS DOUBLE) / CAST(greatest(n_b, 1) AS DOUBLE))) / " +
      s"sqrt($welchSe2))"
  private val welchDf =
    s"(($welchSe2 * $welchSe2) / " +
      s"((($welchVarA / CAST(greatest(n_a, 1) AS DOUBLE)) * " +
      s"($welchVarA / CAST(greatest(n_a, 1) AS DOUBLE))) / " +
      s"CAST(greatest(n_a - 1, 1) AS DOUBLE) + " +
      s"(($welchVarB / CAST(greatest(n_b, 1) AS DOUBLE)) * " +
      s"($welchVarB / CAST(greatest(n_b, 1) AS DOUBLE))) / " +
      s"CAST(greatest(n_b - 1, 1) AS DOUBLE)))"
  private val welchGuard =
    s"n_a >= 2 AND n_b >= 2 AND $welchSe2 > 0.0"

  /** R59: Welch's unequal-variance t-test per event type — the
    * CONTINUOUS-outcome companion of R33's 2×2 conversion chi² (the
    * other half of every experiment readout: "did users convert" is
    * R33, "did converting users spend MORE" is this): users split into
    * the same deterministic arms (user_id parity — a salted hash
    * bucket in production), each user's outcome is their total event
    * value in cents, and the arms are compared by Welch's t (the
    * unequal-variance form — the default recommendation since Welch
    * 1947/Ruxton 2006, because experiment arms rarely share variance)
    * with the Satterthwaite effective df beside it — |t| ≥ ~1.96 at
    * large df is the same α = 0.05 gate as R33's 3.84 chi² and R34's
    * z. R34 (Mann–Whitney) asks the rank question on event grain;
    * this asks the mean question on USER grain — different unit of
    * randomization, the one experiments actually randomize.
    *
    * Exactness: per-user outcomes are exact integer cents sums; the
    * six census inputs (n, Σx, Σx² per arm) are exact integer
    * aggregates (Σx² exact to ~10⁶-cent users × 10⁶ users/arm — the
    * documented Long-headroom ceiling, DuckDB errors identically past
    * it); arm means are integer micro floor-divisions; t and df are
    * each ONE micro-floored fixed double tree (Σx promoted to double
    * BEFORE squaring, so no Long square forms) interpolated verbatim into
    * both engines. Degenerate arms (n < 2 either side, or zero pooled
    * standard error — identical constant outcomes) read NULL t and df,
    * and the guard compares the IDENTICAL double both engines compute.
    *
    * Scale shape: one (event_type, user) partial-agg'd Exchange (the
    * per-user outcome), one (event_type) partial-agg'd Exchange with
    * map-side combine carrying six integers — the census; everything
    * after is ≤ #event_types rows of scalar arithmetic. No window, no
    * join, no sort until the final census orderBy.
    */
  def qWelchT(spark: SparkSession, dir: String): DataFrame =
    welchCensus(events(spark, dir))

  /** The six-integer per-arm census both R59 and R64 read — one
    * (type, user) Exchange then one (type) Exchange.
    */
  private def welchBase(ev: DataFrame): DataFrame = {
    val m = ev
      .select(col("event_type"), col("user_id"),
        cents(col("value")).as("v"))
      .groupBy("event_type", "user_id").agg(sum("v").as("s"))
      .withColumn("arm", expr("user_id % 2"))
    m.groupBy("event_type")
      .agg(
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 0L, col("s")).otherwise(0L)).as("sum_a"),
        sum(when(col("arm") === 1L, col("s")).otherwise(0L)).as("sum_b"),
        sum(when(col("arm") === 0L, col("s") * col("s")).otherwise(0L))
          .as("ss_a"),
        sum(when(col("arm") === 1L, col("s") * col("s")).otherwise(0L))
          .as("ss_b"))
  }

  /** The test over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def welchCensus(ev: DataFrame): DataFrame = {
    welchBase(ev)
      .select(col("event_type"), col("n_a"), col("n_b"),
        col("sum_a"), col("sum_b"), col("ss_a"), col("ss_b"),
        when(col("n_a") > 0L, expr("(sum_a * 1000000) div n_a"))
          .as("mean_a_micro"),
        when(col("n_b") > 0L, expr("(sum_b * 1000000) div n_b"))
          .as("mean_b_micro"),
        expr(s"CASE WHEN $welchGuard THEN " +
          s"CAST(floor(1000000.0 * $welchT) AS BIGINT) END")
          .as("t_micro"),
        expr(s"CASE WHEN $welchGuard THEN " +
          s"CAST(floor(1000000.0 * $welchDf) AS BIGINT) END")
          .as("df_micro"))
      .orderBy("event_type")
  }

  private val welchOracle =
    s"""$evCte,
       |m AS (
       |  SELECT event_type, user_id,
       |    CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS s
       |  FROM ev GROUP BY 1, 2
       |),
       |cen AS (
       |  SELECT event_type,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_b,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN s ELSE 0 END)
       |         AS BIGINT) AS sum_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN s ELSE 0 END)
       |         AS BIGINT) AS sum_b,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN s * s ELSE 0 END)
       |         AS BIGINT) AS ss_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN s * s ELSE 0 END)
       |         AS BIGINT) AS ss_b
       |  FROM m GROUP BY 1
       |)
       |SELECT event_type, n_a, n_b, sum_a, sum_b, ss_a, ss_b,
       |  CASE WHEN n_a > 0 THEN
       |    CAST((sum_a * 1000000) // n_a AS BIGINT) END AS mean_a_micro,
       |  CASE WHEN n_b > 0 THEN
       |    CAST((sum_b * 1000000) // n_b AS BIGINT) END AS mean_b_micro,
       |  CASE WHEN $welchGuard THEN
       |    CAST(floor(1000000.0 * $welchT) AS BIGINT) END AS t_micro,
       |  CASE WHEN $welchGuard THEN
       |    CAST(floor(1000000.0 * $welchDf) AS BIGINT) END AS df_micro
       |FROM cen ORDER BY event_type""".stripMargin

  // ------------------- family-wise multiple testing (R75)

  /** Acklam's rational approximation of the inverse normal CDF
    * (|relative error| < 1.15·10⁻⁹ — Acklam 2003, the standard
    * dependency-free Φ⁻¹). Used ONLY to precompute the shared literal
    * threshold table [[multTestThrMicro]] — cross-engine exactness
    * never touches it, both engines consume identical integers (the
    * [[graft.operators.SketchQueries]] hllLcTable discipline); the
    * spec pins the generated values against reference quantiles.
    */
  private def invNorm(p: Double): Double = {
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val (plow, phigh) = (0.02425, 1 - 0.02425)
    if (p < plow) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q +
        c(5)) / ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    } else if (p <= phigh) {
      val q = p - 0.5
      val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r +
        a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else {
      val q = math.sqrt(-2 * math.log(1 - p))
      -((((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q +
        c(5)) / ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1))
    }
  }

  /** Family-wise α for R75 (two-sided 0.05 — the R64 convention). */
  val MultTestMaxFamily = 64

  /** Holm divisor → micro z threshold floor(10⁶·Φ⁻¹(1 − 0.025/d)),
    * d = 1..[[MultTestMaxFamily]] — shared verbatim by both engines.
    */
  val multTestThrMicro: IndexedSeq[(Long, Long)] =
    (1 to MultTestMaxFamily).map(d =>
      (d.toLong, math.floor(1e6 * invNorm(1 - 0.025 / d)).toLong))

  def qMultTest(spark: SparkSession, dir: String): DataFrame =
    multTestCensus(events(spark, dir))

  /** R75: Holm–Bonferroni step-down over the event-type test family —
    * the correction every experiment REVIEW applies before believing a
    * dashboard of per-metric tests: at α = 0.05 a 20-metric readout
    * shows one "significant" mover by luck alone, and the fix
    * (Holm 1979 — uniformly more powerful than plain Bonferroni, no
    * independence assumption) is the first thing a metrics platform
    * bolts on top of its per-metric statistics. The family is the
    * event types; the per-type statistic is R59's Welch t (|t| on the
    * large-df normal gate — the R64 convention); ranked by |t|
    * descending, rank i tests against z_{α/(2(k−i+1))} and rejection
    * stops at the first failure (the step-down).
    *
    * Exactness: t_micro is R59's own mirrored tree (shared code);
    * thresholds are SHARED PRECOMPUTED LITERALS ([[multTestThrMicro]]
    * — Φ⁻¹ is not cross-engine reproducible, identical integers are);
    * ranking, divisor arithmetic, threshold compares, and the
    * step-down cumulative AND are all integers. Ties in |t| break on
    * event_type (both engines' ORDER BY).
    *
    * Output: one row per TESTABLE type (NULL-t degenerates are
    * excluded from the family and the readout — they are not tests),
    * with the family size, rank, Holm divisor and threshold, and the
    * three verdicts (naive per-test, Bonferroni, Holm step-down).
    *
    * Scale shape: R59's two Exchanges produce the ≤#event_types
    * census; everything after (window ranks, threshold join, step-down
    * min) runs on census rows — the zipfCensus discipline.
    *
    * Family cap: the precomputed threshold menu stops at
    * [[MultTestMaxFamily]]; a larger family raises a loud execution
    * error (left join + raise_error on the unmatched threshold) rather
    * than silently truncating the readout (ScaleOpsSpec pins the
    * throw at 65 types).
    */
  def multTestCensus(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = ev.sparkSession
    import spark.implicits._
    val thr = multTestThrMicro.toDF("divisor", "thr_micro")
    val t = welchCensus(ev)
      .select(col("event_type"), col("t_micro"))
      .filter(col("t_micro").isNotNull)
      .withColumn("abs_t_micro", abs(col("t_micro")))
    val wRank = Window.orderBy(col("abs_t_micro").desc, col("event_type"))
    val wAll = Window.partitionBy()
    val wCum = Window.orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naiveThr = multTestThrMicro.head._2
    // LEFT joins + raise_error, not inner: an inner join
    // against the 64-row threshold menu would silently DROP the
    // top-ranked rows of a >64-test family (divisor > 64 matches
    // nothing) and empty the whole readout (b.divisor = f.k matches
    // nothing) — and the oracle mirrors the truncation, so parity
    // cannot catch it. A family past the menu is a caller error and
    // must fail loudly at execution, distributed (k is data-dependent;
    // a driver-side require would cost an extra counting job).
    val overflow = raise_error(concat(
      lit("multTestCensus: family size "), col("k").cast("string"),
      lit(s" exceeds MultTestMaxFamily = $MultTestMaxFamily")))
    t.withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("k", count(lit(1)).over(wAll))
      .withColumn("divisor", col("k") - col("rank") + 1L)
      .join(broadcast(thr), Seq("divisor"), "left")
      .join(broadcast(thr.select(col("divisor").as("k"),
        col("thr_micro").as("bonf_thr_micro"))), Seq("k"), "left")
      .withColumn("thr_micro", when(col("thr_micro").isNull,
        overflow.cast("long")).otherwise(col("thr_micro")))
      .withColumn("bonf_thr_micro", when(col("bonf_thr_micro").isNull,
        overflow.cast("long")).otherwise(col("bonf_thr_micro")))
      .withColumn("pass", col("abs_t_micro") >= col("thr_micro"))
      .withColumn("holm_sig",
        min(when(col("pass"), 1L).otherwise(0L)).over(wCum) === 1L)
      .select(col("event_type"), col("k").as("family"), col("rank"),
        col("t_micro"), col("abs_t_micro"), col("divisor"),
        col("thr_micro").as("holm_thr_micro"),
        (col("abs_t_micro") >= naiveThr).as("naive_sig"),
        (col("abs_t_micro") >= col("bonf_thr_micro"))
          .as("bonferroni_sig"),
        col("holm_sig"))
      .orderBy("rank")
  }

  private val multTestOracle = {
    val thrRows = multTestThrMicro
      .map { case (d, t) => s"($d, CAST($t AS BIGINT))" }
      .mkString(", ")
    val naiveThr = multTestThrMicro.head._2
    s"""$evCte,
       |m AS (
       |  SELECT event_type, user_id,
       |    CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS s
       |  FROM ev GROUP BY 1, 2
       |),
       |cen AS (
       |  SELECT event_type,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_b,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN s ELSE 0 END)
       |         AS BIGINT) AS sum_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN s ELSE 0 END)
       |         AS BIGINT) AS sum_b,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN s * s ELSE 0 END)
       |         AS BIGINT) AS ss_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN s * s ELSE 0 END)
       |         AS BIGINT) AS ss_b
       |  FROM m GROUP BY 1
       |),
       |tt AS (
       |  SELECT event_type,
       |    CASE WHEN $welchGuard THEN
       |      CAST(floor(1000000.0 * $welchT) AS BIGINT) END AS t_micro
       |  FROM cen
       |),
       |f AS (
       |  SELECT event_type, t_micro, abs(t_micro) AS abs_t_micro,
       |    CAST(row_number() OVER (ORDER BY abs(t_micro) DESC,
       |      event_type) AS BIGINT) AS rank,
       |    CAST(count(*) OVER () AS BIGINT) AS k
       |  FROM tt WHERE t_micro IS NOT NULL
       |),
       |thr(divisor, thr_micro) AS (SELECT * FROM (VALUES $thrRows)),
       |g AS (
       |  SELECT f.*, f.k - f.rank + 1 AS divisor, h.thr_micro,
       |    b.thr_micro AS bonf_thr_micro,
       |    CASE WHEN f.abs_t_micro >= h.thr_micro THEN 1 ELSE 0 END
       |      AS pass
       |  FROM f JOIN thr h ON h.divisor = f.k - f.rank + 1
       |         JOIN thr b ON b.divisor = f.k
       |)
       |SELECT event_type, k AS family, rank, t_micro, abs_t_micro,
       |  divisor, thr_micro AS holm_thr_micro,
       |  abs_t_micro >= $naiveThr AS naive_sig,
       |  abs_t_micro >= bonf_thr_micro AS bonferroni_sig,
       |  min(pass) OVER (ORDER BY rank
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
       |    AS holm_sig
       |FROM g ORDER BY rank""".stripMargin
  }

  // ---------------------- minimum detectable effect / power (R64)

  /** Shared MDE trees over the welch census — z_{α/2} = 1.96 and
    * z_power = 0.8416 (80 % power) as explicit DOUBLE-cast literals
    * (a bare decimal literal is DECIMAL in DuckDB — the documented
    * association trap), interpolated verbatim into both engines.
    */
  private val mdeAbs =
    s"(CAST(2.8016 AS DOUBLE) * sqrt($welchSe2))"
  private val mdeRel =
    s"($mdeAbs / (CAST(sum_a AS DOUBLE) / " +
      s"CAST(greatest(n_a, 1) AS DOUBLE)))"

  /** R64: minimum detectable effect per event type — the number an
    * experimentation platform reports BEFORE any test result, and the
    * first sanity check on R33/R59 readouts: with these arm sizes and
    * this outcome variance, the smallest true difference the Welch
    * test would flag at α = 0.05 with 80 % power is
    * (z_{α/2} + z_{0.8}) · SE = 2.8016·√(s²_a/n_a + s²_b/n_b)
    * (the standard two-sample power identity — Cohen 1988); a "no
    * significant difference" verdict on a metric whose MDE is 40 % of
    * its mean is not evidence of no effect, it is an underpowered
    * test, and THIS census is how that state is detected. Reported
    * absolute (micro-cents) and relative to the control-arm mean
    * (micro-ratio) — the form sample-size planning actually uses.
    *
    * Exactness: the SAME six-integer census as R59 (one shared
    * builder — q_welch_t re-verified post-refactor); MDE trees are
    * each ONE micro-floored fixed double tree over the exact
    * integers, the z-sum literal DOUBLE-cast on both engines.
    * Degenerate arms read NULL on the R59 guard; the relative form
    * additionally guards a non-positive control mean.
    *
    * Scale shape: identical to R59 — two partial-agg'd Exchanges,
    * ≤ #event_types rows after.
    */
  def qMde(spark: SparkSession, dir: String): DataFrame =
    mdeCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def mdeCensus(ev: DataFrame): DataFrame =
    welchBase(ev)
      .select(col("event_type"), col("n_a"), col("n_b"),
        col("sum_a"), col("sum_b"),
        expr(s"CASE WHEN $welchGuard THEN " +
          s"CAST(floor(1000000.0 * $mdeAbs) AS BIGINT) END")
          .as("mde_abs_micro"),
        expr(s"CASE WHEN $welchGuard AND sum_a > 0 THEN " +
          s"CAST(floor(1000000.0 * $mdeRel) AS BIGINT) END")
          .as("mde_rel_micro"))
      .orderBy("event_type")

  private val mdeOracle =
    s"""$evCte,
       |m AS (
       |  SELECT event_type, user_id,
       |    CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS s
       |  FROM ev GROUP BY 1, 2
       |),
       |cen AS (
       |  SELECT event_type,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_b,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN s ELSE 0 END)
       |         AS BIGINT) AS sum_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN s ELSE 0 END)
       |         AS BIGINT) AS sum_b,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN s * s ELSE 0 END)
       |         AS BIGINT) AS ss_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN s * s ELSE 0 END)
       |         AS BIGINT) AS ss_b
       |  FROM m GROUP BY 1
       |)
       |SELECT event_type, n_a, n_b, sum_a, sum_b,
       |  CASE WHEN $welchGuard THEN
       |    CAST(floor(1000000.0 * $mdeAbs) AS BIGINT) END
       |    AS mde_abs_micro,
       |  CASE WHEN $welchGuard AND sum_a > 0 THEN
       |    CAST(floor(1000000.0 * $mdeRel) AS BIGINT) END
       |    AS mde_rel_micro
       |FROM cen ORDER BY event_type""".stripMargin

  // ------------------------------------- CUPED pre-period fit (R65)

  /** Shared trees for [[cupedCensus]] over the (n, cov_num, var_x,
    * var_y) integer census — interpolated verbatim.
    */
  private val cupedTheta =
    "(CAST(cov_num AS DOUBLE) / CAST(greatest(var_x, 1) AS DOUBLE))"
  private val cupedRho2 =
    """((CAST(cov_num AS DOUBLE) * CAST(cov_num AS DOUBLE)) /
      | (CAST(greatest(var_x, 1) AS DOUBLE) *
      |  CAST(greatest(var_y, 1) AS DOUBLE)))"""
      .stripMargin.replaceAll("\\s+", " ").trim

  /** R65: CUPED pre-period covariate fit per event type — the
    * variance-reduction technique every large experimentation
    * platform runs by default (Deng, Xu, Kohavi & Walker, WSDM 2013:
    * "Improving the sensitivity of online controlled experiments"):
    * each user's PRE-period activity predicts their post-period
    * outcome, and regressing it out shrinks outcome variance by the
    * squared correlation ρ² — a ρ² of 0.5 halves the R64 MDE without
    * adding a single user. This census measures what CUPED would buy
    * HERE: θ = cov(X,Y)/var(X) (the adjustment coefficient) and ρ²
    * (the variance-reduction fraction), where X = the user's value
    * mass before the corpus median day and Y = their mass from it on.
    *
    * Determinism/exactness: the pre/post boundary is the LOWER MEDIAN
    * event day rank-picked off the event-weighted (day) census (the
    * X46 discipline — an actual corpus day, no interpolation); per
    * user X and Y are exact integer cents sums (absent halves read 0
    * — CUPED's standard treatment of missing pre-period); the five
    * sums are exact integer aggregates and cov/var numerators stay
    * INTEGER columns (the X48 shape; headroom documented there);
    * θ and ρ² each ONE micro-floored tree with greatest()-floored
    * divisors (identity under the guard; the R64 hoisting lesson).
    * Degenerate types (zero pre-period variance or n < 2) read NULL.
    *
    * Scale shape: one (day) census Exchange for the median (the R48
    * machinery), one (event_type, user) partial-agg'd Exchange with
    * the broadcast one-row median, one (event_type) census Exchange
    * carrying five integers; ≤ #event_types rows after.
    */
  def qCuped(spark: SparkSession, dir: String): DataFrame =
    cupedCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def cupedCensus(ev: DataFrame): DataFrame = {
    val daily = ev.select(to_date(col("ts")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(lit(0)).orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(lit(0))
    val med = daily
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("t", sum("cnt").over(wAll))
      .filter(col("cum") >= expr("(t + 1) div 2"))
      .agg(min("day").as("med_day"))
    val xy = ev.crossJoin(broadcast(med))
      .select(col("event_type"), col("user_id"), col("med_day"),
        cents(col("value")).as("v"),
        (to_date(col("ts")) < col("med_day")).as("pre"))
      .groupBy("event_type", "user_id")
      .agg(max(col("med_day").cast("string")).as("med_day"),
        sum(when(col("pre"), col("v")).otherwise(0L)).as("x"),
        sum(when(col("pre"), 0L).otherwise(col("v"))).as("y"))
    xy.groupBy("event_type")
      .agg(max("med_day").as("med_day"), count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("med_day"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("cov_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("var_x"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("var_y"))
      .select(col("event_type"), col("med_day"), col("n"),
        col("cov_num"), col("var_x"), col("var_y"),
        expr(s"CASE WHEN n >= 2 AND var_x > 0 THEN " +
          s"CAST(floor(1000000.0 * $cupedTheta) AS BIGINT) END")
          .as("theta_micro"),
        expr(s"CASE WHEN n >= 2 AND var_x > 0 AND var_y > 0 THEN " +
          s"CAST(floor(1000000.0 * $cupedRho2) AS BIGINT) END")
          .as("rho2_micro"))
      .orderBy("event_type")
  }

  private val cupedOracle =
    s"""$evCte,
       |daily AS (
       |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT)
       |    AS cnt
       |  FROM ev GROUP BY 1
       |),
       |wc AS (
       |  SELECT day,
       |    CAST(sum(cnt) OVER (ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER () AS BIGINT) AS t
       |  FROM daily
       |),
       |med AS (SELECT min(day) AS med_day FROM wc
       |        WHERE cum >= (t + 1) // 2),
       |xy AS (
       |  SELECT event_type, user_id,
       |    max(CAST(m.med_day AS VARCHAR)) AS med_day,
       |    CAST(sum(CASE WHEN CAST(ts AS DATE) < m.med_day
       |      THEN CAST(round(value * 100.0) AS BIGINT) ELSE 0 END)
       |      AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN CAST(ts AS DATE) < m.med_day
       |      THEN 0 ELSE CAST(round(value * 100.0) AS BIGINT) END)
       |      AS BIGINT) AS y
       |  FROM ev, med m GROUP BY 1, 2
       |),
       |cen AS (
       |  SELECT event_type, max(med_day) AS med_day,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy
       |  FROM xy GROUP BY 1
       |),
       |f AS (
       |  SELECT event_type, med_day, n,
       |    CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
       |    CAST(n * sxx - sx * sx AS BIGINT) AS var_x,
       |    CAST(n * syy - sy * sy AS BIGINT) AS var_y
       |  FROM cen
       |)
       |SELECT event_type, med_day, n, cov_num, var_x, var_y,
       |  CASE WHEN n >= 2 AND var_x > 0 THEN
       |    CAST(floor(1000000.0 * $cupedTheta) AS BIGINT) END
       |    AS theta_micro,
       |  CASE WHEN n >= 2 AND var_x > 0 AND var_y > 0 THEN
       |    CAST(floor(1000000.0 * $cupedRho2) AS BIGINT) END
       |    AS rho2_micro
       |FROM f ORDER BY event_type""".stripMargin

  // ------------------------- difference-in-differences (R68)

  /** Shared cell-mean and DID trees over the eight-integer census —
    * greatest() floors per the R64 hoisting rule.
    */
  private def didMean(s: String, n: String): String =
    s"(CAST($s AS DOUBLE) / CAST(greatest($n, 1) AS DOUBLE))"
  private val didTree =
    s"((${didMean("s_b_post", "n_b_post")} - " +
      s"${didMean("s_b_pre", "n_b_pre")}) - " +
      s"(${didMean("s_a_post", "n_a_post")} - " +
      s"${didMean("s_a_pre", "n_a_pre")}))"
  private val didGuard =
    "n_a_pre > 0 AND n_a_post > 0 AND n_b_pre > 0 AND n_b_post > 0"

  /** R68: difference-in-differences per event type — the causal
    * readout when assignment is NOT randomized (Card & Krueger 1994
    * made it canonical): the treatment arm's pre→post change minus
    * the control arm's pre→post change cancels any level difference
    * between the arms AND any common time shock, leaving the
    * treatment effect under the parallel-trends assumption. Here the
    * arms are the same deterministic split as R33/R59 and the period
    * boundary is R65's event-weighted median day, so the whole
    * experiment battery reads one consistent design; cell outcome =
    * total cents / distinct users in the cell (the repeated
    * cross-section form).
    *
    * Exactness: the eight cell integers (distinct users + cents sums
    * per arm × period) are exact; the four cell means are integer
    * micro floor-divisions in the output; DID is ONE micro-floored
    * fixed double tree with greatest()-floored divisors (the R64
    * rule), NULL when any cell is empty — the guard compares
    * integers only.
    *
    * Scale shape: the R65 median census, then one
    * (type, arm, period, user) distinct → one (type) census Exchange
    * carrying eight integers; ≤ #event_types rows after.
    */
  def qDid(spark: SparkSession, dir: String): DataFrame =
    didCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def didCensus(ev: DataFrame): DataFrame = {
    val daily = ev.select(to_date(col("ts")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(lit(0)).orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(lit(0))
    val med = daily
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("t", sum("cnt").over(wAll))
      .filter(col("cum") >= expr("(t + 1) div 2"))
      .agg(min("day").as("med_day"))
    val cell = ev.crossJoin(broadcast(med))
      .select(col("event_type"), col("user_id"),
        expr("user_id % 2").as("arm"),
        (to_date(col("ts")) < col("med_day")).as("pre"),
        cents(col("value")).as("v"))
      .groupBy("event_type", "user_id", "arm", "pre")
      .agg(sum("v").as("s"))
    cell.groupBy("event_type")
      .agg(
        sum(when(col("arm") === 0L && col("pre"), 1L).otherwise(0L))
          .as("n_a_pre"),
        sum(when(col("arm") === 0L && !col("pre"), 1L).otherwise(0L))
          .as("n_a_post"),
        sum(when(col("arm") === 1L && col("pre"), 1L).otherwise(0L))
          .as("n_b_pre"),
        sum(when(col("arm") === 1L && !col("pre"), 1L).otherwise(0L))
          .as("n_b_post"),
        sum(when(col("arm") === 0L && col("pre"), col("s"))
          .otherwise(0L)).as("s_a_pre"),
        sum(when(col("arm") === 0L && !col("pre"), col("s"))
          .otherwise(0L)).as("s_a_post"),
        sum(when(col("arm") === 1L && col("pre"), col("s"))
          .otherwise(0L)).as("s_b_pre"),
        sum(when(col("arm") === 1L && !col("pre"), col("s"))
          .otherwise(0L)).as("s_b_post"))
      .select(col("event_type"), col("n_a_pre"), col("n_a_post"),
        col("n_b_pre"), col("n_b_post"), col("s_a_pre"),
        col("s_a_post"), col("s_b_pre"), col("s_b_post"),
        expr(s"CASE WHEN $didGuard THEN " +
          s"CAST(floor(1000000.0 * $didTree) AS BIGINT) END")
          .as("did_micro"))
      .orderBy("event_type")
  }

  private val didOracle =
    s"""$evCte,
       |daily AS (
       |  SELECT CAST(ts AS DATE) AS day,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM ev GROUP BY 1
       |),
       |wc AS (
       |  SELECT day,
       |    CAST(sum(cnt) OVER (ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER () AS BIGINT) AS t
       |  FROM daily
       |),
       |med AS (SELECT min(day) AS med_day FROM wc
       |        WHERE cum >= (t + 1) // 2),
       |cell AS (
       |  SELECT event_type, user_id, user_id % 2 AS arm,
       |    CAST(ts AS DATE) < m.med_day AS pre,
       |    CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT)
       |      AS s
       |  FROM ev, med m GROUP BY 1, 2, 3, 4
       |),
       |cen AS (
       |  SELECT event_type,
       |    CAST(sum(CASE WHEN arm = 0 AND pre THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_a_pre,
       |    CAST(sum(CASE WHEN arm = 0 AND NOT pre THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_a_post,
       |    CAST(sum(CASE WHEN arm = 1 AND pre THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_b_pre,
       |    CAST(sum(CASE WHEN arm = 1 AND NOT pre THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_b_post,
       |    CAST(sum(CASE WHEN arm = 0 AND pre THEN s ELSE 0 END)
       |         AS BIGINT) AS s_a_pre,
       |    CAST(sum(CASE WHEN arm = 0 AND NOT pre THEN s ELSE 0 END)
       |         AS BIGINT) AS s_a_post,
       |    CAST(sum(CASE WHEN arm = 1 AND pre THEN s ELSE 0 END)
       |         AS BIGINT) AS s_b_pre,
       |    CAST(sum(CASE WHEN arm = 1 AND NOT pre THEN s ELSE 0 END)
       |         AS BIGINT) AS s_b_post
       |  FROM cell GROUP BY 1
       |)
       |SELECT event_type, n_a_pre, n_a_post, n_b_pre, n_b_post,
       |  s_a_pre, s_a_post, s_b_pre, s_b_post,
       |  CASE WHEN $didGuard THEN
       |    CAST(floor(1000000.0 * $didTree) AS BIGINT) END
       |    AS did_micro
       |FROM cen ORDER BY event_type""".stripMargin

  // ------------------- always-valid sequential test (R69, mSPRT)

  /** R69 mixture variance τ² in cents² (τ = 100 cents = $1) — the
    * mSPRT's one tuning knob: the prior scale of the effect sizes the
    * test is powered for (Johari et al. recommend matching it to the
    * historically-typical effect; a fixed documented constant keeps
    * the statistic deterministic and cross-engine exact).
    */
  val MsprtTau2 = "10000.0"

  /** R69 rejection bar in micro-units of −ln p: always-valid −ln p ≥
    * ln(1/α) at α = 0.05 → ln 20 = 2.995732… — an INTEGER literal so
    * the crossing compare never touches a transcendental.
    */
  val MsprtLnBarMicro = 2995732L

  /** Shared double trees over the six cumulative integers — every
    * divisor greatest()-floored (the R64 hoisting rule: Spark's
    * subexpression elimination evaluates CASE-condition subtrees on
    * degenerate rows too, so each tree must be evaluable at
    * cn = 0/1), interpolated verbatim into both engines.
    */
  private def msprtS2(n: String, s: String, ss: String): String =
    s"((CAST($ss AS DOUBLE) - (CAST($s AS DOUBLE) * " +
      s"CAST($s AS DOUBLE)) / CAST(greatest($n, 1) AS DOUBLE)) / " +
      s"CAST(greatest($n - 1, 1) AS DOUBLE))"
  private val msprtV =
    s"(${msprtS2("cn_a", "csum_a", "css_a")} / " +
      s"CAST(greatest(cn_a, 1) AS DOUBLE) + " +
      s"${msprtS2("cn_b", "csum_b", "css_b")} / " +
      s"CAST(greatest(cn_b, 1) AS DOUBLE))"
  private val msprtDelta =
    "(CAST(csum_a AS DOUBLE) / CAST(greatest(cn_a, 1) AS DOUBLE) - " +
      "CAST(csum_b AS DOUBLE) / CAST(greatest(cn_b, 1) AS DOUBLE))"
  // log Λ_n over the hoisted v_d column; the ln argument and the 2V
  // divisor are floored at 1e-300 — unreachable under the v_d > 0
  // guard (cents-integer variances bottom out ~1e-12), but they keep
  // the eagerly-evaluated tree finite on degenerate rows where
  // v_d = 0 (DuckDB ERRORS on ln(0); Spark would NaN the division)
  private val msprtLlr =
    s"(0.5 * ln(greatest(v_d / (v_d + $MsprtTau2), 1e-300)) + " +
      s"($MsprtTau2 * ($msprtDelta * $msprtDelta)) / " +
      s"((2.0 * greatest(v_d, 1e-300)) * (v_d + $MsprtTau2)))"
  private val msprtGuard = "cn_a >= 2 AND cn_b >= 2 AND v_d > 0.0"

  /** R69: mixture sequential probability ratio test (mSPRT) per
    * (event_type, day) — the ALWAYS-VALID sequential readout the
    * fixed-horizon battery (R59/R63/R64) cannot give: every real
    * experimentation platform peeks at results daily, and a
    * fixed-horizon p-value re-read daily inflates false positives
    * severalfold; the mSPRT's mixture likelihood ratio
    * Λ_n = √(V_n/(V_n+τ²)) · exp(τ²·Δ̂_n²/(2V_n(V_n+τ²))) yields
    * p_n = min(1, 1/max_{k≤n} Λ_k), valid at EVERY peek
    * simultaneously (Johari, Koomen, Pekelis & Walsh, KDD 2017,
    * "Peeking at A/B tests"; Robbins 1970 for the mixture rule).
    * Reported in LOG domain to stay transcendental-minimal: llr =
    * ln Λ at each day, and lp = max over the prefix of max(0, llr) —
    * the always-valid −ln p, monotone non-decreasing BY CONSTRUCTION
    * (the always-valid property made visible); `crossed` compares lp
    * against the integer ln(1/0.05) bar, so the decision column never
    * evaluates a transcendental.
    *
    * Sequential unit: the EVENT (the R34 event-grain precedent) —
    * cumulative per-arm daily censuses (count, Σcents, Σcents²) are
    * exact integer window sums over the (event_type, day, arm) daily
    * census, so day n's statistic reads exactly the data available at
    * that day's close.
    *
    * Exactness: the six cumulative columns are exact integers; V, Δ̂
    * and ln Λ ride ONE fixed double tree over them (divisors
    * greatest()-floored; the ln argument and the 2V divisor floored
    * at an unreachable 1e-300 so degenerate rows stay finite under
    * eager subexpression evaluation — DuckDB errors on ln(0));
    * micro-flooring commutes with max(0, ·) on integers, so lp_day =
    * greatest(0, llr_micro) EXACTLY and the running max is pure
    * integer window arithmetic. Days before both arms reach n ≥ 2
    * with positive variance read NULL (min/max ignore NULLs in both
    * engines, so lp picks up from the first defined day).
    *
    * Scale shape: one (event_type, day, arm→columns) partial-agg'd
    * Exchange — the daily census (≤ types × days rows); cumulative
    * sums and the running max ride census windows BY TYPE; nothing
    * after the first Exchange is corpus-sized.
    */
  def qMsprt(spark: SparkSession, dir: String): DataFrame =
    msprtCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def msprtCensus(ev: DataFrame): DataFrame =
    msprtFromDaily(msprtDailyCensus(ev))

  /** The (event_type, day, six-integer-arm-census) relation R69
    * reduces the event stream to — factored so the T26 streaming
    * store accumulates the SAME relation per micro-batch (integer
    * counts and sums form an exact merge semilattice: per-batch daily
    * censuses summed cell-wise equal the daily census of the
    * concatenated stream bit-for-bit).
    */
  def msprtDailyCensus(ev: DataFrame): DataFrame =
    ev.select(col("event_type"), to_date(col("ts")).as("day"),
        expr("user_id % 2").as("arm"), cents(col("value")).as("v"))
      .groupBy("event_type", "day")
      .agg(
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("dn_a"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("dn_b"),
        sum(when(col("arm") === 0L, col("v")).otherwise(0L))
          .as("dsum_a"),
        sum(when(col("arm") === 1L, col("v")).otherwise(0L))
          .as("dsum_b"),
        sum(when(col("arm") === 0L, col("v") * col("v"))
          .otherwise(0L)).as("dss_a"),
        sum(when(col("arm") === 1L, col("v") * col("v"))
          .otherwise(0L)).as("dss_b"))

  /** R69's statistics stage over any daily arm census — cumulative
    * integer windows, the guarded llr tree, the always-valid running
    * max; shared by the batch query and the T26 streaming store's
    * serving read (store ≡ batch bit-for-bit, StreamingMsprtSpec-
    * pinned — the statistic is a pure function of the daily census).
    */
  def msprtFromDaily(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily.select(col("event_type"), col("day"),
      sum("dn_a").over(w).as("cn_a"),
      sum("dn_b").over(w).as("cn_b"),
      sum("dsum_a").over(w).as("csum_a"),
      sum("dsum_b").over(w).as("csum_b"),
      sum("dss_a").over(w).as("css_a"),
      sum("dss_b").over(w).as("css_b"))
    val scoredDay = cum
      .withColumn("v_d", expr(msprtV))
      .select(col("event_type"), col("day"),
        col("cn_a"), col("cn_b"), col("csum_a"), col("csum_b"),
        expr(s"CASE WHEN $msprtGuard THEN " +
          s"CAST(floor(1000000.0 * $msprtLlr) AS BIGINT) END")
          .as("llr_micro"))
      .withColumn("lp_day_micro",
        expr("CASE WHEN llr_micro IS NOT NULL THEN " +
          "greatest(CAST(0 AS BIGINT), llr_micro) END"))
    scoredDay
      .withColumn("lp_micro", max("lp_day_micro").over(w))
      .select(col("event_type"), col("day").cast("string").as("day"),
        col("cn_a"), col("cn_b"), col("csum_a"), col("csum_b"),
        col("llr_micro"), col("lp_day_micro"), col("lp_micro"),
        coalesce(col("lp_micro") >= MsprtLnBarMicro, lit(false))
          .as("crossed"))
      .orderBy("event_type", "day")
  }

  private val msprtOracle =
    s"""$evCte,
       |d AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS dn_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS dn_b,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN
       |      CAST(round(value * 100.0) AS BIGINT) ELSE 0 END)
       |      AS BIGINT) AS dsum_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN
       |      CAST(round(value * 100.0) AS BIGINT) ELSE 0 END)
       |      AS BIGINT) AS dsum_b,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN
       |      CAST(round(value * 100.0) AS BIGINT) *
       |      CAST(round(value * 100.0) AS BIGINT) ELSE 0 END)
       |      AS BIGINT) AS dss_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN
       |      CAST(round(value * 100.0) AS BIGINT) *
       |      CAST(round(value * 100.0) AS BIGINT) ELSE 0 END)
       |      AS BIGINT) AS dss_b
       |  FROM ev GROUP BY 1, 2
       |),
       |c AS (
       |  SELECT event_type, day,
       |    CAST(sum(dn_a) OVER w AS BIGINT) AS cn_a,
       |    CAST(sum(dn_b) OVER w AS BIGINT) AS cn_b,
       |    CAST(sum(dsum_a) OVER w AS BIGINT) AS csum_a,
       |    CAST(sum(dsum_b) OVER w AS BIGINT) AS csum_b,
       |    CAST(sum(dss_a) OVER w AS BIGINT) AS css_a,
       |    CAST(sum(dss_b) OVER w AS BIGINT) AS css_b
       |  FROM d
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |),
       |h AS (SELECT *, $msprtV AS v_d FROM c),
       |l AS (
       |  SELECT event_type, day, cn_a, cn_b, csum_a, csum_b,
       |    CASE WHEN $msprtGuard THEN
       |      CAST(floor(1000000.0 * $msprtLlr) AS BIGINT) END
       |      AS llr_micro
       |  FROM h
       |),
       |p AS (
       |  SELECT *, CASE WHEN llr_micro IS NOT NULL THEN
       |    greatest(CAST(0 AS BIGINT), llr_micro) END AS lp_day_micro
       |  FROM l
       |)
       |SELECT event_type, CAST(day AS VARCHAR) AS day, cn_a, cn_b,
       |  csum_a, csum_b, llr_micro, lp_day_micro,
       |  max(lp_day_micro) OVER (PARTITION BY event_type ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS lp_micro,
       |  coalesce(max(lp_day_micro) OVER (PARTITION BY event_type
       |    ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    >= $MsprtLnBarMicro, false) AS crossed
       |FROM p ORDER BY event_type, day""".stripMargin

  // -------------------------- funnel latency quantiles (R73)

  /** R73: funnel step-latency quantiles — the TIME dimension R4/R57
    * leave out: conversion RATES say how many users advance, this
    * says how LONG the advancing users took (p50/p90/mean seconds
    * per step transition) — the number a checkout or onboarding team
    * actually optimizes once the rate is acceptable, and the one that
    * exposes a slow-step regression a stable conversion rate hides
    * (users still convert, but later — the precursor of the drop).
    * Stage relations are the R4 funnel's own semantics (first
    * qualifying event per user per step, the shared 24 h window
    * anchored at t1).
    *
    * Exactness: per-user step latencies are exact integer seconds
    * (µs-epoch difference floor-divided — both engines already at µs
    * precision); p50/p90 are rank-picked ACTUAL latencies at position
    * ((n−1)·num) div den + 1 of the (step, dt) census (the X46/R67
    * discipline, no interpolation); the mean is one integer micro
    * floor-division. Steps with zero conversions are ABSENT
    * (documented — R57/R66 page on those first).
    *
    * Scale shape: the funnel's own user-keyed stage joins (each stage
    * bounded by the previous); ONE (step, dt) census Exchange;
    * cumulative ranks ride census windows BY STEP; 2 rows out.
    */
  def qFunnelLatency(spark: SparkSession, dir: String): DataFrame =
    funnelLatency(events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts")))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def funnelLatency(ev: DataFrame): DataFrame = {
    val deadline = col("t1") + expr(s"INTERVAL $FunnelWindowHours HOURS")
    val s1 = ev.filter(col("event_type") === FunnelSteps.head)
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = ev.filter(col("event_type") === FunnelSteps(1))
      .join(s1, "user_id")
      .filter(col("ts") > col("t1") && col("ts") <= deadline)
      .groupBy("user_id").agg(min("ts").as("t2"), min("t1").as("t1"))
    val s3 = ev.filter(col("event_type") === FunnelSteps(2))
      .join(s2, "user_id")
      .filter(col("ts") > col("t2") && col("ts") <= deadline)
      .groupBy("user_id").agg(min("ts").as("t3"), min("t2").as("t2"))
    // the TIMESTAMP cast is an identity relabel for unix_micros
    // (NTZ source, UTC session — the R23 interarrival precedent)
    val dts = s2.select(lit(2L).as("step"),
        expr("(unix_micros(CAST(t2 AS TIMESTAMP)) - " +
          "unix_micros(CAST(t1 AS TIMESTAMP))) div 1000000")
          .as("dt_s"))
      .unionByName(s3.select(lit(3L).as("step"),
        expr("(unix_micros(CAST(t3 AS TIMESTAMP)) - " +
          "unix_micros(CAST(t2 AS TIMESTAMP))) div 1000000")
          .as("dt_s")))
    val cen = dts.groupBy("step", "dt_s").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("step").orderBy("dt_s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("step")
    val ranked = cen.withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(wAll))
      .withColumn("sumdt", sum(col("dt_s") * col("cnt")).over(wAll))
    val p50 = ranked
      .filter(col("cum") >= expr("((n - 1) * 1) div 2 + 1"))
      .groupBy("step").agg(min("dt_s").as("p50_s"))
    val p90 = ranked
      .filter(col("cum") >= expr("((n - 1) * 9) div 10 + 1"))
      .groupBy("step").agg(min("dt_s").as("p90_s"))
    val tot = ranked.groupBy("step")
      .agg(max("n").as("n_users"), max("sumdt").as("sum_dt_s"))
    val stepName = when(col("step") === 2L, lit(FunnelSteps(1)))
      .otherwise(lit(FunnelSteps(2)))
    tot.join(p50, "step").join(p90, "step")
      .select(col("step"), stepName.as("event_type"), col("n_users"),
        expr("(1000000 * sum_dt_s) div n_users").as("mean_s_micro"),
        col("p50_s"), col("p90_s"))
      .orderBy("step")
  }

  private val funnelLatencyOracle =
    s"""WITH fev AS (
       |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
       |  FROM events
       |),
       |f1 AS (
       |  SELECT user_id, min(ts) AS t1 FROM fev
       |  WHERE event_type = '${FunnelSteps.head}' GROUP BY 1
       |),
       |f2 AS (
       |  SELECT e.user_id, min(e.ts) AS t2, min(f1.t1) AS t1
       |  FROM fev e JOIN f1 USING (user_id)
       |  WHERE e.event_type = '${FunnelSteps(1)}' AND e.ts > f1.t1
       |    AND e.ts <= f1.t1 + INTERVAL $FunnelWindowHours HOUR
       |  GROUP BY 1
       |),
       |f3 AS (
       |  SELECT e.user_id, min(e.ts) AS t3, min(f2.t2) AS t2
       |  FROM fev e JOIN f2 USING (user_id)
       |  WHERE e.event_type = '${FunnelSteps(2)}' AND e.ts > f2.t2
       |    AND e.ts <= f2.t1 + INTERVAL $FunnelWindowHours HOUR
       |  GROUP BY 1
       |),
       |dts AS (
       |  SELECT CAST(2 AS BIGINT) AS step,
       |    CAST((epoch_us(t2) - epoch_us(t1)) // 1000000 AS BIGINT)
       |      AS dt_s
       |  FROM f2
       |  UNION ALL
       |  SELECT CAST(3 AS BIGINT),
       |    CAST((epoch_us(t3) - epoch_us(t2)) // 1000000 AS BIGINT)
       |  FROM f3
       |),
       |cen AS (
       |  SELECT step, dt_s, CAST(count(*) AS BIGINT) AS cnt
       |  FROM dts GROUP BY 1, 2
       |),
       |rk AS (
       |  SELECT step, dt_s, cnt,
       |    CAST(sum(cnt) OVER (PARTITION BY step ORDER BY dt_s)
       |      AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY step) AS BIGINT) AS n,
       |    CAST(sum(dt_s * cnt) OVER (PARTITION BY step) AS BIGINT)
       |      AS sumdt
       |  FROM cen
       |),
       |q50 AS (
       |  SELECT step, min(dt_s) AS p50_s FROM rk
       |  WHERE cum >= ((n - 1) * 1) // 2 + 1 GROUP BY 1
       |),
       |q90 AS (
       |  SELECT step, min(dt_s) AS p90_s FROM rk
       |  WHERE cum >= ((n - 1) * 9) // 10 + 1 GROUP BY 1
       |),
       |t AS (
       |  SELECT step, max(n) AS n_users, max(sumdt) AS sum_dt_s
       |  FROM rk GROUP BY 1
       |)
       |SELECT t.step,
       |  CASE t.step WHEN 2 THEN '${FunnelSteps(1)}'
       |              ELSE '${FunnelSteps(2)}' END AS event_type,
       |  CAST(t.n_users AS BIGINT) AS n_users,
       |  CAST((1000000 * t.sum_dt_s) // t.n_users AS BIGINT)
       |    AS mean_s_micro,
       |  CAST(q50.p50_s AS BIGINT) AS p50_s,
       |  CAST(q90.p90_s AS BIGINT) AS p90_s
       |FROM t JOIN q50 USING (step) JOIN q90 USING (step)
       |ORDER BY t.step""".stripMargin

  // --------------------- empirical-Bayes shrinkage census (R72)

  /** Shared R72 trees over the one-row global census (k, n_all,
    * sumn2, ssw_e6, ssb_e6) joined to each type's (n, sum) — the
    * one-way random-effects method-of-moments fit (Efron & Morris
    * 1975; Morris 1983): σ̂²_w = SSW/(N−k), τ̂² = max(0,
    * (SSB − (k−1)·σ̂²_w)/(N − Σn²/N)), per-type weight
    * w = τ̂²/(τ̂² + σ̂²_w/n). SSW/SSB are integer sums of per-type
    * micro-floored terms (the X51 per-term-floor discipline — their
    * cross-type accumulation must not be double-associative);
    * divisors greatest()-floored per the R69 rule.
    */
  private val ebSigW =
    "((CAST(ssw_e6 AS DOUBLE) / 1000000.0) / " +
      "CAST(greatest(n_all - k, 1) AS DOUBLE))"
  private val ebTau2 =
    s"greatest(0.0, ((CAST(ssb_e6 AS DOUBLE) / 1000000.0) - " +
      s"CAST(k - 1 AS DOUBLE) * $ebSigW) / " +
      s"greatest(CAST(n_all AS DOUBLE) - CAST(sumn2 AS DOUBLE) / " +
      s"CAST(greatest(n_all, 1) AS DOUBLE), 1e-300))"
  private val ebW =
    s"($ebTau2 / greatest($ebTau2 + $ebSigW / " +
      s"CAST(greatest(n, 1) AS DOUBLE), 1e-300))"
  private val ebShrunk =
    s"((CAST(sum_all AS DOUBLE) / CAST(greatest(n_all, 1) AS DOUBLE))" +
      s" + $ebW * ((CAST(s AS DOUBLE) / " +
      s"CAST(greatest(n, 1) AS DOUBLE)) - " +
      s"(CAST(sum_all AS DOUBLE) / CAST(greatest(n_all, 1) AS DOUBLE))))"
  private val ebGuard =
    "k >= 2 AND n_all > k AND (ssw_e6 > 0 OR ssb_e6 > 0)"

  /** R72: empirical-Bayes shrinkage of per-segment means — the
    * READOUT layer every metrics platform puts in front of small
    * segments (Efron & Morris 1975 made it canonical with the
    * baseball estimator; Morris 1983 for the parametric EB frame):
    * a segment mean over 40 users is mostly noise, and reporting it
    * raw invites decisions on that noise — the one-way random-effects
    * model shrinks each segment's mean toward the grand mean with a
    * weight that is exactly the signal fraction
    * τ̂²/(τ̂² + σ̂²_w/n): big segments keep their mean (w → 1), tiny
    * ones collapse to the pool (w → 0), and the CROSS-SEGMENT
    * variance τ̂² is estimated from the data itself (method of
    * moments), which is what makes it "empirical". Read next to
    * R59/R71: those test differences, this is what the dashboard
    * should DISPLAY per segment.
    *
    * Exactness: per-user outcomes exact integer cents (the R59
    * grain); per-type (n, Σ, vnum = n·ΣΣ² − Σ²) exact integers; the
    * SSW/SSB pools are integer sums of per-type micro-floored terms
    * (X51 per-term-floor — documented sub-ppm, identical cross-
    * engine); σ̂²_w, τ̂², w and the shrunken mean are each ONE
    * micro-floored tree over the one-row global census with
    * greatest()-floored divisors. Zero total variance (every user
    * identical everywhere), k < 2, or N ≤ k read NULL w/shrunk.
    *
    * Scale shape: one (event_type, user) partial-agg'd Exchange, one
    * (event_type) census Exchange carrying three integers, one-row
    * global rollup broadcast back (whitelisted BNLJ); ≤ #event_types
    * rows after.
    */
  def qShrinkage(spark: SparkSession, dir: String): DataFrame =
    shrinkageCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def shrinkageCensus(ev: DataFrame): DataFrame = {
    val perType = ev
      .select(col("event_type"), col("user_id"),
        cents(col("value")).as("v"))
      .groupBy("event_type", "user_id").agg(sum("v").as("s0"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("s0").as("s"),
        sum(col("s0") * col("s0")).as("ss"))
    val globals = perType
      .select(col("n"), col("s"),
        (col("n") * col("ss") - col("s") * col("s")).as("vnum"))
      .agg(count(lit(1)).as("k"), sum("n").as("n_all"),
        sum("s").as("sum_all"),
        sum(col("n") * col("n")).as("sumn2"),
        sum(expr("CAST(floor(1000000.0 * (CAST(vnum AS DOUBLE) / " +
          "CAST(greatest(n, 1) AS DOUBLE))) AS BIGINT)")).as("ssw_e6"))
    val withG = perType.crossJoin(broadcast(globals))
      .withColumn("ssb_term",
        expr("CAST(floor(1000000.0 * (CAST(n AS DOUBLE) * " +
          "((CAST(s AS DOUBLE) / CAST(greatest(n, 1) AS DOUBLE)) - " +
          "(CAST(sum_all AS DOUBLE) / " +
          "CAST(greatest(n_all, 1) AS DOUBLE))) * " +
          "((CAST(s AS DOUBLE) / CAST(greatest(n, 1) AS DOUBLE)) - " +
          "(CAST(sum_all AS DOUBLE) / " +
          "CAST(greatest(n_all, 1) AS DOUBLE))))) AS BIGINT)"))
    val ssb = withG.agg(sum("ssb_term").as("ssb_e6"))
    withG.crossJoin(broadcast(ssb))
      .select(col("event_type"), col("n"), col("s"),
        when(col("n") > 0L, expr("(s * 1000000) div n"))
          .as("mean_micro"),
        expr(s"CASE WHEN $ebGuard THEN " +
          s"CAST(floor(1000000.0 * $ebW) AS BIGINT) END")
          .as("w_micro"),
        expr(s"CASE WHEN $ebGuard THEN " +
          s"CAST(floor(1000000.0 * $ebShrunk) AS BIGINT) END")
          .as("shrunk_micro"))
      .orderBy("event_type")
  }

  private val shrinkageOracle =
    s"""$evCte,
       |m AS (
       |  SELECT event_type, user_id,
       |    CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT)
       |      AS s0
       |  FROM ev GROUP BY 1, 2
       |),
       |pt AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(s0) AS BIGINT) AS s,
       |    CAST(sum(s0 * s0) AS BIGINT) AS ss
       |  FROM m GROUP BY 1
       |),
       |g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS k,
       |    CAST(sum(n) AS BIGINT) AS n_all,
       |    CAST(sum(s) AS BIGINT) AS sum_all,
       |    CAST(sum(n * n) AS BIGINT) AS sumn2,
       |    CAST(sum(CAST(floor(1000000.0 *
       |      (CAST(n * ss - s * s AS DOUBLE) /
       |       CAST(greatest(n, 1) AS DOUBLE))) AS BIGINT))
       |      AS BIGINT) AS ssw_e6
       |  FROM pt
       |),
       |wg AS (
       |  SELECT pt.*, g.*,
       |    CAST(floor(1000000.0 * (CAST(n AS DOUBLE) *
       |      ((CAST(s AS DOUBLE) / CAST(greatest(n, 1) AS DOUBLE)) -
       |       (CAST(sum_all AS DOUBLE) /
       |        CAST(greatest(n_all, 1) AS DOUBLE))) *
       |      ((CAST(s AS DOUBLE) / CAST(greatest(n, 1) AS DOUBLE)) -
       |       (CAST(sum_all AS DOUBLE) /
       |        CAST(greatest(n_all, 1) AS DOUBLE))))) AS BIGINT)
       |      AS ssb_term
       |  FROM pt, g
       |),
       |sb AS (SELECT CAST(sum(ssb_term) AS BIGINT) AS ssb_e6 FROM wg)
       |SELECT event_type, n, s,
       |  CASE WHEN n > 0 THEN CAST((s * 1000000) // n AS BIGINT) END
       |    AS mean_micro,
       |  CASE WHEN $ebGuard THEN
       |    CAST(floor(1000000.0 * $ebW) AS BIGINT) END AS w_micro,
       |  CASE WHEN $ebGuard THEN
       |    CAST(floor(1000000.0 * $ebShrunk) AS BIGINT) END
       |    AS shrunk_micro
       |FROM wg, sb ORDER BY event_type""".stripMargin

  // ------------------------------- A/A calibration test (R71)

  /** R71: A/A calibration test per event type — the experimentation
    * platform's own health check (run CONTINUOUSLY on every real
    * platform; Kohavi et al., "Trustworthy Online Controlled
    * Experiments" §19 make it the first diagnostic): split the SAME
    * population by a hash ORTHOGONAL to the experiment's arm hash and
    * run the full Welch readout — there is no treatment, so a
    * significant |t| means the stats pipeline itself is broken
    * (mis-clustered randomization unit, variance under-estimation,
    * logging skew), and every real readout it produces is suspect.
    * Arms = md5('aa:' ∥ user_id) parity — hash-based like production
    * assignment, orthogonal to R59's user_id parity, DuckDB-exact.
    *
    * Implementation shares the ENTIRE R59 machinery by a user-id
    * remap identity: user_id ↦ 2·user_id + aa_arm keeps users unique
    * and makes user parity EQUAL the A/A arm, so [[welchCensus]] runs
    * verbatim (spec-pinned against an explicitly relabeled frame).
    * `calibrated` = |t| < 1.96 at the same α as the real readouts;
    * degenerate types (NULL t — nothing measurable) read calibrated =
    * true: an empty cell is not a broken pipeline.
    *
    * Scale shape: exactly R59 — two partial-agg'd Exchanges, ≤
    * #event_types rows after.
    */
  def qAaTest(spark: SparkSession, dir: String): DataFrame =
    aaCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def aaCensus(ev: DataFrame): DataFrame = {
    val arm = Hashing.md5Long(
      concat(lit("aa:"), col("user_id").cast("string"))) % 2L
    welchCensus(ev.withColumn("user_id", col("user_id") * 2L + arm))
      .withColumn("calibrated",
        coalesce(abs(col("t_micro")) < lit(1960000L), lit(true)))
  }

  private val aaOracle =
    s"""$evCte,
       |aaev AS (
       |  SELECT event_id,
       |    2 * user_id +
       |      (${Hashing.md5LongSql(
              "'aa:' || CAST(user_id AS VARCHAR)")} % 2) AS user_id,
       |    event_type, ts, value
       |  FROM ev
       |),
       |m AS (
       |  SELECT event_type, user_id,
       |    CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS s
       |  FROM aaev GROUP BY 1, 2
       |),
       |cen AS (
       |  SELECT event_type,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_b,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN s ELSE 0 END)
       |         AS BIGINT) AS sum_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN s ELSE 0 END)
       |         AS BIGINT) AS sum_b,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN s * s ELSE 0 END)
       |         AS BIGINT) AS ss_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN s * s ELSE 0 END)
       |         AS BIGINT) AS ss_b
       |  FROM m GROUP BY 1
       |),
       |w AS (
       |  SELECT event_type, n_a, n_b, sum_a, sum_b, ss_a, ss_b,
       |    CASE WHEN n_a > 0 THEN
       |      CAST((sum_a * 1000000) // n_a AS BIGINT) END
       |      AS mean_a_micro,
       |    CASE WHEN n_b > 0 THEN
       |      CAST((sum_b * 1000000) // n_b AS BIGINT) END
       |      AS mean_b_micro,
       |    CASE WHEN $welchGuard THEN
       |      CAST(floor(1000000.0 * $welchT) AS BIGINT) END AS t_micro,
       |    CASE WHEN $welchGuard THEN
       |      CAST(floor(1000000.0 * $welchDf) AS BIGINT) END AS df_micro
       |  FROM cen
       |)
       |SELECT *, coalesce(abs(t_micro) < 1960000, true) AS calibrated
       |FROM w ORDER BY event_type""".stripMargin

  // ----------------------- sample-size planning curve (R70)

  /** R70 relative-effect grid: the detectable effect targets the
    * planning table is computed at, as percent of the control-arm
    * mean — the rows an experiment-sizing page actually shows.
    */
  val PowerDeltaPcts: Seq[Long] = Seq(1L, 5L, 10L, 25L)

  /** Shared R70 trees over the welch census × the Δ grid — the R64
    * identity inverted: R64 answers "what can I detect at the n I
    * have", THIS answers "what n do I need for the Δ I care about":
    * n_req per arm = (z_{α/2} + z_{0.8})² · (s²_a + s²_b) / Δ²_abs
    * with Δ_abs = (delta_pct/100) · control mean. The Δ² divisor is
    * greatest()-floored at an unreachable 1e-300 (the R69 rule — the
    * guard excludes sum_a ≤ 0, the floor keeps the hoisted tree
    * finite on degenerate rows).
    */
  private val powerDeltaAbs =
    "((CAST(delta_pct AS DOUBLE) / CAST(100 AS DOUBLE)) * " +
      "(CAST(sum_a AS DOUBLE) / CAST(greatest(n_a, 1) AS DOUBLE)))"
  private val powerNReq =
    s"((CAST(2.8016 AS DOUBLE) * CAST(2.8016 AS DOUBLE)) * " +
      s"($welchVarA + $welchVarB) / " +
      s"greatest($powerDeltaAbs * $powerDeltaAbs, 1e-300))"
  private val powerGuard = s"$welchGuard AND sum_a > 0"

  /** R70: sample-size planning curve per event type — the table an
    * experimentation platform shows BEFORE a test is designed (the
    * forward form of R64's MDE): for each relative effect target
    * (1/5/10/25 % of the control mean), the users-per-arm required to
    * detect it at α = 0.05 with 80 % power under the observed
    * outcome variance (the standard two-sample identity, Cohen 1988),
    * and whether the CURRENT arms already suffice — the
    * "how much longer must this run" readout R64's backward form
    * makes the reader derive by hand.
    *
    * Exactness: the same six-integer census as R59/R64 (shared
    * builder); n_req is ONE double tree over the exact integers,
    * ceil'd to BIGINT identically on both engines (shared verbatim);
    * `sufficient` is an integer compare under the guard. Degenerate
    * arms (R59 guard) or a non-positive control mean read NULL and
    * sufficient = false.
    *
    * Scale shape: identical to R59/R64 (two partial-agg'd Exchanges)
    * plus a broadcast 4-row Δ grid — ≤ #event_types × 4 rows after.
    */
  def qPower(spark: SparkSession, dir: String): DataFrame =
    powerCensus(events(spark, dir))

  /** The curve over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def powerCensus(ev: DataFrame): DataFrame = {
    val grid = ev.sparkSession
      .createDataFrame(PowerDeltaPcts.map(Tuple1(_)))
      .toDF("delta_pct")
    welchBase(ev).crossJoin(broadcast(grid))
      .select(col("event_type"), col("delta_pct"),
        col("n_a"), col("n_b"),
        expr(s"CASE WHEN $powerGuard THEN " +
          s"CAST(ceil($powerNReq) AS BIGINT) END").as("n_req"),
        expr(s"CASE WHEN $powerGuard THEN " +
          s"n_a >= CAST(ceil($powerNReq) AS BIGINT) AND " +
          s"n_b >= CAST(ceil($powerNReq) AS BIGINT) " +
          s"ELSE false END").as("sufficient"))
      .orderBy("event_type", "delta_pct")
  }

  private val powerOracle =
    s"""$evCte,
       |m AS (
       |  SELECT event_type, user_id,
       |    CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS s
       |  FROM ev GROUP BY 1, 2
       |),
       |cen AS (
       |  SELECT event_type,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_b,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN s ELSE 0 END)
       |         AS BIGINT) AS sum_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN s ELSE 0 END)
       |         AS BIGINT) AS sum_b,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN s * s ELSE 0 END)
       |         AS BIGINT) AS ss_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN s * s ELSE 0 END)
       |         AS BIGINT) AS ss_b
       |  FROM m GROUP BY 1
       |),
       |grid(delta_pct) AS (
       |  SELECT CAST(v.c AS BIGINT)
       |  FROM (VALUES ${PowerDeltaPcts.map(p => s"($p)").mkString(", ")})
       |    v(c)
       |)
       |SELECT event_type, delta_pct, n_a, n_b,
       |  CASE WHEN $powerGuard THEN
       |    CAST(ceil($powerNReq) AS BIGINT) END AS n_req,
       |  CASE WHEN $powerGuard THEN
       |    n_a >= CAST(ceil($powerNReq) AS BIGINT) AND
       |    n_b >= CAST(ceil($powerNReq) AS BIGINT)
       |  ELSE false END AS sufficient
       |FROM cen CROSS JOIN grid
       |ORDER BY event_type, delta_pct""".stripMargin

  // ------------------------------- sample-ratio mismatch (R66)

  /** χ²(1) upper bound at α = 0.001 in micro units — SRM pages at a
    * much stricter bar than effect tests (a true SRM invalidates the
    * whole experiment, so false alarms are expensive): 10.828.
    */
  val SrmChi2MicroBar = 10827566L

  /** R66: sample-ratio-mismatch check per event type — the FIRST
    * validity alarm every experimentation platform runs before
    * reading any effect (Fabijan et al. 2019, "Diagnosing sample
    * ratio mismatch"): if the arm sizes deviate from the designed
    * 50/50 beyond chance, the assignment or logging pipeline is
    * broken (bot filtering one arm, a crash path dropping events,
    * redirect asymmetry) and EVERY downstream readout — R33, R59,
    * R34, R63, R64 — is invalid regardless of its p-value. The
    * two-cell χ² collapses to (n_a − n_b)²/n exactly.
    *
    * Exactness: arm counts are exact distinct-user integers; χ² is
    * ONE micro-floored tree over them ((n_a − n_b)² exact to ~3·10⁹
    * users per type); the alarm is an integer compare against the
    * documented α = 0.001 bar. Empty types read NULL on the guard.
    *
    * Scale shape: one distinct over (event_type, user), one
    * (event_type) census Exchange; ≤ #event_types rows after.
    */
  def qSrm(spark: SparkSession, dir: String): DataFrame =
    srmCensus(events(spark, dir))

  /** The check over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def srmCensus(ev: DataFrame): DataFrame =
    srmFromUsers(ev.select(col("event_type"), col("user_id")).distinct())

  /** The SRM statistics stage over an already-distinct
    * (event_type, user_id) relation — factored so the T28 streaming
    * store ([[graft.streaming.StreamingSrm]]) serves the EXACT batch
    * shape from its accumulated user relation (shared code, not a
    * reimplementation — the T25/T26 discipline).
    */
  def srmFromUsers(users: DataFrame): DataFrame =
    users
      .withColumn("arm", expr("user_id % 2"))
      .groupBy("event_type")
      .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        expr("CASE WHEN n_a + n_b > 0 THEN " +
          "CAST(floor(1000000.0 * " +
          "(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / " +
          "CAST(n_a + n_b AS DOUBLE))) AS BIGINT) END")
          .as("chi2_micro"))
      .withColumn("srm_alarm",
        coalesce(col("chi2_micro") >= SrmChi2MicroBar, lit(false)))
      .orderBy("event_type")

  private val srmOracle =
    s"""$evCte,
       |u AS (SELECT DISTINCT event_type, user_id FROM ev),
       |cen AS (
       |  SELECT event_type,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_b
       |  FROM u GROUP BY 1
       |),
       |f AS (
       |  SELECT event_type, n_a, n_b,
       |    CASE WHEN n_a + n_b > 0 THEN
       |      CAST(floor(1000000.0 *
       |        (CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) /
       |         CAST(n_a + n_b AS DOUBLE))) AS BIGINT) END
       |      AS chi2_micro
       |  FROM cen
       |)
       |SELECT event_type, n_a, n_b, chi2_micro,
       |  coalesce(chi2_micro >= $SrmChi2MicroBar, false) AS srm_alarm
       |FROM f ORDER BY event_type""".stripMargin

  // ------------------------- cluster-robust standard errors (R74)

  /** Shared double trees for [[clusterSeCensus]] — interpolated
    * verbatim into both engines. Operands: per-arm event count nn,
    * cents sum ss, cents² sum qq, floored cluster-residual mass crn
    * (all exact integers).
    */
  private val clusterSeZ =
    """((CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) -
      |  CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)) /
      | sqrt(CAST(crna AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE)) +
      |      CAST(crnb AS DOUBLE) / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE))))"""
      .stripMargin.replaceAll("\\s+", " ").trim
  private val clusterSeDeff =
    """((CAST(crn AS DOUBLE) / CAST(nn AS DOUBLE)) /
      | (CAST(qq AS DOUBLE) / CAST(nn AS DOUBLE) -
      |  (CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE)) *
      |  (CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE))))"""
      .stripMargin.replaceAll("\\s+", " ").trim

  def qClusterSe(spark: SparkSession, dir: String): DataFrame =
    clusterSeCensus(events(spark, dir))

  /** R74: cluster-robust (CR0) standard errors for the per-event arm
    * means — the variance an experiment platform MUST use when it
    * randomizes by user but analyzes per-event metrics: a user's
    * events share everything the user carries, so the iid SE
    * understates the truth by the design effect (≈ 1 + (m̄−1)ρ,
    * Kish), and "significant" results evaporate under re-randomization
    * (the classic A/B pitfall; Liang–Zeger 1986 sandwich, CR0 form).
    *
    * Exactness: per-user totals T_c and event counts n_c are integer
    * cents/counts; the cluster residual T_c − n_c·(S/n) scales to the
    * exact integer n·T_c − n_c·S, and each cluster's squared residual
    * (that integer / n)² is floored to integer cents² PER TERM (the
    * R61 per-term-floor discipline) so the cross-cluster reduction
    * sums integers — partial-agg association cannot drift it. The z
    * and design-effect readouts are single mirrored double trees over
    * the six-integer census. Integer bound: |n·T_c| must stay inside
    * int64 (≈ 9·10¹⁸ — e.g. 10⁹ events against 10⁹-cent user totals);
    * both engines error loudly past it rather than wrapping — DuckDB
    * unconditionally, Spark under ANSI mode (the Spark 4 default;
    * non-ANSI BIGINT arithmetic wraps silently, so the census REQUIRES
    * `spark.sql.ansi.enabled` up front rather than trusting the
    * session; ScaleOpsSpec pins the overflow throw).
    *
    * Output per event_type: event counts, distinct users, cents sums,
    * floored cluster-residual masses, the cluster-robust z of the B−A
    * per-event mean difference, and each arm's design effect (cluster
    * variance / iid variance — the "how wrong was naive" number).
    *
    * Scale shape: ONE (event_type, user) cluster-census Exchange
    * (user-bounded, the natural experiment grain), a broadcast of the
    * event_type-sized arm totals back onto it, then ONE (event_type)
    * rollup carrying six integers per arm.
    */
  def clusterSeCensus(ev: DataFrame): DataFrame = {
    // the exactness contract above leans on ANSI overflow semantics;
    // a non-ANSI session would wrap n·T_c silently instead of erroring
    require(ev.sparkSession.conf.get("spark.sql.ansi.enabled").toBoolean,
      "clusterSeCensus requires spark.sql.ansi.enabled (loud int64 " +
        "overflow; non-ANSI arithmetic wraps silently)")
    val cl = ev.select(col("event_type"),
        col("user_id"), expr("user_id % 2").as("arm"),
        cents(col("value")).as("v"))
      .groupBy("event_type", "user_id", "arm")
      .agg(count(lit(1)).as("n_c"), sum("v").as("t_c"),
        sum(col("v") * col("v")).as("q_c"))
    val tot = cl.groupBy("event_type", "arm")
      .agg(sum("n_c").as("nn"), sum("t_c").as("ss"))
    val terms = cl.join(broadcast(tot), Seq("event_type", "arm"))
      .select(col("event_type"), col("arm"), col("n_c"), col("t_c"),
        col("q_c"), col("nn"), col("ss"),
        expr("CAST(floor(" +
          "(CAST(nn * t_c - n_c * ss AS DOUBLE) / CAST(nn AS DOUBLE)) * " +
          "(CAST(nn * t_c - n_c * ss AS DOUBLE) / CAST(nn AS DOUBLE))" +
          ") AS BIGINT)").as("term"))
    val arms = terms.groupBy("event_type", "arm")
      .agg(max("nn").as("nn"), max("ss").as("ss"),
        count(lit(1)).as("uu"), sum("q_c").as("qq"),
        sum("term").as("crn"))
      .withColumn("deff_micro",
        when(expr("qq * nn > ss * ss"),
          expr(s"CAST(floor(1000000.0 * $clusterSeDeff) AS BIGINT)")))
    val a = arms.filter(col("arm") === 0L)
      .select(col("event_type"), col("nn").as("na"),
        col("uu").as("users_a"), col("ss").as("sa"),
        col("crn").as("crna"), col("deff_micro").as("deff_a_micro"))
    val b = arms.filter(col("arm") === 1L)
      .select(col("event_type"), col("nn").as("nb"),
        col("uu").as("users_b"), col("ss").as("sb"),
        col("crn").as("crnb"), col("deff_micro").as("deff_b_micro"))
    a.join(b, Seq("event_type"))
      .select(col("event_type"), col("na").as("n_a"),
        col("nb").as("n_b"), col("users_a"), col("users_b"),
        col("sa").as("sum_a_cents"), col("sb").as("sum_b_cents"),
        col("crna").as("cr_mass_a"), col("crnb").as("cr_mass_b"),
        when(col("crna") + col("crnb") > 0L,
          expr(s"CAST(floor(1000000.0 * $clusterSeZ) AS BIGINT)"))
          .as("z_micro"),
        col("deff_a_micro"), col("deff_b_micro"))
      .orderBy("event_type")
  }

  private val clusterSeOracle = {
    val deffA = clusterSeDeff.replace("crn", "crna").replace("nn", "na")
      .replace("ss", "sa").replace("qq", "qa")
    val deffB = clusterSeDeff.replace("crn", "crnb").replace("nn", "nb")
      .replace("ss", "sb").replace("qq", "qb")
    s"""$evCte,
       |cl AS (
       |  SELECT event_type, user_id, user_id % 2 AS arm,
       |    CAST(count(*) AS BIGINT) AS n_c,
       |    CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT)
       |      AS t_c,
       |    CAST(sum(CAST(round(value * 100.0) AS BIGINT) *
       |             CAST(round(value * 100.0) AS BIGINT)) AS BIGINT)
       |      AS q_c
       |  FROM ev GROUP BY 1, 2, 3
       |),
       |tot AS (
       |  SELECT event_type, arm, CAST(sum(n_c) AS BIGINT) AS nn,
       |    CAST(sum(t_c) AS BIGINT) AS ss
       |  FROM cl GROUP BY 1, 2
       |),
       |terms AS (
       |  SELECT c.event_type, c.arm, c.q_c, t.nn, t.ss,
       |    CAST(floor(
       |      (CAST(t.nn * c.t_c - c.n_c * t.ss AS DOUBLE) /
       |       CAST(t.nn AS DOUBLE)) *
       |      (CAST(t.nn * c.t_c - c.n_c * t.ss AS DOUBLE) /
       |       CAST(t.nn AS DOUBLE))) AS BIGINT) AS term
       |  FROM cl c JOIN tot t USING (event_type, arm)
       |),
       |arms AS (
       |  SELECT event_type, arm, max(nn) AS nn, max(ss) AS ss,
       |    CAST(count(*) AS BIGINT) AS uu,
       |    CAST(sum(q_c) AS BIGINT) AS qq,
       |    CAST(sum(term) AS BIGINT) AS crn
       |  FROM terms GROUP BY 1, 2
       |),
       |j AS (
       |  SELECT a.event_type,
       |    a.nn AS na, b.nn AS nb, a.uu AS users_a, b.uu AS users_b,
       |    a.ss AS sa, b.ss AS sb, a.qq AS qa, b.qq AS qb,
       |    a.crn AS crna, b.crn AS crnb
       |  FROM arms a JOIN arms b ON a.event_type = b.event_type
       |  WHERE a.arm = 0 AND b.arm = 1
       |)
       |SELECT event_type, na AS n_a, nb AS n_b, users_a, users_b,
       |  sa AS sum_a_cents, sb AS sum_b_cents,
       |  crna AS cr_mass_a, crnb AS cr_mass_b,
       |  CASE WHEN crna + crnb > 0 THEN
       |    CAST(floor(1000000.0 * $clusterSeZ) AS BIGINT) END
       |    AS z_micro,
       |  CASE WHEN qa * na > sa * sa THEN
       |    CAST(floor(1000000.0 * $deffA) AS BIGINT) END
       |    AS deff_a_micro,
       |  CASE WHEN qb * nb > sb * sb THEN
       |    CAST(floor(1000000.0 * $deffB) AS BIGINT) END
       |    AS deff_b_micro
       |FROM j ORDER BY event_type""".stripMargin
  }

  // -------------------------------- Brown–Forsythe / Levene (R60)

  /** Shared F tree for [[leveneCensus]] over the one-row global census
    * (nn, kk, zz, sstot, uu) — interpolated verbatim into both engines.
    */
  private val leveneF =
    """((CAST(nn - kk AS DOUBLE) / CAST(kk - 1 AS DOUBLE)) *
      | ((CAST(uu AS DOUBLE) -
      |   (CAST(zz AS DOUBLE) * CAST(zz AS DOUBLE)) / CAST(nn AS DOUBLE))
      |  / (CAST(sstot AS DOUBLE) - CAST(uu AS DOUBLE))))"""
      .stripMargin.replaceAll("\\s+", " ").trim
  private val leveneGuard =
    "kk >= 2 AND nn > kk AND " +
      "(CAST(sstot AS DOUBLE) - CAST(uu AS DOUBLE)) > 0.0"

  /** R61 census term: Σz per group squared over n, floored to an
    * integer in cents² units so the cross-group reduction sums
    * INTEGERS (Spark's partial aggregation and DuckDB's sequential
    * scan would associate a cross-group double sum differently — the
    * X51 per-term-floor discipline; the dropped sub-cents² fraction is
    * identical on both engines).
    */
  private val leveneU =
    """CAST(floor((CAST(z_sum AS DOUBLE) * CAST(z_sum AS DOUBLE)) /
      | CAST(n AS DOUBLE)) AS BIGINT)"""
      .stripMargin.replaceAll("\\s+", " ").trim

  /** R60: Brown–Forsythe variance-equality test across market
    * segments — the HETEROSCEDASTICITY gate in front of every
    * mean-comparison in the family (R47's ANOVA and R59's pooled
    * reading assume comparable spreads; this is the standard check
    * that assumption deserves — Brown & Forsythe 1974, the
    * median-centered Levene variant, robust where the mean-centered
    * original is itself wrecked by the outliers it is looking for):
    * per-segment account-balance deviations z = |x − median| feed a
    * one-way ANOVA; a large F says the segments' SPREADS differ, so
    * segment-pooled variance estimates (and any downstream t) are
    * suspect. Production reading: which customer segment is the
    * high-variance one before trusting a cross-segment comparison.
    *
    * Exactness: balances are exact integer cents; medians are lower
    * medians rank-picked off the (segment, value) census — actual
    * corpus values, no interpolation, so z stays integer; per-segment
    * n, Σz, Σz² are exact integer aggregates; each segment's Σz²/n
    * term is floored to integer cents² BEFORE the cross-group sum
    * (the X51 discipline — cross-group double accumulation is
    * association-dependent), and F is ONE micro-floored fixed double
    * tree over the five global integers, interpolated verbatim into
    * both engines. Degenerate layouts (k < 2 segments, N ≤ k, or zero
    * within-group deviation mass) read NULL F — the guard compares
    * the IDENTICAL double both engines compute.
    *
    * Scale shape: ONE (segment, value) partial-agg'd Exchange builds
    * the census; the median pick is a census-window cumulative (the
    * X46 rank-pick discipline), the deviation relation is census ⋈
    * broadcast k-row medians, the rollup is k rows, and the global
    * constants ride a broadcast ONE-ROW relation (whitelisted BNLJ).
    * Nothing row-grain past the first Exchange.
    */
  def qLevene(spark: SparkSession, dir: String): DataFrame =
    leveneCensus(Tables.customer(spark, dir))

  /** The test over any customer-shaped frame — factored for the
    * hand-computed spec.
    */
  def leveneCensus(cust: DataFrame): DataFrame = {
    val cen = cust
      .select(col("c_mktsegment").as("segment"),
        cents(col("c_acctbal")).as("v"))
      .groupBy("segment", "v").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("segment").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSeg = Window.partitionBy("segment")
    val med = cen
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("nseg", sum("cnt").over(wSeg))
      .filter(col("cum") >= expr("(nseg + 1) div 2"))
      .groupBy("segment").agg(min("v").as("med"))
    val z = cen.join(broadcast(med), "segment")
      .select(col("segment"), col("cnt"), col("med"),
        abs(col("v") - col("med")).as("z"))
    val grp = z.groupBy("segment")
      .agg(max("med").as("med_cents"), sum("cnt").as("n"),
        sum(col("cnt") * col("z")).as("z_sum"),
        sum(col("cnt") * col("z") * col("z")).as("z_ss"))
      .withColumn("u", expr(leveneU))
    val g = grp.agg(sum("n").as("nn"), count(lit(1)).as("kk"),
      sum("z_sum").as("zz"), sum("z_ss").as("sstot"),
      sum("u").as("uu"))
    grp.crossJoin(broadcast(g))
      .select(col("segment"), col("n"), col("med_cents"),
        col("z_sum"), col("z_ss"), col("u"),
        expr(s"CASE WHEN $leveneGuard THEN " +
          s"CAST(floor(1000000.0 * $leveneF) AS BIGINT) END")
          .as("f_micro"),
        (col("kk") - 1L).as("df1"), (col("nn") - col("kk")).as("df2"))
      .orderBy("segment")
  }

  private val leveneOracle =
    s"""WITH cen AS (
       |  SELECT c_mktsegment AS segment,
       |    CAST(round(c_acctbal * 100.0) AS BIGINT) AS v,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM customer GROUP BY 1, 2
       |),
       |wc AS (
       |  SELECT segment, v, cnt,
       |    CAST(sum(cnt) OVER (PARTITION BY segment ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY segment) AS BIGINT) AS nseg
       |  FROM cen
       |),
       |med AS (
       |  SELECT segment, min(v) AS med FROM wc
       |  WHERE cum >= (nseg + 1) // 2 GROUP BY 1
       |),
       |z AS (
       |  SELECT c.segment, c.cnt, m.med, abs(c.v - m.med) AS z
       |  FROM cen c JOIN med m USING (segment)
       |),
       |grp AS (
       |  SELECT segment, CAST(max(med) AS BIGINT) AS med_cents,
       |    CAST(sum(cnt) AS BIGINT) AS n,
       |    CAST(sum(cnt * z) AS BIGINT) AS z_sum,
       |    CAST(sum(cnt * z * z) AS BIGINT) AS z_ss
       |  FROM z GROUP BY 1
       |),
       |gu AS (SELECT *, $leveneU AS u FROM grp),
       |g AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS nn,
       |    CAST(count(*) AS BIGINT) AS kk,
       |    CAST(sum(z_sum) AS BIGINT) AS zz,
       |    CAST(sum(z_ss) AS BIGINT) AS sstot,
       |    CAST(sum(u) AS BIGINT) AS uu
       |  FROM gu
       |)
       |SELECT segment, n, med_cents, z_sum, z_ss, u,
       |  CASE WHEN $leveneGuard THEN
       |    CAST(floor(1000000.0 * $leveneF) AS BIGINT) END AS f_micro,
       |  CAST(kk - 1 AS BIGINT) AS df1,
       |  CAST(nn - kk AS BIGINT) AS df2
       |FROM gu, g ORDER BY segment""".stripMargin

  // -------------------------------- Wilcoxon signed-rank (R62)

  /** Shared variance/z trees for [[wilcoxonCensus]] over the
    * (n, w_x2, tie_cubes) integer census — interpolated verbatim.
    */
  private val wilcoxonVar =
    """((CAST((n * (n + 1)) * (2 * n + 1) AS DOUBLE) / 24.0) -
      | (CAST(tie_cubes AS DOUBLE) / 48.0))"""
      .stripMargin.replaceAll("\\s+", " ").trim
  private val wilcoxonZ =
    s"(((CAST(w_x2 AS DOUBLE) / 2.0) - " +
      s"(CAST(n * (n + 1) AS DOUBLE) / 4.0)) / sqrt($wilcoxonVar))"

  /** R62: Wilcoxon signed-rank test per event type — the PAIRED
    * completion of the experiment battery (R33 chi² on conversion,
    * R59 Welch on independent means, R34 Mann–Whitney on independent
    * ranks — this is the within-subject lens): each user is their own
    * control, the paired difference is their LAST event value minus
    * their FIRST (did the metric move over the user's own history —
    * the session-growth / habituation readout), |d| is midranked and
    * the positive-rank sum W⁺ tested against its null (Wilcoxon 1945;
    * the normal approximation with the standard tie correction).
    * Zero differences drop (the classic Wilcoxon treatment), so
    * single-event users never contribute.
    *
    * Exactness: first/last are arg-min/arg-max by the unique
    * event_id (deterministic, no timestamp ties to adjudicate);
    * differences are exact integer cents; ranks live on the
    * (type, |d|) census with midrank ties kept exact by DOUBLING
    * (the R34 discipline — 2·rank stays integer); W⁺·2, n, and the
    * tie term Σ(t³−t) are exact integers; z is ONE micro-floored
    * fixed double tree. Degenerate types (no nonzero differences, or
    * zero variance — all |d| tied at one value... still positive var;
    * var = 0 only at n = 0) read NULL z on the identical guard.
    *
    * Scale shape: one (event_type, user) partial-agg'd Exchange (the
    * per-user first/last pair), one (type, |d|) census Exchange; the
    * rank window partitions BY TYPE over census rows (the R34
    * census-window discipline); the rollup is ≤ #event_types rows.
    */
  def qWilcoxon(spark: SparkSession, dir: String): DataFrame =
    wilcoxonCensus(events(spark, dir))

  /** The test over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def wilcoxonCensus(ev: DataFrame): DataFrame = {
    val d = ev
      .select(col("event_type"), col("user_id"),
        cents(col("value")).as("v"), col("event_id"))
      .groupBy("event_type", "user_id")
      .agg((max_by(col("v"), col("event_id")) -
        min_by(col("v"), col("event_id"))).as("d"))
      .filter(col("d") =!= 0L)
    val cen = d.select(col("event_type"), abs(col("d")).as("a"),
        when(col("d") > 0L, 1L).otherwise(0L).as("pos"))
      .groupBy("event_type", "a")
      .agg(sum("pos").as("n_pos"),
        sum(lit(1L) - col("pos")).as("n_neg"))
    val w = Window.partitionBy("event_type").orderBy("a")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cen
      .withColumn("m", col("n_pos") + col("n_neg"))
      .withColumn("cum", sum("m").over(w))
      .withColumn("rank2",
        lit(2L) * (col("cum") - col("m")) + col("m") + 1L)
    ranked.groupBy("event_type")
      .agg(sum("m").as("n"),
        sum(col("n_pos")).as("n_pos"),
        sum(col("n_neg")).as("n_neg"),
        sum(col("n_pos") * col("rank2")).as("w_x2"),
        sum(col("m") * col("m") * col("m") - col("m")).as("tie_cubes"))
      .select(col("event_type"), col("n"), col("n_pos"), col("n_neg"),
        col("w_x2"), col("tie_cubes"),
        expr(s"CASE WHEN n > 0 AND $wilcoxonVar > 0.0 THEN " +
          s"CAST(floor(1000000.0 * $wilcoxonZ) AS BIGINT) END")
          .as("z_micro"))
      .orderBy("event_type")
  }

  private val wilcoxonOracle =
    s"""$evCte,
       |d0 AS (
       |  SELECT event_type, user_id,
       |    CAST(arg_max(CAST(round(value * 100.0) AS BIGINT), event_id)
       |      - arg_min(CAST(round(value * 100.0) AS BIGINT), event_id)
       |      AS BIGINT) AS d
       |  FROM ev GROUP BY 1, 2
       |),
       |d AS (SELECT * FROM d0 WHERE d <> 0),
       |cen AS (
       |  SELECT event_type, abs(d) AS a,
       |    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_pos,
       |    CAST(sum(CASE WHEN d > 0 THEN 0 ELSE 1 END) AS BIGINT)
       |      AS n_neg
       |  FROM d GROUP BY 1, 2
       |),
       |ranked AS (
       |  SELECT event_type, n_pos, n_neg, n_pos + n_neg AS m,
       |    2 * (CAST(sum(n_pos + n_neg) OVER (PARTITION BY event_type
       |           ORDER BY a) AS BIGINT) - (n_pos + n_neg))
       |      + (n_pos + n_neg) + 1 AS rank2
       |  FROM cen
       |),
       |agg AS (
       |  SELECT event_type, CAST(sum(m) AS BIGINT) AS n,
       |    CAST(sum(n_pos) AS BIGINT) AS n_pos,
       |    CAST(sum(n_neg) AS BIGINT) AS n_neg,
       |    CAST(sum(n_pos * rank2) AS BIGINT) AS w_x2,
       |    CAST(sum(m * m * m - m) AS BIGINT) AS tie_cubes
       |  FROM ranked GROUP BY 1
       |)
       |SELECT event_type, n, n_pos, n_neg, w_x2, tie_cubes,
       |  CASE WHEN n > 0 AND $wilcoxonVar > 0.0 THEN
       |    CAST(floor(1000000.0 * $wilcoxonZ) AS BIGINT) END AS z_micro
       |FROM agg ORDER BY event_type""".stripMargin

  // ---------------------------- two-sample KS between arms (R63)

  /** R63: two-sample Kolmogorov–Smirnov test between experiment arms
    * per event type — the SHAPE lens of the experiment battery (R33:
    * did conversion move; R59: did the mean move; R34: did the ranks
    * shift; THIS: did the distribution change shape anywhere — a
    * variance squeeze, a new mode, a fattened tail all move D while
    * leaving mean and median still): D = sup|F_a − F_b| over the
    * pooled value census, with the asymptotic statistic
    * √(n_a·n_b/(n_a+n_b))·D whose 1.36 bar is the α = 0.05 gate
    * (Smirnov 1948). X44 runs one-sample KS per source against the
    * corpus; this is the two-sample form on the experiment split.
    *
    * Exactness: D is computed as an INTEGER maximization —
    * max|cum_a·n_b − cum_b·n_a| over census rows (the common
    * denominator n_a·n_b cleared, so the sup is exact rational
    * arithmetic with no doubles anywhere); the D and KS statistics
    * are each ONE micro-floored double tree over exact integers.
    * Single-arm types (n_a·n_b = 0) read NULL on the shared guard.
    *
    * Scale shape: one (event_type, value) partial-agg'd Exchange with
    * per-arm counts; cumulative sums ride the census window BY TYPE
    * (the R34/X33 discipline); the rollup is ≤ #event_types rows.
    */
  def qKsArms(spark: SparkSession, dir: String): DataFrame =
    ksArmsCensus(events(spark, dir))

  /** The test over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def ksArmsCensus(ev: DataFrame): DataFrame = {
    val cen = ev
      .select(col("event_type"), cents(col("value")).as("v"),
        expr("user_id % 2").as("arm"))
      .groupBy("event_type", "v")
      .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("ca"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("cb"))
    val w = Window.partitionBy("event_type").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wType = Window.partitionBy("event_type")
    val cum = cen
      .withColumn("cum_a", sum("ca").over(w))
      .withColumn("cum_b", sum("cb").over(w))
      .withColumn("n_a", sum("ca").over(wType))
      .withColumn("n_b", sum("cb").over(wType))
    cum.groupBy("event_type")
      .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
        max(abs(col("cum_a") * col("n_b") -
          col("cum_b") * col("n_a"))).as("d_num"))
      .select(col("event_type"), col("n_a"), col("n_b"), col("d_num"),
        expr("CASE WHEN n_a > 0 AND n_b > 0 THEN " +
          "CAST(floor(1000000.0 * (CAST(d_num AS DOUBLE) / " +
          "CAST(n_a * n_b AS DOUBLE))) AS BIGINT) END").as("d_micro"),
        expr("CASE WHEN n_a > 0 AND n_b > 0 THEN " +
          "CAST(floor(1000000.0 * (sqrt(CAST(n_a * n_b AS DOUBLE) / " +
          "CAST(n_a + n_b AS DOUBLE)) * (CAST(d_num AS DOUBLE) / " +
          "CAST(n_a * n_b AS DOUBLE)))) AS BIGINT) END").as("ks_micro"))
      .orderBy("event_type")
  }

  private val ksArmsOracle =
    s"""$evCte,
       |cen AS (
       |  SELECT event_type, CAST(round(value * 100.0) AS BIGINT) AS v,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS ca,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS cb
       |  FROM ev GROUP BY 1, 2
       |),
       |cum AS (
       |  SELECT event_type, ca, cb,
       |    CAST(sum(ca) OVER (PARTITION BY event_type ORDER BY v)
       |         AS BIGINT) AS cum_a,
       |    CAST(sum(cb) OVER (PARTITION BY event_type ORDER BY v)
       |         AS BIGINT) AS cum_b,
       |    CAST(sum(ca) OVER (PARTITION BY event_type) AS BIGINT)
       |      AS n_a,
       |    CAST(sum(cb) OVER (PARTITION BY event_type) AS BIGINT)
       |      AS n_b
       |  FROM cen
       |),
       |agg AS (
       |  SELECT event_type, CAST(max(n_a) AS BIGINT) AS n_a,
       |    CAST(max(n_b) AS BIGINT) AS n_b,
       |    CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT)
       |      AS d_num
       |  FROM cum GROUP BY 1
       |)
       |SELECT event_type, n_a, n_b, d_num,
       |  CASE WHEN n_a > 0 AND n_b > 0 THEN
       |    CAST(floor(1000000.0 * (CAST(d_num AS DOUBLE) /
       |      CAST(n_a * n_b AS DOUBLE))) AS BIGINT) END AS d_micro,
       |  CASE WHEN n_a > 0 AND n_b > 0 THEN
       |    CAST(floor(1000000.0 * (sqrt(CAST(n_a * n_b AS DOUBLE) /
       |      CAST(n_a + n_b AS DOUBLE)) * (CAST(d_num AS DOUBLE) /
       |      CAST(n_a * n_b AS DOUBLE)))) AS BIGINT) END AS ks_micro
       |FROM agg ORDER BY event_type""".stripMargin

  // --------------------------- quantile treatment effects (R67)

  /** R67: quantile treatment effects per event type — the
    * DISTRIBUTIONAL experiment readout (Koenker's quantile-regression
    * viewpoint applied to two-sample comparison): R59 answers "did
    * the MEAN move", but a treatment that fattens the p90 while
    * thinning the p25 can leave the mean still — pricing, latency,
    * and engagement interventions routinely move specific quantiles
    * — so platforms report the per-quantile arm difference at
    * {p25, p50, p75, p90}. Read next to R63's KS (which says "the
    * shape moved SOMEWHERE"); this says WHERE.
    *
    * Exactness: quantiles are rank-picked ACTUAL cents values (the
    * X46 lower-quantile discipline — position ((n−1)·num) div den + 1
    * on the per-arm value census, no interpolation, so every column
    * including the difference is an exact integer). Single-arm types
    * emit no rows for the missing arm's quantiles — the join is
    * inner, so the census only carries types with BOTH arms
    * (documented; R66 pages on those first anyway).
    *
    * Scale shape: one (event_type, arm, value) partial-agg'd census
    * Exchange; cumulative ranks ride census windows BY (type, arm);
    * the quantile grid is a broadcast 4-row relation (whitelisted
    * BNLJ); everything after is (types × 4)-sized.
    */
  val QteQuantiles: Seq[(String, Int, Int)] =
    Seq(("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p90", 9, 10))

  def qQte(spark: SparkSession, dir: String): DataFrame =
    qteCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def qteCensus(ev: DataFrame): DataFrame = {
    val cen = ev
      .select(col("event_type"), expr("user_id % 2").as("arm"),
        cents(col("value")).as("v"))
      .groupBy("event_type", "arm", "v")
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("event_type", "arm").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wArm = Window.partitionBy("event_type", "arm")
    val ranked = cen
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(wArm))
    val grid = ev.sparkSession
      .createDataFrame(QteQuantiles.map { case (l, nu, de) =>
        (l, nu.toLong, de.toLong)
      }).toDF("q_label", "num", "den")
    val picked = ranked.crossJoin(broadcast(grid))
      .filter(col("cum") >=
        expr("((n - 1) * num) div den + 1"))
      .groupBy("event_type", "arm", "q_label")
      .agg(min("v").as("q"), max("n").as("n"))
    picked.filter(col("arm") === 0L)
      .select(col("event_type"), col("q_label"),
        col("n").as("n_a"), col("q").as("q_a"))
      .join(picked.filter(col("arm") === 1L)
        .select(col("event_type"), col("q_label"),
          col("n").as("n_b"), col("q").as("q_b")),
        Seq("event_type", "q_label"))
      .select(col("event_type"), col("q_label"), col("n_a"),
        col("n_b"), col("q_a"), col("q_b"),
        (col("q_b") - col("q_a")).as("qte"))
      .orderBy("event_type", "q_label")
  }

  private val qteOracle = {
    val gridSql = QteQuantiles.map { case (l, nu, de) =>
      s"SELECT '$l' AS q_label, $nu AS num, $de AS den"
    }.mkString("\nUNION ALL\n")
    s"""$evCte,
       |cen AS (
       |  SELECT event_type, user_id % 2 AS arm,
       |    CAST(round(value * 100.0) AS BIGINT) AS v,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM ev GROUP BY 1, 2, 3
       |),
       |ranked AS (
       |  SELECT event_type, arm, v,
       |    CAST(sum(cnt) OVER (PARTITION BY event_type, arm ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY event_type, arm)
       |      AS BIGINT) AS n
       |  FROM cen
       |),
       |grid AS (
       |$gridSql
       |),
       |picked AS (
       |  SELECT event_type, arm, q_label,
       |    CAST(min(v) AS BIGINT) AS q, CAST(max(n) AS BIGINT) AS n
       |  FROM ranked, grid
       |  WHERE cum >= ((n - 1) * num) // den + 1
       |  GROUP BY 1, 2, 3
       |)
       |SELECT a.event_type, a.q_label, a.n AS n_a, b.n AS n_b,
       |  a.q AS q_a, b.q AS q_b, b.q - a.q AS qte
       |FROM picked a JOIN picked b
       |  ON a.event_type = b.event_type AND a.q_label = b.q_label
       |WHERE a.arm = 0 AND b.arm = 1
       |ORDER BY a.event_type, a.q_label""".stripMargin
  }

  // ------------------------------------ higher-moment census (R61)

  /** Shared central-moment trees for [[momentsCensus]] over the
    * (n, s1..s4) integer census — interpolated verbatim into both
    * engines; every division and product parenthesized so the parse
    * is identical.
    */
  private val momMean = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
  private val momM2 =
    s"((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) - ($momMean * $momMean))"
  private val momM3 =
    s"(((CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)) - " +
      s"((3.0 * $momMean) * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)))) + " +
      s"(((2.0 * $momMean) * $momMean) * $momMean))"
  private val momM4 =
    s"((((CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)) - " +
      s"((4.0 * $momMean) * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)))) + " +
      s"(((6.0 * $momMean) * $momMean) * " +
      s"(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)))) - " +
      s"((((3.0 * $momMean) * $momMean) * $momMean) * $momMean))"
  private val momSkew = s"($momM3 / ($momM2 * sqrt($momM2)))"
  private val momKurt = s"(($momM4 / ($momM2 * $momM2)) - 3.0)"
  private val momGuard = s"n >= 2 AND $momM2 > 0.0"

  /** R61: skewness + excess-kurtosis census of per-user activity —
    * the SHAPE profile of the engagement distribution that mean/
    * variance monitoring is blind to: a mean-stable metric can hide a
    * power-user regime forming (right skew rising), a bot cohort
    * (kurtosis spiking — heavy tails of hyperactive accounts), or a
    * bimodal split; skewness and kurtosis are the standard third/
    * fourth-moment readouts (Pearson moment coefficients, the g₁/g₂
    * population forms), read per event type next to R31's RFM and
    * X44/X51's distribution-drift alarms — those compare SNAPSHOTS,
    * this profiles one snapshot's tail weight.
    *
    * Exactness: the metric (events per user) is an exact integer, so
    * the four power sums are exact integer aggregates (Σx⁴ exact to
    * ~1000-event users × 10¹² users — the documented Long-headroom
    * ceiling, DuckDB errors identically past it); the mean is an
    * integer micro floor-division; g₁ and g₂ are each ONE
    * micro-floored fixed double tree over (n, s1..s4), fully
    * parenthesized and interpolated verbatim into both engines.
    * Degenerate types (n < 2 users, or zero variance — every user
    * identical) read NULL g₁/g₂; the guard compares the IDENTICAL
    * double both engines compute.
    *
    * Scale shape: one (event_type, user) partial-agg'd Exchange (the
    * per-user count), one (event_type) partial-agg'd Exchange with
    * map-side combine carrying five integers; everything after is
    * ≤ #event_types rows of scalar arithmetic. No window, no join.
    */
  def qMoments(spark: SparkSession, dir: String): DataFrame =
    momentsCensus(events(spark, dir))

  /** The census over any events-shaped frame — factored for the
    * hand-computed spec.
    */
  def momentsCensus(ev: DataFrame): DataFrame = {
    val m = ev.select(col("event_type"), col("user_id"))
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("x"))
    m.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("s1"),
        sum(col("x") * col("x")).as("s2"),
        sum(col("x") * col("x") * col("x")).as("s3"),
        sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
      .select(col("event_type"), col("n"), col("s1"), col("s2"),
        col("s3"), col("s4"),
        expr("(s1 * 1000000) div n").as("mean_micro"),
        expr(s"CASE WHEN $momGuard THEN " +
          s"CAST(floor(1000000.0 * $momSkew) AS BIGINT) END")
          .as("skew_micro"),
        expr(s"CASE WHEN $momGuard THEN " +
          s"CAST(floor(1000000.0 * $momKurt) AS BIGINT) END")
          .as("kurt_micro"))
      .orderBy("event_type")
  }

  private val momentsOracle =
    s"""$evCte,
       |m AS (
       |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS x
       |  FROM ev GROUP BY 1, 2
       |),
       |cen AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS s1,
       |    CAST(sum(x * x) AS BIGINT) AS s2,
       |    CAST(sum(x * x * x) AS BIGINT) AS s3,
       |    CAST(sum(x * x * x * x) AS BIGINT) AS s4
       |  FROM m GROUP BY 1
       |)
       |SELECT event_type, n, s1, s2, s3, s4,
       |  CAST((s1 * 1000000) // n AS BIGINT) AS mean_micro,
       |  CASE WHEN $momGuard THEN
       |    CAST(floor(1000000.0 * $momSkew) AS BIGINT) END AS skew_micro,
       |  CASE WHEN $momGuard THEN
       |    CAST(floor(1000000.0 * $momKurt) AS BIGINT) END AS kurt_micro
       |FROM cen ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_survival"        -> (qSurvival _),
    "q_compaction"      -> (qCompaction _),
    "q_bucket_skew"     -> (qBucketSkew _),
    "q_fk_audit"        -> (qFkAudit _),
    "q_zorder"          -> (qZorder _),
    "q_cusum"           -> (qCusum _),
    "q_autocorr"        -> (qAutocorr _),
    "q_theilsen"        -> (qTheilsen _),
    "q_mann_kendall"    -> (qMannKendall _),
    "q_changepoint"     -> (qChangepoint _),
    "q_acf"             -> (qAcf _),
    "q_spearman"        -> (qSpearman _),
    "q_fano"            -> (qFano _),
    "q_hill"            -> (qHill _),
    "q_cramers_v"       -> (qCramersV _),
    "q_kendall_tau"     -> (qKendallTau _),
    "q_benford"         -> (qBenford _),
    "q_gap_census"      -> (qGapCensus _),
    "q_anova_dow"       -> (qAnovaDow _),
    "q_runs_test"       -> (qRunsTest _),
    "q_latest_snapshot" -> (qLatestSnapshot _),
    "q_scd2"            -> (qScd2 _),
    "q_skew_join"       -> (qSkewJoin _),
    "q_range_join"      -> (qRangeJoin _),
    "q_profile"         -> (qProfile _),
    "q_pivot"           -> (qPivot _),
    "q_integrity"       -> (qIntegrity _),
    "q_json"            -> (qJson _),
    "q_quantiles"       -> (qQuantiles _),
    "q_quantile_census" -> (qQuantileCensus _),
    "q_transitions"     -> (qTransitions _),
    "q_fuzzy_join"      -> (qFuzzyJoin _),
    "q_resample"        -> (qResample _),
    "q_pricing_summary" -> (qPricingSummary _),
    "q_revenue_nation"  -> (qRevenueNation _),
    "q_ship_priority"   -> (qShipPriority _),
    "q_market_share"    -> (qMarketShare _),
    "q_returns"         -> (qReturns _),
    "q_lorenz"          -> (qLorenz _),
    "q_dow"             -> (qDow _),
    "q_basket"          -> (qBasket _),
    "q_sessions"     -> (qSessions _),
    "q_active_users" -> (qActiveUsers _),
    "q_retention"    -> (qRetention _),
    "q_funnel"       -> (qFunnel _),
    "q_funnel_ci"    -> (qFunnelCi _),
    "q_retention_slope" -> (qRetentionSlope _),
    "q_window_suite" -> (qWindowSuite _),
    "q_set_ops"      -> (qSetOps _),
    "q_rollup"       -> (qRollup _),
    "q_cube"         -> (qCube _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_kanon"        -> (qKanon _),
    "q_ldiv"         -> (qLdiv _),
    "q_interarrival" -> (qInterarrival _),
    "q_ewma"         -> (qEwma _),
    "q_rfm"          -> (qRfm _),
    "q_forecast"     -> (qForecast _),
    "q_ab_test"      -> (qAbTest _),
    "q_mannwhitney"  -> (qMannWhitney _),
    "q_welch_t"      -> (qWelchT _),
    "q_levene"       -> (qLevene _),
    "q_moments"      -> (qMoments _),
    "q_wilcoxon"     -> (qWilcoxon _),
    "q_ks_arms"      -> (qKsArms _),
    "q_mde"          -> (qMde _),
    "q_cuped"        -> (qCuped _),
    "q_srm"          -> (qSrm _),
    "q_qte"          -> (qQte _),
    "q_did"          -> (qDid _),
    "q_msprt"        -> (qMsprt _),
    "q_power"        -> (qPower _),
    "q_aa_test"      -> (qAaTest _),
    "q_shrinkage"    -> (qShrinkage _),
    "q_funnel_latency" -> (qFunnelLatency _),
    "q_cluster_se"   -> (qClusterSe _),
    "q_multtest"     -> (qMultTest _),
    "q_bootstrap"    -> (qBootstrap _),
    "q_attribution"  -> (qAttribution _),
    "q_asof"         -> (qAsof _))

  val oracles: Map[String, String] = Map(
    "q_survival"        -> survivalOracle,
    "q_compaction"      -> compactionOracle,
    "q_bucket_skew"     -> bucketSkewOracle,
    "q_fk_audit"        -> fkAuditOracle,
    "q_zorder"          -> zorderOracle,
    "q_cusum"           -> cusumOracle,
    "q_autocorr"        -> autocorrOracle,
    "q_theilsen"        -> theilsenOracle,
    "q_mann_kendall"    -> mannKendallOracle,
    "q_changepoint"     -> changepointOracle,
    "q_acf"             -> acfOracle,
    "q_spearman"        -> spearmanOracle,
    "q_fano"            -> fanoOracle,
    "q_hill"            -> hillOracle,
    "q_cramers_v"       -> cramersVOracle,
    "q_kendall_tau"     -> kendallTauOracle,
    "q_benford"         -> benfordOracle,
    "q_gap_census"      -> gapCensusOracle,
    "q_anova_dow"       -> anovaDowOracle,
    "q_runs_test"       -> runsTestOracle,
    "q_latest_snapshot" -> latestSnapshotOracle,
    "q_scd2"            -> scd2Oracle,
    "q_skew_join"       -> skewJoinOracle,
    "q_range_join"      -> rangeJoinOracle,
    "q_profile"         -> profileOracle,
    "q_pivot"           -> pivotOracle,
    "q_integrity"       -> integrityOracle,
    "q_json"            -> jsonOracle,
    "q_quantiles"       -> quantilesOracle,
    "q_quantile_census" -> quantileCensusOracle,
    "q_transitions"     -> transitionsOracle,
    "q_fuzzy_join"      -> fuzzyJoinOracle,
    "q_resample"        -> resampleOracle,
    "q_pricing_summary" -> pricingSummaryOracle,
    "q_revenue_nation"  -> revenueNationOracle,
    "q_ship_priority"   -> shipPriorityOracle,
    "q_market_share"    -> marketShareOracle,
    "q_returns"         -> returnsOracle,
    "q_lorenz"          -> lorenzOracle,
    "q_dow"             -> dowOracle,
    "q_basket"          -> basketOracle,
    "q_sessions"     -> sessionsOracle,
    "q_active_users" -> activeUsersOracle,
    "q_retention"    -> retentionOracle,
    "q_funnel"       -> funnelOracle,
    "q_funnel_ci"    -> funnelCiOracle,
    "q_retention_slope" -> retentionSlopeOracle,
    "q_window_suite" -> windowSuiteOracle,
    "q_set_ops"      -> setOpsOracle,
    "q_rollup"       -> rollupOracle,
    "q_cube"         -> cubeOracle,
    "q_grouping_sets" -> groupingSetsOracle,
    "q_kanon"        -> kanonOracle,
    "q_ldiv"         -> ldivOracle,
    "q_interarrival" -> interarrivalOracle,
    "q_ewma"         -> ewmaOracle,
    "q_rfm"          -> rfmOracle,
    "q_forecast"     -> forecastOracle,
    "q_ab_test"      -> abTestOracle,
    "q_mannwhitney"  -> mannWhitneyOracle,
    "q_welch_t"      -> welchOracle,
    "q_levene"       -> leveneOracle,
    "q_moments"      -> momentsOracle,
    "q_wilcoxon"     -> wilcoxonOracle,
    "q_ks_arms"      -> ksArmsOracle,
    "q_mde"          -> mdeOracle,
    "q_cuped"        -> cupedOracle,
    "q_srm"          -> srmOracle,
    "q_qte"          -> qteOracle,
    "q_did"          -> didOracle,
    "q_msprt"        -> msprtOracle,
    "q_power"        -> powerOracle,
    "q_aa_test"      -> aaOracle,
    "q_shrinkage"    -> shrinkageOracle,
    "q_funnel_latency" -> funnelLatencyOracle,
    "q_cluster_se"   -> clusterSeOracle,
    "q_multtest"     -> multTestOracle,
    "q_bootstrap"    -> bootstrapOracle,
    "q_attribution"  -> attributionOracle,
    "q_asof"         -> asofOracle)
}
