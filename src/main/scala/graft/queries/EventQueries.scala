package graft.queries

import graft.{QueryDef, QueryRegistry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Time-ordered analytics over the `events` table: the batch expression of
  * the engine's streaming surface (graft.streaming mirrors these with
  * readStream + watermark; identical aggregation logic — see
  * graft.streaming.EventStreams).
  *
  * Scale notes: tumbling-window aggs are plain hash aggs on a derived
  * window-start column (partial + final, no sort); sessionization is one
  * shuffle on user_id then two in-partition window passes — at 100 TB the
  * user_id shuffle is unavoidable (keyed state), and AQE handles user skew.
  */
object EventQueries extends QueryRegistry {

  /** Tumbling 1-hour window aggregation (event-time, batch form). */
  private def hourly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).events
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
      .orderBy($"hour", $"event_type")
  }

  private val hourlySql =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      | count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** Gap-based sessionization (30-min inactivity gap): lag → new-session
    * flag → running sum = session id → per-session aggregate. The A5
    * packer's sequential-state pattern expressed with windows. */
  private def sessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables(s, dir).events
      .withColumn("prev_ts", lag($"ts", 1).over(byUser))
      .withColumn("new_sess",
        when($"prev_ts".isNull ||
          unix_timestamp($"ts") - unix_timestamp($"prev_ts") > 1800, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum($"new_sess").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"),
        min($"ts").as("session_start"),
        max($"ts").as("session_end"),
        round(sum($"value"), 2).as("session_value"))
      .orderBy($"user_id", $"session_id")
  }

  /** shared with st04 (streaming sessionize must equal the batch form) */
  private[queries] val sessionizeSql =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |         OR date_diff('second', lag(ts) OVER w, ts) > 1800
      |      THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, ts, value,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
      |      AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  min(ts) AS session_start, max(ts) AS session_end,
      |  round(sum(value), 2) AS session_value
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** lag/lead inter-event deltas per user (W-family coverage). */
  private def deltas(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables(s, dir).events
      .select($"user_id", $"event_id", $"event_type",
        (unix_timestamp($"ts") -
          unix_timestamp(lag($"ts", 1).over(byUser))).as("secs_since_prev"),
        lead($"event_type", 1).over(byUser).as("next_type"))
      .orderBy($"user_id", $"event_id")
  }

  private val deltasSql =
    """SELECT user_id, event_id, event_type,
      | date_diff('second', lag(ts) OVER w, ts) AS secs_since_prev,
      | lead(event_type) OVER w AS next_type
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  /** Event funnel: per-user ordered distinct event types → funnel stage
    * counts (conditional agg over per-user aggregates). */
  private def funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).events
      .groupBy($"user_id")
      .agg(
        max(when($"event_type" === "view", 1L).otherwise(0L)).as("s_view"),
        max(when($"event_type" === "click", 1L).otherwise(0L)).as("s_click"),
        max(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("s_purchase"))
      .agg(
        count(lit(1)).as("n_users"),
        sum($"s_view").as("n_view"),
        sum($"s_click").as("n_click"),
        sum($"s_purchase").as("n_purchase"))
  }

  private val funnelSql =
    """SELECT count(*) AS n_users, sum(s_view)::BIGINT AS n_view,
      | sum(s_click)::BIGINT AS n_click, sum(s_purchase)::BIGINT AS n_purchase
      |FROM (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s_view,
      |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS s_click,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s_purchase
      |  FROM events GROUP BY user_id) t""".stripMargin

  /** Retention cohorts: users grouped by first-seen day; for each
    * (cohort_day, day_offset) the count of distinct users active that
    * many days later. Two shuffles (user grain, then cohort grain) —
    * the standard DAU-retention shape. */
  private def retention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val days = Tables(s, dir).events
      .select($"user_id", to_date(date_trunc("day", $"ts")).as("day"))
      .distinct()
    val cohorts = days.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    days.join(cohorts, "user_id")
      .groupBy($"cohort_day",
        datediff($"day", $"cohort_day").as("day_offset"))
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"cohort_day", $"day_offset")
  }

  private val retentionSql =
    """WITH days AS (
      |  SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS day
      |  FROM events),
      |cohorts AS (
      |  SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id)
      |SELECT cohort_day,
      |  date_diff('day', cohort_day, day)::INT AS day_offset,
      |  count(DISTINCT d.user_id) AS n_users
      |FROM days d JOIN cohorts c ON d.user_id = c.user_id
      |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin

  /** As-of (backward) join — the time-series operator Spark lacks as a
    * builtin: attach to each click the user's most recent purchase at or
    * before the click. Implemented with the union-merge trick: tag both
    * sides, one shuffle on user_id, sort within partition by
    * (ts, side, id), then `last(_, ignoreNulls)` carries the latest
    * purchase payload forward — O(n log n) per user with NO range
    * explosion (a naive `c.ts >= p.ts` theta-join is O(clicks ×
    * purchases) per user and melts at scale). Purchases sort before
    * clicks on equal ts, making the join inclusive. Purchases are
    * pre-deduped per (user, ts) keeping the max event_id row so the
    * answer is deterministic; the oracle is DuckDB's NATIVE ASOF LEFT
    * JOIN — an independent implementation of the semantics, not a
    * mirrored construction. */
  /** Core of qe06 over any events frame — shared with the scale probe.
    * The purchase payload travels as ONE struct through the window so
    * `last(_, ignoreNulls)` picks every field from the SAME purchase
    * row — per-column carries would mix fields across purchases when a
    * later purchase has a null attribute (DuckDB's ASOF JOIN, the
    * oracle, is row-atomic; AsOfJoinSpec pins the null-value case). */
  private[graft] def asofFrom(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    // per-(user, ts) dedup by window rank, NOT max_by: Spark's max_by
    // returns the max-key row's value even when NULL, DuckDB's arg_max
    // skips NULL args — row_number has identical semantics in both
    val dedupW = Window.partitionBy($"user_id", $"ts")
      .orderBy($"event_id".desc)
    val p = ev.filter($"event_type" === "purchase")
      .withColumn("rn", row_number().over(dedupW))
      .filter($"rn" === 1)
      .select($"user_id", $"ts", lit(0).as("side"),
        struct($"event_id".as("p_event_id"), $"ts".as("p_ts"),
          $"value".as("p_value")).as("p"),
        lit(null).cast("long").as("c_event_id"))
    val c = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", lit(1).as("side"),
        lit(null).cast(
          "struct<p_event_id:bigint,p_ts:timestamp,p_value:double>")
          .as("p"),
        $"event_id".as("c_event_id"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts", $"side", coalesce($"c_event_id", $"p.p_event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    p.unionByName(c)
      .withColumn("last_p", last($"p", ignoreNulls = true).over(w))
      .filter($"side" === 1)
      .select($"c_event_id".as("event_id"), $"user_id", $"ts",
        $"last_p.p_event_id".as("p_event_id"),
        $"last_p.p_ts".as("p_ts"),
        (unix_timestamp($"ts") - unix_timestamp($"last_p.p_ts"))
          .as("secs_since_purchase"),
        $"last_p.p_value".as("p_value"))
      .orderBy($"event_id")
  }

  private def asofJoin(s: SparkSession, dir: String): DataFrame =
    asofFrom(Tables(s, dir).events)

  private val asofJoinSql =
    """WITH p AS (
      |  SELECT user_id, ts AS p_ts, event_id AS p_event_id,
      |    value AS p_value
      |  FROM (SELECT user_id, ts, event_id, value, row_number() OVER (
      |          PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
      |        FROM events WHERE event_type = 'purchase') t
      |  WHERE rn = 1),
      |c AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
      |SELECT c.event_id, c.user_id, c.ts, p.p_event_id, p.p_ts,
      |  date_diff('second', p.p_ts, c.ts) AS secs_since_purchase,
      |  p.p_value
      |FROM c ASOF LEFT JOIN p
      |  ON c.user_id = p.user_id AND c.ts >= p.p_ts
      |ORDER BY c.event_id""".stripMargin

  /** qe07: exact discrete per-group quantiles (p50/p90/p99 of `value`
    * per event_type) — the latency/SLO histogram shape. DISCRETE
    * selection (the element at rank ⌈p·n⌉), not interpolation: a picked
    * element is hash-stable across engines, while interpolated
    * quantiles inherit each engine's lerp arithmetic; and at lake scale
    * discrete is what a t-digest/GK sketch approximates anyway.
    *
    * Plan: one shuffle on the group key, one in-partition sort, rank
    * row_number + conditional agg — no per-percentile passes. Groups
    * far exceed cores at 100 TB, so the per-group sort parallelizes;
    * heavier single groups would move to the sketch path (cf. the KMV
    * precedent for cardinality). */
  private def quantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byType = Window.partitionBy($"event_type")
    // event_id tiebreak: (value) has duplicates, and a nondeterministic
    // row order under equal values would still pick the same VALUE —
    // but a total order keeps the rank column itself reproducible
    val w = byType.orderBy($"value", $"event_id")
    def pick(p: Double) =
      max(when($"rn" === ceil(lit(p) * $"n"), $"value"))
    Tables(s, dir).events
      .select($"event_type", $"event_id", $"value")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(byType))
      .groupBy($"event_type")
      .agg(max($"n").as("n"), pick(0.5).as("p50"), pick(0.9).as("p90"),
        pick(0.99).as("p99"), min($"value").as("vmin"),
        max($"value").as("vmax"))
      .orderBy($"event_type")
  }

  private val quantilesSql =
    """WITH r AS (
      |  SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY value, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |-- p literals ::DOUBLE: DuckDB's DECIMAL 0.9*n is exact where the
      |-- JVM double product rounds up past the integer when 10 | n, which
      |-- would shift the picked rank by one between engines
      |SELECT event_type, max(n) AS n,
      |  max(CASE WHEN rn = ceil((0.5)::DOUBLE * n) THEN value END) AS p50,
      |  max(CASE WHEN rn = ceil((0.9)::DOUBLE * n) THEN value END) AS p90,
      |  max(CASE WHEN rn = ceil((0.99)::DOUBLE * n) THEN value END) AS p99,
      |  min(value) AS vmin, max(value) AS vmax
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  /** qe08: interval join via TIME BINNING — the scale-safe form of the
    * click→purchase attribution range join (same semantics and oracle
    * as st03's stream-stream join). A naive plan equi-joins on user_id
    * and post-filters the window predicate, which goes quadratic in
    * per-user event count; binning each click's 1-hour window into the
    * 2 covering hour bins and equi-joining on (user_id, bin) bounds
    * every probe to its two hour-buckets — candidate count scales with
    * events-per-user-HOUR, not events-per-user. The standard missing-
    * range-join workaround on Spark; measured against the naive plan
    * in SCALE.md. A (click, purchase) pair can only meet in the
    * purchase's single bin, so binning introduces no duplicates. */
  private def intervalBinJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    intervalBinFrom(Tables(s, dir).events)
      .orderBy($"user_id", $"click_ts", $"purchase_ts")
  }

  /** qe08 core over any events frame — shared with the scale probe. */
  private[graft] def intervalBinFrom(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    // bin columns carry the __graft_bin prefix so the
    // BinnedIntervalJoin optimizer rule recognizes this join as
    // already binned and does not re-bin it
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts".as("click_ts"),
        floor(unix_timestamp($"ts") / 3600L).as("__graft_bin_c"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("purchase_ts"),
        floor(unix_timestamp($"ts") / 3600L).as("__graft_bin_p"))
    val binned = clicks.withColumn("__graft_bin",
      explode(array($"__graft_bin_c", $"__graft_bin_c" + 1L)))
    binned.join(purchases,
      binned("__graft_bin") === purchases("__graft_bin_p") &&
        binned("user_id") === purchases("p_user") &&
        $"purchase_ts" > $"click_ts" &&
        $"purchase_ts" <= $"click_ts" + expr("INTERVAL 1 HOUR"))
      .select($"user_id", $"click_ts", $"purchase_ts")
  }

  private[graft] val intervalBinJoinSql =
    """SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      |ORDER BY c.user_id, click_ts, purchase_ts""".stripMargin

  /** qe09: event-transition matrix (first-order Markov over per-user
    * journeys): lag each user's time-ordered events, count (from, to)
    * pairs, report each transition's share of its source state. The
    * user-journey / funnel-discovery primitive. One user_id shuffle,
    * then a tiny (|event types|²) aggregate; ordering tie-breaks on
    * event_id because (user_id, ts) is not unique in the fixture. */
  private def transitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pairs = Tables(s, dir).events
      .withColumn("next_type", lead($"event_type", 1).over(byUser))
      .filter($"next_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"next_type".as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = Window.partitionBy($"from_type")
    pairs
      .withColumn("share", round($"n" * 1.0 / sum($"n").over(totals), 6))
      .orderBy($"from_type", $"to_type")
  }

  private val transitionsSql =
    """WITH seq AS (
      |  SELECT event_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |c AS (
      |  SELECT event_type AS from_type, next_type AS to_type,
      |    count(*) AS n
      |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 6) AS share
      |FROM c ORDER BY from_type, to_type""".stripMargin

  /** qe10: ORDERED conversion funnel (signup → click → purchase)
    * with conversion lags — the stricter product-analytics semantics
    * next to qe04's existence funnel: each stage's timestamp must be
    * the user's earliest occurrence AFTER the previous stage
    * (min-after chain), and each stage row carries the total
    * stage-to-stage lag in exact microseconds. Three per-user
    * aggregates chained by equi-joins on user_id. */
  private def funnelOrdered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir).events
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
    val s1 = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"us").as("t1"))
    val s2 = ev.filter($"event_type" === "click")
      .join(s1, "user_id").where($"us" > $"t1")
      .groupBy($"user_id").agg(min($"t1").as("t1"), min($"us").as("t2"))
    val s3 = ev.filter($"event_type" === "purchase")
      .join(s2, "user_id").where($"us" > $"t2")
      .groupBy($"user_id").agg(min($"t2").as("t2"), min($"us").as("t3"))
    s1.agg(count(lit(1)).cast("int").as("n_users"),
      lit(0L).as("total_lag_us"))
      .select(lit("1_signup").as("stage"), $"n_users", $"total_lag_us")
      .unionAll(s2.agg(count(lit(1)).cast("int").as("n_users"),
        coalesce(sum($"t2" - $"t1"), lit(0L)).as("total_lag_us"))
        .select(lit("2_click").as("stage"), $"n_users", $"total_lag_us"))
      .unionAll(s3.agg(count(lit(1)).cast("int").as("n_users"),
        coalesce(sum($"t3" - $"t2"), lit(0L)).as("total_lag_us"))
        .select(lit("3_purchase").as("stage"), $"n_users", $"total_lag_us"))
      .orderBy($"stage")
  }

  private val funnelOrderedSql =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |s1 AS (
      |  SELECT user_id, min(us) AS t1 FROM ev
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, min(t1) AS t1, min(us) AS t2
      |  FROM ev e JOIN s1 USING (user_id)
      |  WHERE event_type = 'click' AND us > t1 GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, min(t2) AS t2, min(us) AS t3
      |  FROM ev e JOIN s2 USING (user_id)
      |  WHERE event_type = 'purchase' AND us > t2 GROUP BY e.user_id)
      |SELECT '1_signup' AS stage, count(*)::INT AS n_users,
      |  0::BIGINT AS total_lag_us FROM s1
      |UNION ALL
      |SELECT '2_click', count(*)::INT,
      |  coalesce(sum(t2 - t1), 0)::BIGINT FROM s2
      |UNION ALL
      |SELECT '3_purchase', count(*)::INT,
      |  coalesce(sum(t3 - t2), 0)::BIGINT FROM s3
      |ORDER BY stage""".stripMargin

  /** st12: qe10's streaming twin — the per-user stage machine runs in
    * keyed state ([[graft.streaming.EventStreams.funnelStages]],
    * per-user flush sentinels), then the emitted user rows roll up to
    * the SAME 3-row funnel the batch query produces: shared oracle,
    * the st10/qa03 contract. */
  private def streamFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir).events
    val stage = WdsQueries.scratchDir("graft_funnel_stage")
    val maxTs = ev.agg(max($"ts")).head().getTimestamp(0)
    val flushTs = new java.sql.Timestamp(maxTs.getTime + 2L * 3600 * 1000)
    val sentinels = ev.select($"user_id").distinct()
      .select(lit(-1L).as("event_id"), lit(flushTs).as("ts"),
        $"user_id", lit("flush").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
    ev.unionByName(sentinels).write.mode("overwrite").parquet(stage)
    val name = "stream_funnel_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val users = graft.streaming.EventStreams.runToMemory(s,
      graft.streaming.EventStreams.funnelStages(
        graft.streaming.EventStreams.readEventStream(s, stage)),
      name, org.apache.spark.sql.streaming.OutputMode.Append(),
      statePartitions = Some(4))
    users.agg(count(when($"stage" >= 1, 1)).cast("int").as("n_users"))
      .select(lit("1_signup").as("stage"), $"n_users",
        lit(0L).as("total_lag_us"))
      .unionAll(users.filter($"stage" >= 2)
        .agg(count(lit(1)).cast("int").as("n_users"),
          coalesce(sum($"lag12_us"), lit(0L)).as("total_lag_us"))
        .select(lit("2_click").as("stage"), $"n_users", $"total_lag_us"))
      .unionAll(users.filter($"stage" >= 3)
        .agg(count(lit(1)).cast("int").as("n_users"),
          coalesce(sum($"lag23_us"), lit(0L)).as("total_lag_us"))
        .select(lit("3_purchase").as("stage"), $"n_users", $"total_lag_us"))
      .orderBy($"stage")
  }

  override val defs: Map[String, QueryDef] = Map(
    "st12_stream_funnel" -> QueryDef(streamFunnel, Some(funnelOrderedSql)),
    "qe10_funnel_ordered" -> QueryDef(funnelOrdered,
      Some(funnelOrderedSql), bench = true),
    "qe09_transitions" -> QueryDef(transitions, Some(transitionsSql),
      bench = true),
    "qe08_interval_bin_join" -> QueryDef(intervalBinJoin,
      Some(intervalBinJoinSql), bench = true),
    "qe07_value_quantiles" -> QueryDef(quantiles, Some(quantilesSql)),
    "qe06_asof_join" -> QueryDef(asofJoin, Some(asofJoinSql), bench = true),
    "qe05_retention" -> QueryDef(retention, Some(retentionSql)),
    "qe01_hourly_window" -> QueryDef(hourly, Some(hourlySql)),
    "qe02_sessionize" -> QueryDef(sessionize, Some(sessionizeSql), bench = true),
    "qe03_event_deltas" -> QueryDef(deltas, Some(deltasSql)),
    "qe04_funnel" -> QueryDef(funnel, Some(funnelSql)),
  )
}
