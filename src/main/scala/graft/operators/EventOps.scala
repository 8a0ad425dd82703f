package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryDef
import graft.sources.Tables
import graft.streaming.EventStreams

/** Time-series operators over the events table: tumbling-window
  * aggregation (batch + Structured Streaming) and gap-based
  * sessionization.
  */
object EventOps {

  private val hourlySql =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      |  count(*) AS n, round(sum(value), 2) AS total
      |FROM events
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Tumbling 1-hour window aggregation (batch). */
  val eventsHourly: QueryDef = QueryDef.sql("events_hourly", hourlySql) { (s, d) =>
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** The same aggregation through Structured Streaming — checked
    * against the identical SQL oracle as the batch path.
    */
  val streamHourly: QueryDef =
    QueryDef.sql("stream_hourly", hourlySql)(EventStreams.streamHourly)

  /** Per-micro-batch progress ledger (see
    * EventStreams.streamProgressMetrics) — streaming observability
    * through Spark's own StreamingQueryProgress API; input-row
    * conservation pinned in ScalaTest.
    */
  val streamProgressMetrics: QueryDef =
    QueryDef.rowsOnly("stream_progress_metrics")(
      EventStreams.streamProgressMetrics)

  /** Exactly-once file sink via idempotent batch-partition replay
    * (see EventStreams.streamIdempotentSink — the last batch is
    * deliberately re-delivered after the run); shares the hourly
    * oracle, which an append-duplicating sink would fail.
    */
  val streamIdempotentSink: QueryDef =
    QueryDef.sql("stream_idempotent_sink", hourlySql)(
      EventStreams.streamIdempotentSink)

  /** Gap-based sessionization (30-min inactivity gap): mark session
    * starts with lag(), number sessions with a running sum — two
    * window passes over the same (user_id, ts) shuffle.
    */
  val eventsSessions: QueryDef = QueryDef.sql(
    "events_sessions",
    """WITH x AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              > INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events),
      |y AS (
      |  SELECT user_id, ts,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM x)
      |SELECT user_id, CAST(sid AS BIGINT) AS session_id, count(*) AS n_events,
      |  date_trunc('minute', min(ts)) AS start_min
      |FROM y GROUP BY user_id, sid
      |ORDER BY user_id, session_id""".stripMargin) { (s, d) =>
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser)))
      .withColumn("new_s", when(col("gap_us").isNull || col("gap_us") > 30L * 60 * 1000000, 1).otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(running))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"), date_trunc("minute", min(col("ts"))).as("start_min"))
      .select(col("user_id"), col("sid").cast("long").as("session_id"),
        col("n_events"), col("start_min"))
      .orderBy(col("user_id"), col("session_id"))
  }

  private val sessionWindowSql =
    """WITH x AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              > INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events),
      |y AS (
      |  SELECT user_id, ts,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM x)
      |SELECT user_id, date_trunc('minute', min(ts)) AS start_min,
      |  count(*) AS n_events
      |FROM y GROUP BY user_id, sid
      |ORDER BY user_id, start_min""".stripMargin

  /** The same sessionization as `events_sessions`, through Spark's
    * native session_window operator (merge when gap ≤ 30 min — the
    * boundary-inclusive semantics match the lag-based oracle's
    * strictly-greater gap test). One shuffle on user_id; no window
    * function passes.
    */
  val eventsSessionWindow: QueryDef = QueryDef.sql(
    "events_session_window", sessionWindowSql) { (s, d) =>
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_trunc("minute", col("session_window.start")).as("start_min"),
        col("n_events"))
      .orderBy(col("user_id"), col("start_min"))
  }

  /** Streaming sessionization (watermarked session-window state),
    * checked against the identical oracle as the batch operator.
    */
  val streamSessions: QueryDef =
    QueryDef.sql("stream_sessions", sessionWindowSql)(EventStreams.streamSessions)

  /** Custom sessionization through flatMapGroupsWithState with
    * EVENT-TIME TIMEOUTS: in-batch gaps close sessions inline, each
    * user's last session closes from the timeout callback when the
    * watermark passes its 30-min deadline (sentinel-driven on a
    * finite stream — see EventStreams.streamSessionsState). Same
    * oracle as the built-in session_window entries: the custom state
    * machine reproduces them exactly.
    */
  val streamSessionsState: QueryDef = QueryDef.sql(
    "stream_sessions_state", sessionWindowSql)(EventStreams.streamSessionsState)

  /** Custom streaming state (mapGroupsWithState) — per-user running
    * totals, single-batch run equals the batch aggregate.
    */
  val streamUserStats: QueryDef = QueryDef.sql(
    "stream_user_stats",
    """SELECT user_id, count(*) AS n_events,
      |  round(sum(value), 2) AS total_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)(
    EventStreams.streamUserStats)

  /** Per-user running stats via the Spark-4 state API v2 —
    * transformWithState with named typed ValueState on RocksDB (see
    * EventStreams.streamUserStatsV2); must equal the
    * mapGroupsWithState variant, so it shares the batch oracle.
    */
  val streamUserStatsV2: QueryDef = QueryDef.sql(
    "stream_user_stats_v2",
    """SELECT user_id, count(*) AS n_events,
      |  round(sum(value), 2) AS total_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)(
    EventStreams.streamUserStatsV2)

  /** Chained hourly→daily rollup cascade in ONE streaming query
    * (see EventStreams.streamTwoLevel — append-mode
    * multiple-stateful-operator chaining; the daily grain aggregates
    * closed hourly partials, O(hours) not O(events)).
    */
  val streamTwoLevel: QueryDef = QueryDef.sql(
    "stream_two_level",
    """WITH h AS (SELECT date_trunc('hour', ts) AS hr, count(*) AS n
      |           FROM events GROUP BY 1)
      |SELECT date_trunc('day', hr) AS day, CAST(sum(n) AS BIGINT) AS n,
      |       count(*) AS n_hours
      |FROM h GROUP BY 1 ORDER BY 1""".stripMargin)(
    EventStreams.streamTwoLevel)

  /** Stream-stream interval join (purchase ⋈ clicks ≤ 30 min prior,
    * per user) — same oracle as the equivalent batch join.
    */
  val streamJoin: QueryDef = QueryDef.sql(
    "stream_join",
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
      |  p.user_id AS user_id
      |FROM events p JOIN events c
      |  ON p.user_id = c.user_id
      | AND p.event_type = 'purchase' AND c.event_type = 'click'
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      |ORDER BY purchase_id, click_id""".stripMargin)(
    EventStreams.streamClickPurchaseJoin)

  /** Stream-stream LEFT OUTER interval join: matches emit eagerly,
    * unmatched purchases null-extend on watermark-driven state
    * eviction; purchase side cut at max(ts) − 3 h so every row is
    * provably resolvable before the stream ends (see
    * EventStreams.streamClickPurchaseLeftJoin).
    */
  val streamJoinOuter: QueryDef = QueryDef.sql(
    "stream_join_outer",
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
      |  p.user_id AS user_id
      |FROM events p LEFT JOIN events c
      |  ON p.user_id = c.user_id
      | AND c.event_type = 'click'
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      |WHERE p.event_type = 'purchase'
      |  AND p.ts <= (SELECT max(ts) - INTERVAL 3 HOUR FROM events)
      |ORDER BY purchase_id, click_id""".stripMargin)(
    EventStreams.streamClickPurchaseLeftJoin)

  /** Stream-stream FULL OUTER interval join — completes the
    * streaming join matrix (see
    * EventStreams.streamClickPurchaseFullJoin: both sides cut at
    * max(ts) − 3 h for provable resolvability, per-side sentinels
    * drive the eviction); oracle = the batch FULL JOIN under the
    * identical cutoffs.
    */
  val streamJoinFull: QueryDef = QueryDef.sql(
    "stream_join_full",
    """WITH cut AS (SELECT max(ts) - INTERVAL 3 HOUR AS c FROM events),
      |p AS (SELECT event_id, user_id, ts FROM events, cut
      |      WHERE event_type = 'purchase' AND ts <= c),
      |cl AS (SELECT event_id, user_id, ts FROM events, cut
      |       WHERE event_type = 'click' AND ts <= c)
      |SELECT p.event_id AS purchase_id, cl.event_id AS click_id,
      |  coalesce(p.user_id, cl.user_id) AS user_id
      |FROM p FULL JOIN cl
      |  ON p.user_id = cl.user_id
      | AND p.ts >= cl.ts AND p.ts <= cl.ts + INTERVAL 30 MINUTE
      |ORDER BY purchase_id NULLS FIRST, click_id NULLS FIRST""".stripMargin)(
    EventStreams.streamClickPurchaseFullJoin)

  /** Streaming egress roundtrip: hourly agg → foreachBatch → parquet
    * on disk → read back; same oracle as the batch/memory variants.
    */
  val streamSinkRoundtrip: QueryDef =
    QueryDef.sql("stream_sink_roundtrip", hourlySql)(EventStreams.streamSinkRoundtrip)

  /** Funnel counts over any events frame (user_id, event_id,
    * event_type, ts): purchases, and purchases preceded by a
    * "qualified" click (click ≤ 30 min after a view) itself ≤ 30 min
    * before the purchase. Two window passes over ONE user_id shuffle —
    * the ordered sequence is never re-partitioned, and no self-join
    * materializes event pairs.
    */
  def funnelCounts(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val HalfHourUs = 30L * 60 * 1000000
    events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("last_view_us",
        last(when(col("event_type") === "view", col("us")), ignoreNulls = true).over(w))
      .withColumn("qclick_us",
        when(col("event_type") === "click" && col("last_view_us").isNotNull
          && col("us") - col("last_view_us") <= HalfHourUs, col("us")))
      .withColumn("last_qclick_us", last(col("qclick_us"), ignoreNulls = true).over(w))
      .agg(
        count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
        count(when(col("event_type") === "purchase" && col("last_qclick_us").isNotNull
          && col("us") - col("last_qclick_us") <= HalfHourUs, 1)).as("n_converted"))
  }

  /** Three-stage funnel analysis: view → click → purchase with a
    * 30-minute window per hop.
    */
  val eventsFunnel: QueryDef = QueryDef.sql(
    "events_funnel",
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_ts
      |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |q AS (
      |  SELECT *,
      |    CASE WHEN event_type = 'click' AND last_view_ts IS NOT NULL
      |              AND ts - last_view_ts <= INTERVAL 30 MINUTE THEN ts END AS qclick_ts0
      |  FROM e),
      |f AS (
      |  SELECT *,
      |    last_value(qclick_ts0 IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_qclick_ts
      |  FROM q)
      |SELECT
      |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
      |  count(*) FILTER (WHERE event_type = 'purchase' AND last_qclick_ts IS NOT NULL
      |                     AND ts - last_qclick_ts <= INTERVAL 30 MINUTE) AS n_converted
      |FROM f""".stripMargin) { (s, d) =>
    funnelCounts(Tables.events(s, d))
  }

  /** Cohort retention matrix: users grouped by signup week, counted
    * in each later week they were active — the standard retention
    * report. Two aggregations (first-signup per user, distinct
    * active weeks per user) joined on user_id: one narrow shuffle
    * each, the join key is the natural partitioning, no windows.
    */
  val eventsRetention: QueryDef = QueryDef.sql(
    "events_retention",
    """WITH s AS (
      |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
      |      FROM events)
      |SELECT s.cohort_week,
      |  CAST(date_diff('day', s.cohort_week, a.active_week) / 7 AS BIGINT) AS week_offset,
      |  count(*) AS n_users
      |FROM s JOIN a USING (user_id)
      |WHERE a.active_week >= s.cohort_week
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    val active = ev
      .select(col("user_id"), date_trunc("week", col("ts")).as("active_week"))
      .distinct()
    signup.join(active, "user_id")
      .filter(col("active_week") >= col("cohort_week"))
      .groupBy(col("cohort_week"),
        (datediff(col("active_week"), col("cohort_week")) / 7).cast("long").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Hourly-volume anomaly detection: z-score each (event_type, hour)
    * count against its type's distribution, keep |z| ≥ 2 — the
    * monitoring query every event pipeline runs. One hourly
    * aggregation plus a per-type window (two narrow shuffles); the
    * z-score is rounded on both sides to absorb stddev FP noise.
    */
  val eventsAnomaly: QueryDef = QueryDef.sql(
    "events_anomaly",
    """WITH h AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |z AS (
      |  SELECT event_type, hour, n,
      |    round((n - avg(n) OVER (PARTITION BY event_type))
      |      / stddev_samp(n) OVER (PARTITION BY event_type), 3) AS zscore
      |  FROM h)
      |SELECT event_type, hour, n, zscore
      |FROM z WHERE abs(zscore) >= 2
      |ORDER BY event_type, hour""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val h = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type"))
    h.withColumn("zscore",
        round((col("n") - avg(col("n")).over(w)) / stddev_samp(col("n")).over(w), 3))
      .filter(abs(col("zscore")) >= 2)
      .select("event_type", "hour", "n", "zscore")
      .orderBy(col("event_type"), col("hour"))
  }

  /** Session path mining: the 20 most common ordered event-type
    * trigrams WITHIN a session (30-min gap — same session ids as
    * events_sessions). The "what do users do next" query behind
    * product analytics. One shuffle on user_id serves both the
    * session numbering and the lead() sequence windows; the trigram
    * aggregation is tiny (|event_type|³ keys at most). Top-20 is a
    * total order (count desc, then the three steps) so both engines
    * cut identically.
    */
  /** Ordered event-type trigrams within 30-min-gap sessions — the
    * building block of eventsPaths, exposed for the handcrafted
    * session-boundary test. One shuffle on user_id serves the session
    * numbering and both lead() windows.
    */
  def sessionTrigrams(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bySession = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("ts"), col("event_id"))
    ev
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser)))
      .withColumn("new_s", when(col("gap_us").isNull || col("gap_us") > 30L * 60 * 1000000, 1).otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(running))
      .select(col("event_type").as("step1"),
        lead(col("event_type"), 1).over(bySession).as("step2"),
        lead(col("event_type"), 2).over(bySession).as("step3"))
      .filter(col("step3").isNotNull)
  }

  val eventsPaths: QueryDef = QueryDef.sql(
    "events_paths",
    """WITH x AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              > INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events),
      |y AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM x),
      |t AS (
      |  SELECT event_type AS step1,
      |    lead(event_type, 1) OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS step2,
      |    lead(event_type, 2) OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS step3
      |  FROM y)
      |SELECT step1, step2, step3, count(*) AS n
      |FROM t WHERE step3 IS NOT NULL
      |GROUP BY 1, 2, 3
      |ORDER BY n DESC, step1, step2, step3
      |LIMIT 20""".stripMargin) { (s, d) =>
    sessionTrigrams(Tables.events(s, d))
      .groupBy(col("step1"), col("step2"), col("step3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
      .limit(20)
  }

  /** Incremental view maintenance: the hourly aggregate computed as
    * TWO independent batch partial aggregates (a deterministic
    * event_id split standing in for "yesterday's stored state" and
    * "today's increment") merged by re-aggregating the partials —
    * counts and sums are mergeable states, so the merged view equals
    * the full recompute, which IS the oracle (same SQL as
    * events_hourly). At 100 TB this is how a daily dashboard avoids
    * rescanning the corpus: store the partial rows, aggregate only
    * the increment, merge.
    */
  val eventsHourlyMerge: QueryDef = QueryDef.sql("events_hourly_merge", hourlySql) { (s, d) =>
    val ev = Tables.events(s, d)
    def partial(pred: org.apache.spark.sql.Column) = ev.filter(pred)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("pn"), sum(col("value")).as("pt"))
    partial(pmod(col("event_id"), lit(2)) === 0)
      .unionAll(partial(pmod(col("event_id"), lit(2)) === 1))
      .groupBy(col("hour"), col("event_type"))
      .agg(sum(col("pn")).as("n"), round(sum(col("pt")), 2).as("total"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Sliding-window distinct users: 3-hour windows hopping hourly.
    * The hop expansion (each event lands in 3 windows) is MAP-SIDE
    * (Spark's window() with a slide), and the count-distinct runs as
    * the two-stage plan — pre-dedup on (window, user), then count —
    * so the shuffle carries each (window, user) pair once, not every
    * event. The oracle replays the hop alignment with an UNNEST.
    */
  val eventsSlidingUniques: QueryDef = QueryDef.sql(
    "events_sliding_uniques",
    """WITH h AS (
      |  SELECT user_id, date_trunc('hour', ts) AS hr FROM events),
      |w AS (
      |  SELECT user_id, hr - u.k * INTERVAL 1 HOUR AS win_start
      |  FROM h, UNNEST([0, 1, 2]) AS u(k))
      |SELECT win_start, count(DISTINCT user_id) AS n_users
      |FROM w GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(window(col("ts"), "3 hours", "1 hour").as("w"), col("user_id"))
      .groupBy(col("w.start").as("win_start"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("win_start"))
  }

  /** Fixed-width value histogram per event type — one map-side bucket
    * expression, one partial-aggregated shuffle of (type, bucket)
    * pairs. The standard first look at a metric's distribution; at
    * 100 TB the cardinality after bucketing is tiny regardless of
    * row count, so the plan is scan-bound by construction.
    */
  val eventsHistogram: QueryDef = QueryDef.sql(
    "events_histogram",
    """SELECT event_type, CAST(floor(value / 25.0) AS BIGINT) AS bucket,
      |  count(*) AS n, round(avg(value), 2) AS avg_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"),
        floor(col("value") / 25.0).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 2).as("avg_value"))
      .orderBy(col("event_type"), col("bucket"))
  }

  /** DAU + 7-day rolling WAU — the canonical engagement pair. The
    * expensive part is ONE distinct over (day, user) (two-stage
    * partial agg); the 7-window hop expansion then runs map-side on
    * that already-deduplicated relation (days × users rows, corpus-
    * independent), so at 100 TB the plan is one dedup shuffle plus
    * toy-sized aggregates — never a per-event window pass.
    */
  val eventsDau: QueryDef = QueryDef.sql(
    "events_dau",
    """WITH d AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id
      |           FROM events),
      |dau AS (SELECT day, count(*) AS dau FROM d GROUP BY 1),
      |w AS (SELECT day + u.k * INTERVAL 1 DAY AS win_day, user_id
      |      FROM d, UNNEST(generate_series(0, 6)) AS u(k)),
      |wau AS (SELECT win_day AS day, count(DISTINCT user_id) AS wau
      |        FROM w GROUP BY 1)
      |SELECT CAST(dau.day AS TIMESTAMP) AS day, dau.dau, wau.wau
      |FROM dau JOIN wau ON dau.day = wau.day ORDER BY day""".stripMargin) { (s, d) =>
    val dayUser = Tables.events(s, d)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct()
    val dau = dayUser.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = dayUser
      .withColumn("k", explode(sequence(lit(0), lit(6))))
      .select(timestamp_add("DAY", col("k"), col("day")).as("day"), col("user_id"))
      .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, "day").orderBy(col("day"))
  }

  /** First-order Markov transition matrix over each user's event
    * sequence: P(next | current) — the "what happens after X"
    * companion to events_paths' trigram mining. One lead() window
    * over the single user_id shuffle; the (src, dst) aggregate is
    * event-type² tiny, and the per-src normalization runs on that
    * tiny relation, never the corpus.
    */
  val eventsMarkov: QueryDef = QueryDef.sql(
    "events_markov",
    """WITH seq AS (
      |  SELECT event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id
      |                           ORDER BY ts, event_id) AS dst
      |  FROM events),
      |c AS (SELECT src, dst, count(*) AS n FROM seq
      |      WHERE dst IS NOT NULL GROUP BY 1, 2)
      |SELECT src, dst, n,
      |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src), 4) AS p
      |FROM c ORDER BY src, dst""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val c = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("src"))
      .withColumn("dst", lead(col("src"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
    c.withColumn("p",
        round(col("n").cast("double")
          / sum(col("n")).over(Window.partitionBy(col("src"))), 4))
      .orderBy(col("src"), col("dst"))
  }

  /** Absorbing-chain conversion analysis — the QUESTION behind the
    * transition matrix (events_markov only states the dynamics):
    * from each browsing state, what's the probability the user's
    * next conversion-relevant event is a PURCHASE rather than an
    * ERROR? Both outcomes become absorbing states; the chain
    * restricted to transient states (view/click/signup) gives the
    * fundamental-matrix system (I−Q)x = R·1_purchase, solved exactly
    * on the driver — the matrix is |event types|², a few dozen
    * doubles, while the corpus-sized work is exactly events_markov's
    * ONE (src, dst) aggregate. The textbook split: distributed
    * sufficient statistics, closed-form driver solve (mining_ols /
    * ts_ar2's shape). Rows-only (linear solve); probabilities
    * pinned in [0,1], driver-replay identity, and a hand-solvable
    * planted 2-state chain recovered exactly in ScalaTest.
    */
  val eventsAbsorbing: QueryDef = QueryDef.sql(
    "events_absorbing", absorbingOracle) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("src"))
      .withColumn("dst", lead(col("src"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // The DuckDB oracle replays a STATIC 3×3 Cramer system over
    // exactly {view, click, signup}; a corpus missing one of them
    // would silently fall to the breeze LU branch, whose float path
    // need not match any oracle — fail loudly instead.
    val transient = trans.keysIterator.flatMap { case (a, b) => Seq(a, b) }
      .toSet -- Set("purchase", "error")
    require(transient == Set("view", "click", "signup"),
      s"events_absorbing's oracle assumes transient states " +
        s"{view, click, signup}; corpus has $transient")
    absorbingProbabilities(s, trans, absorbing = Set("purchase", "error"),
      target = "purchase")
  }

  /** Solve P(absorb in `target` | start in transient state) for a
    * first-order chain given by transition COUNTS. Driver-side
    * (states are few); factored for the planted-chain ScalaTest.
    */
  def absorbingProbabilities(s: SparkSession,
      counts: Map[(String, String), Long], absorbing: Set[String],
      target: String): DataFrame = {
    val states = counts.keysIterator.flatMap { case (a, b) => Seq(a, b) }
      .toSeq.distinct.sorted
    val transient = states.filterNot(absorbing)
    val idx = transient.zipWithIndex.toMap
    val rowTotals = transient.map { st =>
      st -> states.map(dst => counts.getOrElse((st, dst), 0L)).sum.toDouble
    }.toMap
    val n = transient.length
    def aEntry(i: Int, j: Int): Double = {
      val total = rowTotals(transient(i))
      if (total > 0)
        (if (i == j) 1.0 else 0.0) -
          counts.getOrElse((transient(i), transient(j)), 0L).toDouble / total
      else 0.0
    }
    def bEntry(i: Int): Double = {
      val total = rowTotals(transient(i))
      if (total > 0) counts.getOrElse((transient(i), target), 0L).toDouble / total
      else 0.0
    }
    val x: Int => Double =
      if (n == 3) {
        // explicit 3×3 Cramer, spelled term-for-term like the DuckDB
        // oracle (the Round-7 rule: no LU solve on the oracle path)
        val m = Array.tabulate(3, 3)(aEntry)
        val bv = Array.tabulate(3)(bEntry)
        def det(g: (Int, Int) => Double): Double =
          g(0, 0) * (g(1, 1) * g(2, 2) - g(1, 2) * g(2, 1)) -
            g(0, 1) * (g(1, 0) * g(2, 2) - g(1, 2) * g(2, 0)) +
            g(0, 2) * (g(1, 0) * g(2, 1) - g(1, 1) * g(2, 0))
        val dm = det((i, j) => m(i)(j))
        val sol = (0 until 3).map { k =>
          det((i, j) => if (j == k) bv(i) else m(i)(j)) / dm
        }
        sol(_)
      } else {
        val a = breeze.linalg.DenseMatrix.tabulate[Double](n, n)(aEntry)
        val b = breeze.linalg.DenseVector.tabulate[Double](n)(bEntry)
        val sol = a \ b
        sol(_)
      }
    import s.implicits._
    transient.map { st =>
      (st, math.floor(x(idx(st)) * 10000 + 0.5) / 10000)
    }.toDF("state", "p_convert")
      .orderBy(col("state"))
  }

  /** events_absorbing's oracle: rebuild the transition counts, the
    * (I−Q) system over the sorted transient states, and solve by the
    * SAME explicit 3×3 Cramer expansion the engine uses — every
    * float op runs on identical doubles in identical order.
    */
  private def absorbingOracle: String = {
    def e(repl: Int)(i: Int, j: Int): String =
      if (j == repl) s"b${i + 1}" else s"a${i + 1}${j + 1}"
    def det(repl: Int): String = {
      val g = e(repl) _
      s"${g(0, 0)} * (${g(1, 1)} * ${g(2, 2)} - ${g(1, 2)} * ${g(2, 1)}) - " +
        s"${g(0, 1)} * (${g(1, 0)} * ${g(2, 2)} - ${g(1, 2)} * ${g(2, 0)}) + " +
        s"${g(0, 2)} * (${g(1, 0)} * ${g(2, 1)} - ${g(1, 1)} * ${g(2, 0)})"
    }
    val mxCols = ((for { i <- 1 to 3; j <- 1 to 3 } yield
      s"(SELECT a FROM grid WHERE i = $i AND j = $j) AS a$i$j") ++
      (1 to 3).map(i => s"(SELECT b FROM bvec WHERE i = $i) AS b$i"))
      .mkString(",\n  ")
    s"""WITH ev AS (
       |  SELECT event_type AS src,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS dst
       |  FROM events),
       |tc AS MATERIALIZED (
       |  SELECT src, dst, count(*) AS n FROM ev
       |  WHERE dst IS NOT NULL GROUP BY 1, 2),
       |tr AS (
       |  SELECT s AS state, CAST(row_number() OVER (ORDER BY s) AS INT) AS i
       |  FROM (SELECT DISTINCT s FROM (
       |    SELECT src AS s FROM tc UNION SELECT dst AS s FROM tc))
       |  WHERE s NOT IN ('purchase', 'error')),
       |tot AS (
       |  SELECT t.i, t.state, CAST(coalesce(sum(c.n), 0) AS DOUBLE) AS total
       |  FROM tr t LEFT JOIN tc c ON c.src = t.state GROUP BY t.i, t.state),
       |grid AS (
       |  SELECT ti.i AS i, tj.i AS j,
       |    CASE WHEN tt.total > 0 THEN
       |      (CASE WHEN ti.i = tj.i THEN 1.0 ELSE 0.0 END)
       |        - coalesce(c.n, 0) / tt.total
       |    ELSE 0.0 END AS a
       |  FROM tr ti JOIN tr tj ON true JOIN tot tt ON tt.i = ti.i
       |  LEFT JOIN tc c ON c.src = ti.state AND c.dst = tj.state),
       |bvec AS (
       |  SELECT t.i,
       |    CASE WHEN tt.total > 0 THEN coalesce(c.n, 0) / tt.total
       |    ELSE 0.0 END AS b
       |  FROM tr t JOIN tot tt ON tt.i = t.i
       |  LEFT JOIN tc c ON c.src = t.state AND c.dst = 'purchase'),
       |mx AS (SELECT
       |  $mxCols)
       |SELECT t.state,
       |  floor((CASE t.i WHEN 1 THEN (${det(0)}) / (${det(-1)})
       |                  WHEN 2 THEN (${det(1)}) / (${det(-1)})
       |                  ELSE (${det(2)}) / (${det(-1)}) END)
       |    * 10000 + 0.5) / 10000 AS p_convert
       |FROM tr t CROSS JOIN mx ORDER BY t.state""".stripMargin
  }

  /** Streaming INCREMENTAL top-k materialized view, built on the
    * native TopKPerKey operator: events arrive as real micro-batches
    * (3 files, maxFilesPerTrigger=1) and each batch folds into the
    * stored per-type top-5 by value — merge(topk(state), batch) =
    * topk(all), the algebraic property that makes top-k incrementally
    * maintainable with O(keys·k) state regardless of stream volume.
    * State versions as parquet (v0, v1, …: each batch reads vN,
    * writes vN+1 — no read-overwrite hazard); the oracle is the batch
    * row_number() over the whole table, so the incremental fold is
    * proven EXACT, not approximate.
    */
  val streamTopk: QueryDef = QueryDef.sql(
    "stream_topk",
    """WITH r AS (
      |  SELECT event_type, event_id, value,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY value DESC, event_id) AS rk
      |  FROM events)
      |SELECT event_type, event_id, round(value, 2) AS value
      |FROM r WHERE rk <= 5
      |ORDER BY event_type, event_id""".stripMargin) { (s, d) =>
    val tmp = org.apache.spark.sql.graft.Scratch.dir("graft_stream_topk")
    try {
      val srcDir = s"$tmp/src"
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      Tables.load(s, d, "events")
        .select(col("event_type"), col("event_id"), col("value"))
        .repartition(3).write.parquet(srcDir)
      val stream = s.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("event_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.DoubleType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
      val version = new java.util.concurrent.atomic.AtomicInteger(0)
      val q = stream.writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/chk")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val v = version.get()
          val state =
            if (v == 0) batch.toDF()
            else s.read.parquet(s"$tmp/state/v$v").unionAll(batch.toDF())
          org.apache.spark.sql.graft.TopKOps.topKPerKey(state,
              keys = Seq(col("event_type")),
              order = Seq(col("value").desc, col("event_id").asc), k = 5)
            .write.parquet(s"$tmp/state/v${v + 1}")
          version.incrementAndGet()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(s"$tmp/state/v${version.get()}")
        .select(col("event_type"), col("event_id"),
          round(col("value"), 2).as("value"))
        .orderBy(col("event_type"), col("event_id"))
        .localCheckpoint(eager = true)
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  /** Stream-static enrichment: events stream ⋈ broadcast customer dim
    * → per-nation running totals; oracle is the equivalent batch join.
    */
  val streamEnrich: QueryDef = QueryDef.sql(
    "stream_enrich",
    """SELECT c.c_nationkey AS nationkey, count(*) AS n,
      |  round(sum(e.value), 2) AS total
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin)(EventStreams.streamStaticEnrich)

  /** Last-touch marketing attribution: each purchase is credited to
    * the user's most recent PRECEDING non-purchase event (the
    * channel), via one ignore-nulls window over the user partition —
    * a single user_id shuffle, no self-join. Revenue and purchase
    * counts roll up per attributed channel; purchases with no prior
    * touch fall into the 'direct' bucket. No per-user ts ties exist
    * (event_id is unique per instant), so the window order is total.
    */
  val eventsAttribution: QueryDef = QueryDef.sql(
    "events_attribution",
    """WITH touched AS (
      |  SELECT event_type, value,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
      |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
      |  FROM events)
      |SELECT coalesce(channel, 'direct') AS channel,
      |       count(*) AS n_purchases, round(sum(value), 2) AS revenue
      |FROM touched WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .withColumn("channel",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("channel"), lit("direct")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("value")), 2).as("revenue"))
      .orderBy(col("channel"))
  }

  /** Cohort LTV curves: users grouped by first-seen week, purchase
    * revenue accumulated per weeks-since-signup index. Two corpus
    * passes (first-seen per user, revenue per user-week) share the
    * user_id shuffle; the cumulative window runs over the
    * O(cohorts × weeks) aggregate. LTV = cumulative revenue /
    * cohort size, floor-rounded (see ts_interp).
    */
  val eventsCohortLtv: QueryDef = QueryDef.sql(
    "events_cohort_ltv",
    """WITH first_seen AS (
      |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      |  FROM events GROUP BY 1),
      |cohort_size AS (
      |  SELECT cohort_week, count(*) AS n_users FROM first_seen GROUP BY 1),
      |rev AS (
      |  SELECT f.cohort_week,
      |         CAST(date_diff('day', CAST(f.cohort_week AS DATE),
      |                        CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS INT)
      |           AS week_index,
      |         sum(e.value) AS revenue
      |  FROM events e JOIN first_seen f ON f.user_id = e.user_id
      |  WHERE e.event_type = 'purchase'
      |  GROUP BY 1, 2)
      |SELECT CAST(r.cohort_week AS TIMESTAMP) AS cohort_week, r.week_index,
      |  s.n_users,
      |  floor(sum(r.revenue) OVER (PARTITION BY r.cohort_week ORDER BY r.week_index
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / s.n_users
      |    * 100 + 0.5) / 100 AS ltv
      |FROM rev r JOIN cohort_size s ON s.cohort_week = r.cohort_week
      |ORDER BY cohort_week, week_index""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    val cohortSize = firstSeen.groupBy(col("cohort_week").as("cs_week"))
      .agg(count(lit(1)).as("n_users"))
    val rev = ev.filter(col("event_type") === "purchase")
      .join(firstSeen.withColumnRenamed("user_id", "f_user"),
        col("user_id") === col("f_user"))
      .groupBy(col("cohort_week"),
        (datediff(date_trunc("week", col("ts")), col("cohort_week")) / 7)
          .cast("int").as("week_index"))
      .agg(sum(col("value")).as("revenue"))
    val wCum = Window.partitionBy(col("cohort_week")).orderBy(col("week_index"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.join(broadcast(cohortSize), col("cohort_week") === col("cs_week"))
      .select(col("cohort_week"), col("week_index"), col("n_users"),
        (floor(sum(col("revenue")).over(wCum) / col("n_users") * 100 + 0.5) / 100)
          .as("ltv"))
      .orderBy(col("cohort_week"), col("week_index"))
  }

  /** Deterministic A/B experiment readout: variant = user_id % 2
    * (the hash-split every experimentation platform uses, made
    * replayable), metric = per-user purchase revenue, effect = Welch
    * t statistic from per-variant mean/variance/n — all closed-form
    * aggregates, one user shuffle then a 2-row reduce.
    */
  val eventsAbtest: QueryDef = QueryDef.sql(
    "events_abtest",
    """WITH per_user AS (
      |  SELECT user_id, user_id % 2 AS variant,
      |         sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS revenue
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT variant, count(*) AS n, avg(revenue) AS mean_rev,
      |         var_samp(revenue) AS var_rev
      |  FROM per_user GROUP BY 1)
      |SELECT a.n AS n_a, b.n AS n_b,
      |  floor(a.mean_rev * 10000 + 0.5) / 10000 AS mean_a,
      |  floor(b.mean_rev * 10000 + 0.5) / 10000 AS mean_b,
      |  floor((b.mean_rev - a.mean_rev) * 10000 + 0.5) / 10000 AS lift,
      |  floor((b.mean_rev - a.mean_rev) /
      |        sqrt(a.var_rev / a.n + b.var_rev / b.n) * 10000 + 0.5) / 10000 AS t_stat
      |FROM stats a JOIN stats b ON a.variant = 0 AND b.variant = 1""".stripMargin) { (s, d) =>
    val perUser = Tables.events(s, d)
      .groupBy(col("user_id"), (col("user_id") % 2).as("variant"))
      .agg(sum(when(col("event_type") === "purchase", col("value"))
        .otherwise(0.0)).as("revenue"))
    val stats = perUser.groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), avg(col("revenue")).as("mean_rev"),
        var_samp(col("revenue")).as("var_rev"))
    val a = stats.filter(col("variant") === 0)
      .select(col("n").as("n_a"), col("mean_rev").as("m_a"), col("var_rev").as("v_a"))
    val b = stats.filter(col("variant") === 1)
      .select(col("n").as("n_b"), col("mean_rev").as("m_b"), col("var_rev").as("v_b"))
    a.crossJoin(b) // both sides are single rows
      .select(col("n_a"), col("n_b"),
        (floor(col("m_a") * 10000 + 0.5) / 10000).as("mean_a"),
        (floor(col("m_b") * 10000 + 0.5) / 10000).as("mean_b"),
        (floor((col("m_b") - col("m_a")) * 10000 + 0.5) / 10000).as("lift"),
        (floor((col("m_b") - col("m_a")) /
          sqrt(col("v_a") / col("n_a") + col("v_b") / col("n_b")) * 10000 + 0.5) / 10000)
          .as("t_stat"))
  }

  /** CUPED variance reduction (Deng et al. 2013) — the standard
    * experimentation-platform upgrade over the plain A/B readout
    * (events_abtest): each user's post-period metric is adjusted by
    * their own PRE-period activity, Y' = Y − θ(X − mean X), with
    * θ = cov(X,Y)/var(X) pooled across variants. Pre-experiment
    * behavior can't be caused by the treatment, so the adjustment
    * shifts nothing in expectation but cancels the between-user
    * variance the covariate explains — the same experiment detects
    * smaller lifts. Pre/post = integer-µs midpoint time split
    * (profile_drift's convention); ONE user shuffle builds (X, Y)
    * per user; θ and mean X are a single-row broadcast; per-variant
    * stats are a 2-row reduce. Output: per-variant n / mean post /
    * mean adjusted, and the achieved variance-reduction share.
    */
  val eventsCuped: QueryDef = QueryDef.sql(
    "events_cuped",
    """WITH b AS (SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1 FROM events),
      |pu AS (
      |  SELECT user_id, user_id % 2 AS variant,
      |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
      |             AND epoch_us(ts) <= (SELECT t0 + (t1 - t0) // 2 FROM b)
      |             THEN CAST(floor(value * 1000000.0) AS BIGINT) ELSE 0 END), 0)
      |      AS BIGINT) AS x,
      |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
      |             AND epoch_us(ts) > (SELECT t0 + (t1 - t0) // 2 FROM b)
      |             THEN CAST(floor(value * 1000000.0) AS BIGINT) ELSE 0 END), 0)
      |      AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |v AS (
      |  SELECT variant, count(*) AS nv,
      |    CAST(sum(x) AS DOUBLE) * 1e-6 AS sx,
      |    CAST(sum(y) AS DOUBLE) * 1e-6 AS sy,
      |    CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) * 1e-12 AS sxx,
      |    CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) * 1e-12 AS sxy,
      |    CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) * 1e-12 AS syy
      |  FROM pu GROUP BY 1),
      |g AS (
      |  SELECT CAST(sum(nv) AS DOUBLE) AS n, sum(sx) AS gsx, sum(sy) AS gsy,
      |    sum(sxx) AS gsxx, sum(sxy) AS gsxy
      |  FROM v),
      |t AS (
      |  SELECT gsx / n AS mx,
      |    (gsxy - gsx * gsy / n) / (gsxx - gsx * gsx / n) AS theta
      |  FROM g),
      |o AS (
      |  SELECT variant, nv,
      |    sy / nv AS mean_post,
      |    (sy - theta * (sx - mx * nv)) / nv AS mean_adjusted,
      |    1 - ((syy - 2 * theta * sxy + 2 * theta * mx * sy
      |          + theta * theta * sxx - 2 * theta * theta * mx * sx
      |          + theta * theta * mx * mx * nv)
      |         - (sy - theta * (sx - mx * nv)) * (sy - theta * (sx - mx * nv)) / nv)
      |      / (syy - sy * sy / nv) AS var_reduction
      |  FROM v, t)
      |SELECT variant, CAST(nv AS BIGINT) AS n,
      |  floor(mean_post * 10000 + 0.5) / 10000 AS mean_post,
      |  floor(mean_adjusted * 10000 + 0.5) / 10000 AS mean_adjusted,
      |  floor(var_reduction * 10000 + 0.5) / 10000 AS var_reduction
      |FROM o ORDER BY variant""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val bounds = ev.agg(min(unix_micros(col("ts"))).as("t0"),
      max(unix_micros(col("ts"))).as("t1"))
    // EXACT sufficient statistics: per-user pre/post revenue in int64
    // micro-units, per-variant sums exact (int64 / decimal(38,0)) —
    // every float below derives from exact inputs through ONE fixed
    // scalar expression tree, so the result is bit-identical on any
    // partitioning and any engine (the avg/covar_samp formulation
    // failed the 2-vs-17-partition invariance suite by 1e-4 exactly
    // at a floor-rounding boundary).
    val micro = when(col("event_type") === "purchase",
      floor(col("value") * 1000000.0).cast("long")).otherwise(0L)
    val pu = ev.crossJoin(broadcast(bounds)) // single-row time bounds
      .withColumn("mid", col("t0") + (col("t1") - col("t0")) / 2)
      .groupBy(col("user_id"), (col("user_id") % 2).as("variant"))
      .agg(
        coalesce(sum(when(unix_micros(col("ts")) <= col("mid"), micro)
          .otherwise(0L)), lit(0L)).as("x"),
        coalesce(sum(when(unix_micros(col("ts")) > col("mid"), micro)
          .otherwise(0L)), lit(0L)).as("y"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val v = pu.groupBy(col("variant")).agg(
      count(lit(1)).as("nv"),
      (sum(col("x")).cast("double") * 1e-6).as("sx"),
      (sum(col("y")).cast("double") * 1e-6).as("sy"),
      (sum(dec(col("x")) * col("x")).cast("double") * 1e-12).as("sxx"),
      (sum(dec(col("x")) * col("y")).cast("double") * 1e-12).as("sxy"),
      (sum(dec(col("y")) * col("y")).cast("double") * 1e-12).as("syy"))
      .cache() // 2 rows; θ derivation and the readout share one corpus pass
    val g = v.agg(sum(col("nv")).cast("double").as("n"),
      sum(col("sx")).as("gsx"), sum(col("sy")).as("gsy"),
      sum(col("sxx")).as("gsxx"), sum(col("sxy")).as("gsxy"))
    val t = g.select((col("gsx") / col("n")).as("mx"),
      ((col("gsxy") - col("gsx") * col("gsy") / col("n"))
        / (col("gsxx") - col("gsx") * col("gsx") / col("n"))).as("theta"))
    val sya = col("sy") - col("theta") * (col("sx") - col("mx") * col("nv"))
    val syyAdj = col("syy") - lit(2) * col("theta") * col("sxy") +
      lit(2) * col("theta") * col("mx") * col("sy") +
      col("theta") * col("theta") * col("sxx") -
      lit(2) * col("theta") * col("theta") * col("mx") * col("sx") +
      col("theta") * col("theta") * col("mx") * col("mx") * col("nv")
    v.crossJoin(broadcast(t)) // single-row θ / pooled mean
      .select(col("variant"), col("nv").cast("long").as("n"),
        (floor(col("sy") / col("nv") * 10000 + 0.5) / 10000).as("mean_post"),
        (floor(sya / col("nv") * 10000 + 0.5) / 10000).as("mean_adjusted"),
        (floor((lit(1) - (syyAdj - sya * sya / col("nv"))
            / (col("syy") - col("sy") * col("sy") / col("nv")))
          * 10000 + 0.5) / 10000).as("var_reduction"))
      .orderBy(col("variant"))
  }

  /** Difference-in-differences (DiD) — the quasi-experimental
    * estimator for when assignment ISN'T randomized (a feature
    * shipped to one cohort at time T): effect = (post−pre) change in
    * the treated group MINUS the same change in the control group,
    * so any shared trend (seasonality, platform growth) cancels and
    * only the treatment-correlated divergence remains. Cells =
    * (user_id-parity group) × (midpoint time split); per-cell means
    * from ONE user aggregate in exact int64 micro-units (the
    * events_cuped discipline: every float derives from exact sums
    * through one fixed expression tree — partition-invariant,
    * engine-identical). Output: the four cell means, each group's
    * delta, and the DiD estimate.
    */
  val eventsDid: QueryDef = QueryDef.sql(
    "events_did",
    """WITH b AS (SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1 FROM events),
      |pu AS (
      |  SELECT user_id, user_id % 2 AS grp,
      |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
      |             AND epoch_us(ts) <= (SELECT t0 + (t1 - t0) // 2 FROM b)
      |             THEN CAST(floor(value * 1000000.0) AS BIGINT) ELSE 0 END), 0)
      |      AS BIGINT) AS pre,
      |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
      |             AND epoch_us(ts) > (SELECT t0 + (t1 - t0) // 2 FROM b)
      |             THEN CAST(floor(value * 1000000.0) AS BIGINT) ELSE 0 END), 0)
      |      AS BIGINT) AS post
      |  FROM events GROUP BY 1, 2),
      |g AS (
      |  SELECT grp, count(*) AS n,
      |    CAST(sum(pre) AS DOUBLE) * 1e-6 AS sp,
      |    CAST(sum(post) AS DOUBLE) * 1e-6 AS sq
      |  FROM pu GROUP BY 1),
      |c AS (
      |  SELECT
      |    (SELECT sp / n FROM g WHERE grp = 0) AS pre_control,
      |    (SELECT sq / n FROM g WHERE grp = 0) AS post_control,
      |    (SELECT sp / n FROM g WHERE grp = 1) AS pre_treated,
      |    (SELECT sq / n FROM g WHERE grp = 1) AS post_treated)
      |SELECT
      |  floor(pre_control * 10000 + 0.5) / 10000 AS pre_control,
      |  floor(post_control * 10000 + 0.5) / 10000 AS post_control,
      |  floor(pre_treated * 10000 + 0.5) / 10000 AS pre_treated,
      |  floor(post_treated * 10000 + 0.5) / 10000 AS post_treated,
      |  floor((post_control - pre_control) * 10000 + 0.5) / 10000 AS delta_control,
      |  floor((post_treated - pre_treated) * 10000 + 0.5) / 10000 AS delta_treated,
      |  floor(((post_treated - pre_treated) - (post_control - pre_control))
      |    * 10000 + 0.5) / 10000 AS did
      |FROM c""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val bounds = ev.agg(min(unix_micros(col("ts"))).as("t0"),
      max(unix_micros(col("ts"))).as("t1"))
    val micro = when(col("event_type") === "purchase",
      floor(col("value") * 1000000.0).cast("long")).otherwise(0L)
    val pu = ev.crossJoin(broadcast(bounds))
      .withColumn("mid", col("t0") + (col("t1") - col("t0")) / 2)
      .groupBy(col("user_id"), (col("user_id") % 2).as("grp"))
      .agg(
        coalesce(sum(when(unix_micros(col("ts")) <= col("mid"), micro)
          .otherwise(0L)), lit(0L)).as("pre"),
        coalesce(sum(when(unix_micros(col("ts")) > col("mid"), micro)
          .otherwise(0L)), lit(0L)).as("post"))
    val g = pu.groupBy(col("grp")).agg(
      count(lit(1)).as("n"),
      (sum(col("pre")).cast("double") * 1e-6).as("sp"),
      (sum(col("post")).cast("double") * 1e-6).as("sq"))
      .cache() // 2 rows; both cell branches share one corpus pass
    val c0 = g.filter(col("grp") === 0)
      .select((col("sp") / col("n")).as("pre_control"),
        (col("sq") / col("n")).as("post_control"))
    val c1 = g.filter(col("grp") === 1)
      .select((col("sp") / col("n")).as("pre_treated"),
        (col("sq") / col("n")).as("post_treated"))
    def f4(c: org.apache.spark.sql.Column) = floor(c * 10000 + 0.5) / 10000
    c0.crossJoin(c1) // both single rows
      .select(
        f4(col("pre_control")).as("pre_control"),
        f4(col("post_control")).as("post_control"),
        f4(col("pre_treated")).as("pre_treated"),
        f4(col("post_treated")).as("post_treated"),
        f4(col("post_control") - col("pre_control")).as("delta_control"),
        f4(col("post_treated") - col("pre_treated")).as("delta_treated"),
        f4((col("post_treated") - col("pre_treated"))
          - (col("post_control") - col("pre_control"))).as("did"))
  }

  /** A/B power analysis — the question every experiment review asks
    * BEFORE launch: how many users per arm to detect a given lift?
    * n/arm = 2σ²(z_{α/2}+z_β)²/δ² at α=5%, power 80% (z literals
    * 1.959964 and 0.841621 spelled identically in both engines),
    * with σ² and the baseline mean measured from the corpus's own
    * per-user revenue (events_abtest's metric) in ONE user aggregate;
    * the MDE grid (1/2/5/10% of baseline) is a map-side explode over
    * the single stats row. Reports required n per arm and whether
    * the current population could power each detectable lift.
    */
  val eventsPower: QueryDef = QueryDef.sql(
    "events_power",
    """WITH per_user AS (
      |  SELECT user_id,
      |    sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS revenue
      |  FROM events GROUP BY 1),
      |stats AS (
      |  SELECT count(*) AS n_users, avg(revenue) AS mean_rev,
      |    var_samp(revenue) AS var_rev
      |  FROM per_user),
      |grid AS (
      |  SELECT n_users, mean_rev, var_rev, mde_pct
      |  FROM stats CROSS JOIN (VALUES (1), (2), (5), (10)) AS g(mde_pct)),
      |calc AS (
      |  SELECT mde_pct, n_users,
      |    mean_rev * mde_pct / 100.0 AS delta,
      |    ceil(2.0 * var_rev * power(1.959964 + 0.841621, 2)
      |      / (mean_rev * mde_pct / 100.0) / (mean_rev * mde_pct / 100.0))
      |      AS n_per_arm
      |  FROM grid)
      |SELECT mde_pct, floor(delta * 10000 + 0.5) / 10000 AS delta,
      |  CAST(n_per_arm AS BIGINT) AS n_per_arm,
      |  CASE WHEN 2 * n_per_arm <= n_users THEN 1 ELSE 0 END AS powered
      |FROM calc ORDER BY mde_pct""".stripMargin) { (s, d) =>
    val stats = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", col("value"))
        .otherwise(0.0)).as("revenue"))
      .agg(count(lit(1)).as("n_users"), avg(col("revenue")).as("mean_rev"),
        var_samp(col("revenue")).as("var_rev"))
    val z = lit(1.959964) + lit(0.841621)
    stats
      .select(col("n_users"), col("mean_rev"), col("var_rev"),
        explode(lit(Array(1, 2, 5, 10))).as("mde_pct"))
      .withColumn("delta", col("mean_rev") * col("mde_pct") / 100.0)
      .withColumn("n_per_arm",
        ceil(lit(2.0) * col("var_rev") * pow(z, 2)
          / col("delta") / col("delta")))
      .select(col("mde_pct"),
        (floor(col("delta") * 10000 + 0.5) / 10000).as("delta"),
        col("n_per_arm").cast("long").as("n_per_arm"),
        when(lit(2) * col("n_per_arm") <= col("n_users"), 1).otherwise(0)
          .as("powered"))
      .orderBy(col("mde_pct"))
  }

  /** Streaming SCD-2 dimension maintenance: micro-batched price
    * updates MERGE into the versioned dim table (see
    * EventStreams.streamScd2). The final table equals the batch
    * SCD-2 result, so this shares q_scd2's oracle verbatim.
    */
  val streamScd2: QueryDef = QueryDef.sql(
    "stream_scd2", RelationalExt.qScd2.oracle.get)(EventStreams.streamScd2)

  /** Peak concurrency by sweep line: sessions become (+1 at start,
    * −1 at end) deltas and the max prefix sum over the (t, delta)
    * order is the peak (ties sort −1 first: a session ending exactly
    * when another starts never overlaps it, and the max is
    * order-independent among equal rows). The prefix sum is TWO-
    * PHASE so no global single-partition window exists: within-day
    * running sums are windows PARTITIONED by day (parallel), and the
    * carry-in offset per day is a running total over the O(days)
    * day-sum relation — the distributed scan/prefix-sum shape. The
    * oracle states the equivalent single-pass form.
    */
  val eventsConcurrency: QueryDef = QueryDef.sql(
    "events_concurrency",
    """WITH ordered AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |           OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) > 1800
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |numbered AS (
      |  SELECT user_id, ts,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM ordered),
      |sessions AS MATERIALIZED (
      |  SELECT user_id, sid, min(ts) AS t0, max(ts) AS t1
      |  FROM numbered GROUP BY 1, 2),
      |deltas AS (
      |  SELECT t0 AS t, 1 AS delta FROM sessions
      |  UNION ALL
      |  SELECT t1 AS t, -1 AS delta FROM sessions),
      |running AS (
      |  SELECT sum(delta) OVER (ORDER BY t, delta
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
      |  FROM deltas)
      |SELECT (SELECT count(*) FROM sessions) AS n_sessions,
      |       CAST(max(live) AS BIGINT) AS max_concurrent
      |FROM running""".stripMargin) { (s, d) =>
    val wUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val wCum = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = Tables.events(s, d)
      .withColumn("prev", lag(col("ts"), 1).over(wUser))
      .withColumn("new_session",
        when(col("prev").isNull ||
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev"))) > 1800, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("new_session")).over(wCum))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
      .cache()
    val deltas = sessions.select(col("t0").as("t"), lit(1).as("delta"))
      .unionAll(sessions.select(col("t1").as("t"), lit(-1).as("delta")))
      .withColumn("day", date_trunc("day", col("t")))
    // phase 1: parallel within-day running sums
    val wDay = Window.partitionBy(col("day")).orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withinDay = deltas.withColumn("run", sum(col("delta")).over(wDay))
    // phase 2: carry-in offsets over the O(days) relation
    val wDays = Window.orderBy(col("o_day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = deltas.groupBy(col("day").as("o_day"))
      .agg(sum(col("delta")).as("day_sum"))
      .withColumn("carry_in",
        coalesce(sum(col("day_sum")).over(wDays), lit(0)))
      .select(col("o_day"), col("carry_in"))
    val nSessions = sessions.count()
    withinDay.join(offsets, col("day") === col("o_day"))
      .agg(lit(nSessions).as("n_sessions"),
        max(col("carry_in") + col("run")).as("max_concurrent"))
  }

  /** RFM customer segmentation: per purchasing user, recency (days
    * since last purchase at the corpus horizon), frequency and
    * monetary totals — one user shuffle — then quartile scores per
    * dimension (ntile with user_id tie-break for determinism) and
    * segment counts over the bounded 4³ grid. The three ntile
    * windows are unpartitioned and run over the O(buyers) aggregate,
    * never the corpus; exact equal-count quartiles inherently need a
    * total order. When even the buyer relation is too large for one
    * window task, the sketch variant (q_approx_percentile
    * boundaries + CASE, trading ntile's tie-splitting for map-side
    * scoring) is the 100 TB path — same trade documented at
    * profile_equidepth.
    */
  val eventsRfm: QueryDef = QueryDef.sql(
    "events_rfm",
    """WITH horizon AS (SELECT max(ts) AS h FROM events),
      |per_user AS (
      |  SELECT user_id,
      |    date_diff('day', max(ts), (SELECT h FROM horizon)) AS recency_days,
      |    count(*) AS freq,
      |    round(sum(value), 2) AS monetary
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |scored AS (
      |  SELECT ntile(4) OVER (ORDER BY recency_days, user_id) AS r,
      |         ntile(4) OVER (ORDER BY freq DESC, user_id) AS f,
      |         ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m,
      |         monetary
      |  FROM per_user)
      |SELECT r, f, m, count(*) AS n_users,
      |  round(sum(monetary), 2) AS total_monetary
      |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val horizon = ev.agg(max(col("ts")).as("h"))
    val perUser = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_buy"), count(lit(1)).as("freq"),
        round(sum(col("value")), 2).as("monetary"))
      .crossJoin(broadcast(horizon)) // single-row horizon literal
      .withColumn("recency_days", datediff(col("h"), col("last_buy")))
    val scored = perUser.select(
      ntile(4).over(Window.orderBy(col("recency_days"), col("user_id"))).as("r"),
      ntile(4).over(Window.orderBy(col("freq").desc, col("user_id"))).as("f"),
      ntile(4).over(Window.orderBy(col("monetary").desc, col("user_id"))).as("m"),
      col("monetary"))
    scored.groupBy(col("r"), col("f"), col("m"))
      .agg(count(lit(1)).as("n_users"),
        round(sum(col("monetary")), 2).as("total_monetary"))
      .orderBy(col("r"), col("f"), col("m"))
  }

  /** Revenue-concentration (Pareto) readout: how few buyers account
    * for 80% of purchase revenue. One user shuffle for per-buyer
    * totals, then a cumulative-share window ordered by (revenue
    * DESC, user_id) over the O(buyers) aggregate (same window class
    * as events_rfm — the beyond-buyers path is range-bucketed
    * two-phase prefix sums, see events_concurrency).
    */
  val eventsPareto: QueryDef = QueryDef.sql(
    "events_pareto",
    """WITH per_user AS (
      |  SELECT user_id, sum(value) AS revenue
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |ranked AS (
      |  SELECT revenue,
      |    sum(revenue) OVER (ORDER BY revenue DESC, user_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev,
      |    sum(revenue) OVER () AS total_rev,
      |    row_number() OVER (ORDER BY revenue DESC, user_id) AS rk
      |  FROM per_user)
      |SELECT CAST((SELECT count(*) FROM per_user) AS BIGINT) AS n_buyers,
      |  CAST(min(rk) AS BIGINT) AS n_users_for_80pct,
      |  floor(min(rk) * 10000.0 / (SELECT count(*) FROM per_user) + 0.5) / 10000
      |    AS share_of_users
      |FROM ranked WHERE cum_rev >= 0.8 * total_rev""".stripMargin) { (s, d) =>
    val perUser = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(col("value")).as("revenue"))
      .cache()
    val nBuyers = perUser.count()
    val wCum = Window.orderBy(col("revenue").desc, col("user_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wRank = Window.orderBy(col("revenue").desc, col("user_id"))
    perUser
      .withColumn("cum_rev", sum(col("revenue")).over(wCum))
      .withColumn("total_rev", sum(col("revenue")).over(wAll))
      .withColumn("rk", row_number().over(wRank))
      .filter(col("cum_rev") >= col("total_rev") * 0.8)
      .agg(lit(nBuyers).as("n_buyers"),
        min(col("rk")).cast("long").as("n_users_for_80pct"),
        (floor(min(col("rk")) * 10000.0 / nBuyers + 0.5) / 10000)
          .as("share_of_users"))
  }

  /** Weekly churn: of the users active in week w, the share absent
    * in week w+1. The (week, user) relation is the deduped corpus
    * aggregate; churn is a self left-anti join shifted by one week —
    * both sides keyed on user within week, one exchange each.
    */
  val eventsChurn: QueryDef = QueryDef.sql(
    "events_churn",
    """WITH wu AS (
      |  SELECT DISTINCT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, user_id
      |  FROM events),
      |weeks AS (SELECT week, count(*) AS active FROM wu GROUP BY 1),
      |churned AS (
      |  SELECT a.week, count(*) AS lost
      |  FROM wu a LEFT JOIN wu b
      |    ON b.user_id = a.user_id AND b.week = a.week + INTERVAL 7 DAY
      |  WHERE b.user_id IS NULL
      |  GROUP BY 1)
      |SELECT w.week, w.active, coalesce(c.lost, 0) AS churned,
      |  floor(coalesce(c.lost, 0) * 10000.0 / w.active + 0.5) / 10000 AS churn_rate
      |FROM weeks w LEFT JOIN churned c ON c.week = w.week
      |WHERE w.week < (SELECT max(week) FROM wu)
      |ORDER BY w.week""".stripMargin) { (s, d) =>
    val wu = Tables.events(s, d)
      .select(date_trunc("week", col("ts")).as("week"), col("user_id"))
      .distinct().cache()
    val weeks = wu.groupBy(col("week")).agg(count(lit(1)).as("active"))
    val nextWeek = wu.select((col("week") - expr("INTERVAL 7 DAY")).as("b_week"),
      col("user_id").as("b_user"))
    val churned = wu
      .join(nextWeek, col("week") === col("b_week") && col("user_id") === col("b_user"),
        "left_anti")
      .groupBy(col("week")).agg(count(lit(1)).as("lost"))
      .withColumnRenamed("week", "c_week")
    val maxWeek = wu.agg(max(col("week")).as("mw"))
    weeks
      .join(churned, col("week") === col("c_week"), "left_outer")
      .crossJoin(broadcast(maxWeek)) // single-row horizon
      .filter(col("week") < col("mw"))
      .select(col("week"), col("active"),
        coalesce(col("lost"), lit(0L)).as("churned"),
        (floor(coalesce(col("lost"), lit(0L)) * 10000.0 / col("active") + 0.5)
          / 10000).as("churn_rate"))
      .orderBy(col("week"))
  }

  /** ClickHouse-style windowFunnel: per user, the deepest
    * view→click→purchase prefix whose steps ALL fall within 1 hour
    * of the anchoring view, reported as a users-per-level histogram
    * (level 0 = never viewed). Each step is one user-equality join
    * (range predicate rides the join as a filter; fan-out bounded by
    * per-user event counts, never corpus²) + a min-per-anchor
    * aggregate — the earliest-qualifying-step greedy is exactly the
    * funnel semantics, and keeps everything deterministic for the
    * identically-formulated DuckDB oracle. events_funnel is the
    * window-function (chained 30-min) variant; this is the anchored
    * fixed-window one.
    */
  val eventsWindowFunnel: QueryDef = QueryDef.sql(
    "events_window_funnel",
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
      |c AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(e.ts) AS c_ts
      |  FROM v JOIN events e ON e.user_id = v.user_id
      |    AND e.event_type = 'click' AND e.ts > v.ts
      |    AND e.ts <= v.ts + INTERVAL 1 HOUR
      |  GROUP BY v.user_id, v.ts),
      |p AS (
      |  SELECT c.user_id, c.v_ts, min(e.ts) AS p_ts
      |  FROM c JOIN events e ON e.user_id = c.user_id
      |    AND e.event_type = 'purchase' AND e.ts > c.c_ts
      |    AND e.ts <= c.v_ts + INTERVAL 1 HOUR
      |  GROUP BY c.user_id, c.v_ts),
      |lvl AS (
      |  SELECT u.user_id,
      |    CASE WHEN u.user_id IN (SELECT user_id FROM p) THEN 3
      |         WHEN u.user_id IN (SELECT user_id FROM c) THEN 2
      |         WHEN u.user_id IN (SELECT user_id FROM v) THEN 1
      |         ELSE 0 END AS level
      |  FROM u)
      |SELECT level, count(*) AS n_users
      |FROM lvl GROUP BY level ORDER BY level""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d).select("user_id", "event_type", "ts")
    val u = e.select("user_id").distinct()
    val v = e.filter(col("event_type") === "view").select(col("user_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("e_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("e_ts"))
    val hour = expr("INTERVAL 1 HOUR")
    val c = v.join(clicks,
        col("user_id") === col("c_user") && col("e_ts") > col("ts")
          && col("e_ts") <= col("ts") + hour)
      .groupBy(col("user_id"), col("ts").as("v_ts"))
      .agg(min(col("e_ts")).as("c_ts"))
    val p = c.join(purchases,
        col("user_id") === col("p_user") && col("e_ts") > col("c_ts")
          && col("e_ts") <= col("v_ts") + hour)
      .groupBy(col("user_id"), col("v_ts"))
      .agg(min(col("e_ts")).as("p_ts"))
    val lvl = u
      .join(v.select(col("user_id").as("v_user")).distinct(),
        col("user_id") === col("v_user"), "left")
      .join(c.select(col("user_id").as("cu")).distinct(),
        col("user_id") === col("cu"), "left")
      .join(p.select(col("user_id").as("pu")).distinct(),
        col("user_id") === col("pu"), "left")
      .select(col("user_id"),
        when(col("pu").isNotNull, 3)
          .when(col("cu").isNotNull, 2)
          .when(col("v_user").isNotNull, 1)
          .otherwise(0).as("level"))
    lvl.groupBy(col("level")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("level"))
  }

  /** Longest consecutive-active-day streak per user — the classic
    * gaps-and-islands pattern (d − row_number(d) is constant exactly
    * on a consecutive run): one (user, day) dedup shuffle, one
    * per-user window pass over the O(users·days) relation (never the
    * raw corpus), top-20 via TakeOrdered. Per-user tie rule: the
    * EARLIEST longest streak; global order (streak_days DESC,
    * user_id) is total, so the cut is deterministic.
    */
  val eventsStreaks: QueryDef = QueryDef.sql(
    "events_streaks",
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |g AS (
      |  SELECT user_id, d,
      |    d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INT) AS grp
      |  FROM days),
      |s AS (
      |  SELECT user_id, count(*) AS streak_days, min(d) AS streak_start
      |  FROM g GROUP BY user_id, grp),
      |best AS (
      |  SELECT user_id, streak_days, streak_start,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY streak_days DESC, streak_start) AS rk
      |  FROM s)
      |SELECT user_id, streak_days, streak_start
      |FROM best WHERE rk = 1
      |ORDER BY streak_days DESC, user_id LIMIT 20""".stripMargin) { (s, d) =>
    val days = Tables.events(s, d)
      .select(col("user_id"), col("ts").cast("date").as("d")).distinct()
    val g = days.withColumn("grp",
      date_sub(col("d"),
        row_number().over(Window.partitionBy(col("user_id")).orderBy(col("d")))))
    val streaks = g.groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("streak_days"), min(col("d")).as("streak_start"))
    streaks.withColumn("rk",
        row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("streak_days").desc, col("streak_start"))))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("streak_days"), col("streak_start"))
      .orderBy(col("streak_days").desc, col("user_id"))
      .limit(20)
  }

  /** Hour-of-day activity profile per event type — the intraday
    * seasonality readout (ts_seasonal's day-of-week complement):
    * count + mean value per (type, hour-of-day) cell, each cell's
    * share of its type's daily volume. One scan into an O(types·24)
    * aggregate; the share folds out of a window over that aggregate,
    * never the corpus.
    */
  val eventsHourProfile: QueryDef = QueryDef.sql(
    "events_hour_profile",
    """WITH h AS (
      |  SELECT event_type, CAST(hour(ts) AS INT) AS hod, count(*) AS n,
      |    floor(avg(value) * 10000 + 0.5) / 10000 AS avg_value
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, hod, n, avg_value,
      |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY event_type), 6) AS share
      |FROM h ORDER BY event_type, hod""".stripMargin) { (s, d) =>
    // floor(x·1e4+0.5)/1e4 instead of round(): Spark rounds the
    // shortest-decimal rendering, DuckDB the binary value — exact
    // .xxxx5 ties diverge otherwise (same convention as ts_interp)
    val h = Tables.events(s, d)
      .groupBy(col("event_type"), hour(col("ts")).cast("int").as("hod"))
      .agg(count(lit(1)).as("n"),
        (floor(avg(col("value")) * 10000 + 0.5) / 10000).as("avg_value"))
    h.withColumn("share",
        round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("event_type"))), 6))
      .orderBy(col("event_type"), col("hod"))
  }

  /** Robust anomaly detection: median/MAD takes the place of
    * events_anomaly's mean/stddev, so a burst can't inflate its own
    * detection threshold (the masking failure of z-scores under
    * heavy outliers). Two exact-percentile aggregates over the
    * O(types·hours) hourly relation — never the corpus; the 0.6745
    * factor rescales MAD to σ-equivalents, threshold 3.5 (Iglewicz &
    * Hoaglin's modified z-score convention). The raw score is
    * identical IEEE arithmetic on identical doubles in both engines,
    * so the threshold cut is deterministic.
    */
  val eventsAnomalyMad: QueryDef = QueryDef.sql(
    "events_anomaly_mad",
    """WITH h AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, quantile_cont(n, 0.5) AS med FROM h GROUP BY 1),
      |dev AS (
      |  SELECT h.event_type, hour, n, med, abs(n - med) AS ad
      |  FROM h JOIN m ON h.event_type = m.event_type),
      |md AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1)
      |SELECT dev.event_type, hour, n,
      |  round(0.6745 * (n - med) / mad, 3) AS robust_z
      |FROM dev JOIN md ON dev.event_type = md.event_type
      |WHERE mad > 0 AND abs(0.6745 * (n - med) / mad) >= 3.5
      |ORDER BY dev.event_type, hour""".stripMargin) { (s, d) =>
    val h = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val m = h.groupBy(col("event_type").as("met"))
      .agg(expr("percentile(n, 0.5)").as("med"))
    val dev = h.join(m, col("event_type") === col("met"))
      .select(col("event_type"), col("hour"), col("n"), col("med"),
        abs(col("n") - col("med")).as("ad"))
    val md = dev.groupBy(col("event_type").as("mdet"))
      .agg(expr("percentile(ad, 0.5)").as("mad"))
    dev.join(md, col("event_type") === col("mdet"))
      .withColumn("raw", lit(0.6745) * (col("n") - col("med")) / col("mad"))
      .filter(col("mad") > 0 && abs(col("raw")) >= 3.5)
      .select(col("event_type"), col("hour"), col("n"),
        round(col("raw"), 3).as("robust_z"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Streaming anomaly surfacing: the hourly counts accumulate
    * through a watermarked streaming window aggregate (the 24/7
    * ingest path), and the z-score detection folds over the sink
    * table per refresh — the standard "stream maintains the
    * aggregate, alerting reads the view" split, because a z-score
    * needs the full-period distribution a per-batch stream can't see.
    * Oracle: identical to the batch events_anomaly.
    */
  val streamAnomaly: QueryDef = QueryDef.sql(
    "stream_anomaly",
    """WITH h AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |z AS (
      |  SELECT event_type, hour, n,
      |    round((n - avg(n) OVER (PARTITION BY event_type))
      |      / stddev_samp(n) OVER (PARTITION BY event_type), 3) AS zscore
      |  FROM h)
      |SELECT event_type, hour, n, zscore
      |FROM z WHERE abs(zscore) >= 2
      |ORDER BY event_type, hour""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val hourly = EventStreams.streamHourlyCounts(s, d)
    val w = Window.partitionBy(col("event_type"))
    hourly.withColumn("zscore",
        round((col("n") - avg(col("n")).over(w)) / stddev_samp(col("n")).over(w), 3))
      .filter(abs(col("zscore")) >= 2)
      .select(col("event_type"), col("hour"), col("n"), col("zscore"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Behavioral diversity: per-user Shannon entropy over the user's
    * event-type distribution (how predictable is each user), top-20
    * most diverse. Same algebraically-conditioned form as
    * text_entropy (H = log2(N) − Σ n·log2(n)/N — no per-term
    * division); the aggregate is O(users·types), the ranking a
    * TakeOrdered cut with user_id tie-break on the rounded score.
    */
  val eventsUserEntropy: QueryDef = QueryDef.sql(
    "events_user_entropy",
    """WITH c AS (
      |  SELECT user_id, event_type, CAST(count(*) AS DOUBLE) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id,
      |  round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 6) AS entropy_bits,
      |  CAST(sum(n) AS BIGINT) AS n_events
      |FROM c GROUP BY user_id
      |ORDER BY entropy_bits DESC, user_id LIMIT 20""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).cast("double").as("n"))
      .groupBy(col("user_id"))
      .agg(round(log2(sum(col("n")))
          - sum(col("n") * log2(col("n"))) / sum(col("n")), 6).as("entropy_bits"),
        sum(col("n")).cast("long").as("n_events"))
      .orderBy(col("entropy_bits").desc, col("user_id"))
      .limit(20)
  }

  /** Watermark late-data semantics, oracle-checked: batch 2 arrives
    * after the watermark advanced past most of its windows, and only
    * rows whose window is still open are counted — see
    * EventStreams.streamLateData for the mechanics. The oracle
    * replays the acceptance rule (window_end > max(batch1) − 1 h)
    * in plain SQL.
    */
  val streamLateData: QueryDef = QueryDef.sql(
    "stream_late_data",
    """WITH b1 AS (SELECT * FROM events WHERE event_id % 3 <> 0),
      |wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM b1),
      |b2 AS (
      |  SELECT e.* FROM events e, wm
      |  WHERE e.event_id % 3 = 0
      |    AND date_trunc('hour', e.ts) + INTERVAL 1 HOUR > wm.w),
      |u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
      |SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
      |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
    EventStreams.streamLateData)

  /** Per-user ML feature assembly — the feature-store
    * materialization every churn/LTV/propensity model trains on:
    * event counts (total + per-type via conditional aggregation),
    * monetary total, active-day count, and recency vs the corpus
    * horizon, all in ONE user-keyed shuffle (the per-type counts are
    * FILTER aggregates in the same pass, never separate scans); the
    * corpus max-day is a broadcast 1-row aggregate. Output is
    * O(users) — the relation a trainer would join features from.
    */
  val eventsFeatures: QueryDef = QueryDef.sql(
    "events_features",
    """WITH g AS (SELECT max(date_trunc('day', ts)) AS gmax FROM events)
      |SELECT user_id,
      |  count(*) AS n_events,
      |  count(*) FILTER (event_type = 'click') AS n_click,
      |  count(*) FILTER (event_type = 'view') AS n_view,
      |  count(*) FILTER (event_type = 'purchase') AS n_purchase,
      |  round(sum(value), 2) AS total_value,
      |  count(DISTINCT date_trunc('day', ts)) AS days_active,
      |  date_diff('day', max(date_trunc('day', ts)), (SELECT gmax FROM g))
      |    AS recency_days
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val g = ev.agg(max(date_trunc("day", col("ts"))).as("gmax"))
    ev.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("event_type") === "click", 1)).as("n_click"),
        count(when(col("event_type") === "view", 1)).as("n_view"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        round(sum(col("value")), 2).as("total_value"),
        countDistinct(date_trunc("day", col("ts"))).as("days_active"),
        max(date_trunc("day", col("ts"))).as("last_day"))
      .crossJoin(broadcast(g))
      .select(col("user_id"), col("n_events"), col("n_click"), col("n_view"),
        col("n_purchase"), col("total_value"), col("days_active"),
        datediff(col("gmax"), col("last_day")).cast("long").as("recency_days"))
      .orderBy(col("user_id"))
  }

  /** Period-over-period mover detection: monthly revenue per nation,
    * MoM delta from a lag window over the O(nations × months)
    * aggregate, top-10 movers by |delta| with a total (|delta|,
    * month, nation) order so the cut is deterministic. Deltas are
    * computed from the ROUNDED monthly revenues, so both engines
    * subtract identical doubles. The corpus shuffles once (the
    * aggregate); everything after runs on the bounded relation.
    */
  val qMovers: QueryDef = QueryDef.sql(
    "q_movers",
    """WITH m AS (
      |  SELECT n_name, date_trunc('month', o_orderdate) AS mo,
      |    round(sum(o_totalprice), 2) AS rev
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2),
      |lagged AS (
      |  SELECT n_name, CAST(mo AS TIMESTAMP) AS mo, rev,
      |    lag(rev) OVER (PARTITION BY n_name ORDER BY mo) AS prev_rev
      |  FROM m)
      |SELECT n_name, mo, rev, prev_rev,
      |  round(rev - prev_rev, 2) AS delta
      |FROM lagged WHERE prev_rev IS NOT NULL
      |ORDER BY abs(rev - prev_rev) DESC, mo, n_name LIMIT 10""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val m = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), date_trunc("month", col("o_orderdate")).as("mo"))
      .agg(round(sum(col("o_totalprice")), 2).as("rev"))
    m.withColumn("prev_rev",
        lag(col("rev"), 1).over(Window.partitionBy(col("n_name")).orderBy(col("mo"))))
      .filter(col("prev_rev").isNotNull)
      .withColumn("delta", round(col("rev") - col("prev_rev"), 2))
      .orderBy(abs(col("rev") - col("prev_rev")).desc, col("mo"), col("n_name"))
      .limit(10)
  }

  /** Checkpoint-incremental batch ETL (Trigger.AvailableNow): two
    * invocations of the same streaming job, each consuming only the
    * files that arrived since the last run — see
    * EventStreams.incrementalRuns. Oracle = one batch aggregate over
    * the full table; the only-the-delta property is pinned in
    * ScalaTest via run 2's numInputRows.
    */
  val streamIncremental: QueryDef = QueryDef.sql(
    "stream_incremental",
    """SELECT o_orderpriority, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)(
    EventStreams.streamIncremental)

  /** Linear multi-touch attribution — the fair-share counterpart of
    * events_attribution's last-touch: every purchase splits its value
    * equally across ALL its touches in the preceding 7 days (no
    * touch → full credit to 'direct'). One user-keyed equality join
    * bounded by per-user activity (the time range is a residual
    * predicate), per-purchase touch counts from a window over the
    * join result, then an O(channels) rollup. Credit conservation
    * (Σ credited == Σ purchase value) pinned in ScalaTest.
    */
  val eventsAttributionLinear: QueryDef = QueryDef.sql(
    "events_attribution_linear",
    """WITH p AS (
      |  SELECT user_id, event_id AS pid, ts AS pts, value
      |  FROM events WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT user_id AS tuid, event_type AS channel, ts AS tts
      |  FROM events WHERE event_type <> 'purchase'),
      |m AS (
      |  SELECT p.pid, p.value, t.channel
      |  FROM p LEFT JOIN t ON p.user_id = t.tuid
      |    AND t.tts < p.pts AND t.tts >= p.pts - INTERVAL 7 DAY),
      |c AS (
      |  SELECT pid, value, coalesce(channel, 'direct') AS channel,
      |    count(*) OVER (PARTITION BY pid) AS n_touch
      |  FROM m)
      |SELECT channel, count(*) AS n_touches,
      |  round(sum(value / n_touch), 2) AS credited_revenue
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        col("ts").as("pts"), col("value"))
    val t = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("tuid"), col("event_type").as("channel"),
        col("ts").as("tts"))
    val m = p.join(t,
      col("user_id") === col("tuid") &&
        col("tts") < col("pts") &&
        col("tts") >= col("pts") - expr("INTERVAL 7 DAY"), "left_outer")
    m.select(col("pid"), col("value"),
        coalesce(col("channel"), lit("direct")).as("channel"))
      .withColumn("n_touch",
        count(lit(1)).over(Window.partitionBy(col("pid"))))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        round(sum(col("value") / col("n_touch")), 2).as("credited_revenue"))
      .orderBy(col("channel"))
  }

  /** Rate-based bot screening — the ingest-hygiene pass every
    * clickstream pipeline runs before analytics: a user whose PEAK
    * hourly event rate reaches the threshold is flagged, and the
    * readout shows how many users/events each verdict absorbs. Two
    * chained aggregates (user-hour, then user) over one user-keyed
    * shuffle; O(2) output. The per-cell threshold is exact integer
    * comparison, so the verdict is engine-identical.
    */
  val eventsBotDetect: QueryDef = QueryDef.sql(
    "events_bot_detect",
    """WITH uh AS (
      |  SELECT user_id, date_trunc('hour', ts) AS h, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |u AS (
      |  SELECT user_id, max(n) AS peak_rate, CAST(sum(n) AS BIGINT) AS n_events
      |  FROM uh GROUP BY 1)
      |SELECT CASE WHEN peak_rate >= 3 THEN 'bot' ELSE 'human' END AS verdict,
      |  count(*) AS n_users, CAST(sum(n_events) AS BIGINT) AS n_events,
      |  CAST(max(peak_rate) AS BIGINT) AS max_rate
      |FROM u GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("peak_rate"), sum(col("n")).as("n_events"))
      .groupBy(when(col("peak_rate") >= 3, "bot").otherwise("human").as("verdict"))
      .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("n_events"),
        max(col("peak_rate")).as("max_rate"))
      .orderBy(col("verdict"))
  }

  /** Bitmap-index cohort intersection: exact common-user counts for
    * every event-type pair via Roaring-style 64-bit bitmap words —
    * the shuffle carries (type, word_idx, bits) where one word covers
    * 64 users, so audience overlap over billions of users moves
    * ~1.6% of the distinct-pair volume and the pairwise step is a
    * word-aligned AND + popcount, never a user-level self-join. The
    * oracle is the semantic ground truth (distinct user intersection);
    * the bitmap path must reproduce it exactly.
    */
  val eventsBitmapCohort: QueryDef = QueryDef.sql(
    "events_bitmap_cohort",
    """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      |       count(*) AS n_common
      |FROM tu a JOIN tu b
      |  ON a.user_id = b.user_id AND a.event_type < b.event_type
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val tu = Tables.events(s, d)
      .select(col("event_type"), col("user_id")).distinct()
    val bm = tu.groupBy(col("event_type"), expr("user_id DIV 64").as("w"))
      .agg(expr("bit_or(shiftleft(1L, cast(user_id % 64 AS int)))").as("bits"))
    bm.toDF("type_a", "w", "bits_a")
      .join(bm.toDF("type_b", "w2", "bits_b"),
        col("w") === col("w2") && col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(sum(expr("bit_count(bits_a & bits_b)")).cast("long").as("n_common"))
      .filter(col("n_common") > 0)
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Streaming maintenance of the bitmap cohort table — same oracle
    * as the batch entry because bit_or needs no dedup state (bitmap
    * union is idempotent), so one streaming aggregate keeps the word
    * table exact; see EventStreams.streamBitmapCohort.
    */
  val streamBitmapCohort: QueryDef = QueryDef.sql(
    "stream_bitmap_cohort",
    """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      |       count(*) AS n_common
      |FROM tu a JOIN tu b
      |  ON a.user_id = b.user_id AND a.event_type < b.event_type
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
    graft.streaming.EventStreams.streamBitmapCohort)

  /** Sliding-window streaming aggregate — 1 h windows every 15 min
    * (each event in 4 overlapping windows, expanded map-side, state
    * O(types × open windows)); see EventStreams.streamSliding. The
    * oracle replays the window-assignment arithmetic.
    */
  val streamSliding: QueryDef = QueryDef.sql(
    "stream_sliding",
    """SELECT time_bucket(INTERVAL '15 minutes', ts)
      |         - (k * INTERVAL '15 minutes') AS ws,
      |       event_type, count(*) AS n
      |FROM events, (VALUES (0),(1),(2),(3)) o(k)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
    graft.streaming.EventStreams.streamSliding)

  /** CEP-lite sequence matching (the MATCH_RECOGNIZE shape): each
    * (user, day) behavior stream becomes a single-char-coded string
    * in exact (ts, event_id) order, and the pattern "one or more
    * views, then a click, then a purchase" is the regex `v+cp` —
    * counted with non-overlapping greedy semantics identical in both
    * engines. The scale posture: ONE (user, day) shuffle, per-group
    * state bounded by a day's events (array_sort inside the
    * aggregate, no window over the corpus), regex on the tiny coded
    * string. Users/days with zero matches drop out.
    */
  val eventsSequenceMatch: QueryDef = QueryDef.sql(
    "events_sequence_match",
    """WITH coded AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |         ts, event_id,
      |         CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
      |              WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
      |              ELSE 'e' END AS code
      |  FROM events),
      |seqs AS (
      |  SELECT user_id, day,
      |         string_agg(code, '' ORDER BY ts, event_id) AS seq
      |  FROM coded GROUP BY 1, 2)
      |SELECT user_id, day,
      |       CAST(len(regexp_extract_all(seq, 'v+cp')) AS BIGINT) AS n_matches
      |FROM seqs
      |WHERE len(regexp_extract_all(seq, 'v+cp')) > 0
      |ORDER BY user_id, day""".stripMargin) { (s, d) =>
    val coded = Tables.events(s, d).select(
      col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"),
      col("ts"), col("event_id"),
      when(col("event_type") === "view", "v")
        .when(col("event_type") === "click", "c")
        .when(col("event_type") === "purchase", "p")
        .when(col("event_type") === "signup", "s")
        .otherwise("e").as("code"))
    coded
      .groupBy(col("user_id"), col("day"))
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(ts, event_id, code))), x -> x.code)"),
        "").as("seq"))
      .withColumn("n_matches",
        size(regexp_extract_all(col("seq"), lit("v+cp"), lit(0))).cast("long"))
      .filter(col("n_matches") > 0)
      .select(col("user_id"), col("day"), col("n_matches"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Kaplan–Meier survival estimate of user lifetimes — THE
    * censoring-aware retention curve (a plain "avg lifetime" is
    * biased low: users still active at corpus end haven't finished
    * living). Lifetime = days between a user's first and last event;
    * users whose last event falls within 14 days of the corpus
    * horizon are right-CENSORED (they leave the risk set without
    * counting as churn). Per-duration risk set nᵢ, deaths dᵢ and
    * censorings cᵢ come from ONE O(users) groupBy + an O(durations)
    * aggregate; the product-limit estimator S(t)=Π(1−dᵢ/nᵢ) is a
    * cumulative exp∘sum∘ln window over that tiny relation (exact-int
    * inputs; the only floats are the final hazard/survival, floored
    * to 4 decimals on both engines; a dᵢ=nᵢ full-extinction step is
    * flagged through a cumulative max so S snaps to exact 0 instead
    * of exp(ln 0)). Horizon is a single-row broadcast. Scale: the
    * corpus-sized stage is the user groupBy; everything after is
    * |durations|-sized.
    */
  val eventsSurvival: QueryDef = QueryDef.sql(
    "events_survival",
    """WITH u AS (
      |  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
      |  FROM events GROUP BY 1),
      |h AS (SELECT max(ts) AS horizon FROM events),
      |life AS (
      |  SELECT date_diff('day', CAST(first_ts AS DATE), CAST(last_ts AS DATE)) AS t,
      |    CASE WHEN last_ts >= (SELECT horizon FROM h) - INTERVAL 14 DAY
      |         THEN 1 ELSE 0 END AS censored
      |  FROM u),
      |byt AS (
      |  SELECT t, CAST(sum(1 - censored) AS BIGINT) AS d,
      |    CAST(sum(censored) AS BIGINT) AS c
      |  FROM life GROUP BY 1),
      |km AS (
      |  SELECT t, d, c,
      |    CAST((SELECT count(*) FROM life)
      |      - coalesce(sum(d + c) OVER (ORDER BY t
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
      |  FROM byt),
      |s AS (
      |  SELECT t, n_risk, d, c,
      |    max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
      |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead,
      |    sum(CASE WHEN d < n_risk THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk) ELSE 0 END)
      |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnsum
      |  FROM km)
      |SELECT t, n_risk, d, c,
      |  floor(d * 10000.0 / n_risk + 0.5) / 10000 AS hazard,
      |  CASE WHEN dead = 1 THEN 0.0
      |       ELSE floor(exp(lnsum) * 10000 + 0.5) / 10000 END AS survival
      |FROM s ORDER BY t""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val u = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
    val horizon = ev.agg(max(col("ts")).as("horizon"))
    val life = u.crossJoin(broadcast(horizon)) // single-row horizon
      .select(
        datediff(col("last_ts").cast("date"), col("first_ts").cast("date"))
          .cast("long").as("t"), // long: matches DuckDB date_diff's BIGINT
        when(col("last_ts") >= col("horizon") - expr("INTERVAL 14 DAY"), 1)
          .otherwise(0).as("censored"))
    val byt = life.groupBy(col("t"))
      .agg(sum(lit(1) - col("censored")).as("d"), sum(col("censored")).as("c"))
      .cache() // O(durations) rows; both readers below share one corpus pass
    // total users as a single-row broadcast over the O(durations)
    // aggregate — no second corpus pass, no driver count
    val total = byt.agg(sum(col("d") + col("c")).as("n_users"))
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byt.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("n_users") - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
      .withColumn("dead",
        max(when(col("d") >= col("n_risk"), 1).otherwise(0)).over(wCum))
      .withColumn("lnsum",
        sum(when(col("d") < col("n_risk"),
            log(lit(1.0) - col("d").cast("double") / col("n_risk")))
          .otherwise(lit(0.0))).over(wCum))
      .select(col("t"), col("n_risk"), col("d"), col("c"),
        (floor(col("d") * 10000.0 / col("n_risk") + 0.5) / 10000).as("hazard"),
        when(col("dead") === 1, lit(0.0))
          .otherwise(floor(exp(col("lnsum")) * 10000 + 0.5) / 10000).as("survival"))
      .orderBy(col("t"))
  }

  /** TRENDING leaderboard — exponentially time-decayed activity
    * scores (λ=0.9/day): S(u) = Σ_d n_{u,d}·λ^(ref−d), the decayed
    * counter ranking every "what's hot now" surface uses instead of
    * raw lifetime counts (yesterday's burst outranks last month's).
    * Corpus cost: ONE (user, day) aggregate (exact int counts); the
    * decay-weighted fold then runs as an ORDERED cumulative window
    * per user over O(users×days) rows — sequential accumulation in
    * day order, identical in both engines, so the float total is
    * deterministic under any partitioning (an unordered SUM would
    * reassociate). Top-20 is a total order on (score, user).
    */
  val eventsTrending: QueryDef = QueryDef.sql(
    "events_trending",
    """WITH daily AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |         count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |ref AS (SELECT max(day) AS refday FROM daily),
      |scored AS (
      |  SELECT user_id, day,
      |    sum(n * power(0.9, date_diff('day', day, refday))) OVER (
      |      PARTITION BY user_id ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
      |    row_number() OVER (PARTITION BY user_id ORDER BY day DESC) AS rd
      |  FROM daily CROSS JOIN ref)
      |SELECT user_id, round(s, 6) AS score
      |FROM scored WHERE rd = 1
      |ORDER BY score DESC, user_id LIMIT 20""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val ref = daily.agg(max(col("day")).as("refday"))
    val wCum = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLast = Window.partitionBy(col("user_id")).orderBy(col("day").desc)
    daily.crossJoin(broadcast(ref))
      .withColumn("s", sum(col("n") *
        pow(lit(0.9), datediff(col("refday"), col("day")))).over(wCum))
      .withColumn("rd", row_number().over(wLast))
      .filter(col("rd") === 1)
      .select(col("user_id"), round(col("s"), 6).as("score"))
      .orderBy(col("score").desc, col("user_id"))
      .limit(20)
  }

  /** MANN–WHITNEY U TEST — the nonparametric complement to
    * events_abtest's Welch t (which trusts means; heavy-tailed
    * revenue distributions routinely break that): does variant B's
    * revenue DISTRIBUTION stochastically dominate A's? Entirely
    * exact-integer until one final expression: per-user revenue in
    * cents (exact int64), tie groups = the distinct-revenue
    * aggregate, average ranks via the doubled-rank identity
    * 2R_A = Σ cnt_A·(2·start + cnt + 1) (never a fractional rank
    * materialized), tie-corrected variance from Σ(t³−t) — all int64
    * sums, so the statistic is partition- and engine-identical. The
    * prefix count `start` uses the banded two-phase offsets
    * (q_global_rank's machinery), so no unpartitioned window
    * touches the per-value relation.
    */
  val eventsMannwhitney: QueryDef = QueryDef.sql(
    "events_mannwhitney",
    """WITH per_user AS (
      |  SELECT user_id, user_id % 2 AS variant,
      |    sum(CASE WHEN event_type = 'purchase'
      |             THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS rev
      |  FROM events GROUP BY 1, 2),
      |g AS (SELECT rev, count(*) AS cnt,
      |        sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS cnt_a
      |      FROM per_user GROUP BY rev),
      |o AS (SELECT rev, cnt, cnt_a,
      |        coalesce(sum(cnt) OVER (ORDER BY rev
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      |      FROM g),
      |agg AS (SELECT sum(cnt_a * (2 * start + cnt + 1)) AS r2a,
      |               sum(cnt * cnt * cnt - cnt) AS t,
      |               sum(cnt_a) AS na, sum(cnt - cnt_a) AS nb, sum(cnt) AS n
      |        FROM o)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  round(CAST(r2a - na * (na + 1) AS DOUBLE) / 2, 1) AS u_a,
      |  round((CAST(r2a - na * (na + 1) - na * nb AS DOUBLE) / 2)
      |        / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12
      |               * (CAST(n + 1 AS DOUBLE)
      |                  - CAST(t AS DOUBLE) / CAST(n AS DOUBLE)
      |                    / CAST(n - 1 AS DOUBLE))), 4) AS z
      |FROM agg""".stripMargin) { (s, d) =>
    val perUser = Tables.events(s, d)
      .groupBy(col("user_id"), (col("user_id") % 2).as("variant"))
      .agg(sum(when(col("event_type") === "purchase",
        round(col("value") * 100, 0).cast("long")).otherwise(0L)).as("rev"))
    val g = perUser.groupBy(col("rev"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("cnt_a"))
      .withColumn("band", expr("rev div 100000"))
    val bandCounts = g.groupBy(col("band")).agg(sum(col("cnt")).as("bn"))
    val wBands = Window.orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bandCounts
      .withColumn("offset", coalesce(sum(col("bn")).over(wBands), lit(0L)))
      .select(col("band").as("ob"), col("offset"))
    val wLocal = Window.partitionBy(col("band")).orderBy(col("rev"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val o = g.join(broadcast(offsets), col("band") === col("ob"))
      .withColumn("start",
        col("offset") + coalesce(sum(col("cnt")).over(wLocal), lit(0L)))
    o.agg(
        sum(col("cnt_a") * (lit(2) * col("start") + col("cnt") + 1)).as("r2a"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("t"),
        sum(col("cnt_a")).as("na"),
        sum(col("cnt") - col("cnt_a")).as("nb"),
        sum(col("cnt")).as("n"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        round((col("r2a") - col("na") * (col("na") + 1)).cast("double") / 2, 1)
          .as("u_a"),
        round(((col("r2a") - col("na") * (col("na") + 1)
            - col("na") * col("nb")).cast("double") / 2)
          / sqrt(col("na").cast("double") * col("nb").cast("double") / 12
            * ((col("n") + 1).cast("double")
              - col("t").cast("double") / col("n").cast("double")
                / (col("n") - 1).cast("double"))), 4).as("z"))
  }

  /** TWO-SAMPLE KOLMOGOROV–SMIRNOV TEST — the SHAPE complement to
    * events_mannwhitney's location shift: D = sup|F_A − F_B| sees a
    * variance or tail change even when medians agree. Exactness one
    * step further than MW: the supremum itself stays INTEGER —
    * D = max|cumA·n_B − cumB·n_A| / (n_A·n_B), the max runs over
    * exact int64 cross-products (max is order-free), and only the
    * already-maximized integer divides once. Same per-value
    * tie-group aggregate + banded two-phase prefix machinery as MW;
    * asymptotic p from the first Kolmogorov term 2·exp(−2λ²),
    * λ = D·√(n_A·n_B/n), spelled identically in the oracle.
    */
  val eventsKsTest: QueryDef = QueryDef.sql(
    "events_ks_test",
    """WITH per_user AS (
      |  SELECT user_id, user_id % 2 AS variant,
      |    sum(CASE WHEN event_type = 'purchase'
      |             THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS rev
      |  FROM events GROUP BY 1, 2),
      |g AS (SELECT rev,
      |        sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS ca,
      |        sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS cb
      |      FROM per_user GROUP BY rev),
      |c AS (SELECT rev,
      |        sum(ca) OVER (ORDER BY rev
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
      |        sum(cb) OVER (ORDER BY rev
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
      |      FROM g),
      |n AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM g),
      |agg AS (SELECT max(abs(cum_a * n.nb - cum_b * n.na)) AS dnum
      |        FROM c, n)
      |SELECT CAST(n.na AS BIGINT) AS n_a, CAST(n.nb AS BIGINT) AS n_b,
      |  round(CAST(dnum AS DOUBLE) / CAST(n.na AS DOUBLE) / CAST(n.nb AS DOUBLE), 6) AS ks_d,
      |  round(2 * exp(-2
      |    * pow(CAST(dnum AS DOUBLE) / CAST(n.na AS DOUBLE) / CAST(n.nb AS DOUBLE), 2)
      |    * CAST(n.na AS DOUBLE) * CAST(n.nb AS DOUBLE)
      |      / CAST(n.na + n.nb AS DOUBLE)), 6) AS p_approx
      |FROM agg, n""".stripMargin) { (s, d) =>
    val perUser = Tables.events(s, d)
      .groupBy(col("user_id"), (col("user_id") % 2).as("variant"))
      .agg(sum(when(col("event_type") === "purchase",
        round(col("value") * 100, 0).cast("long")).otherwise(0L)).as("rev"))
    val g = perUser.groupBy(col("rev"))
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("cb"))
      .withColumn("band", expr("rev div 100000"))
    val bandTotals = g.groupBy(col("band"))
      .agg(sum(col("ca")).as("ba"), sum(col("cb")).as("bb"))
    val wBands = Window.orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bandTotals
      .withColumn("off_a", coalesce(sum(col("ba")).over(wBands), lit(0L)))
      .withColumn("off_b", coalesce(sum(col("bb")).over(wBands), lit(0L)))
      .select(col("band").as("ob"), col("off_a"), col("off_b"))
    val wLocal = Window.partitionBy(col("band")).orderBy(col("rev"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = g.join(broadcast(offsets), col("band") === col("ob"))
      .withColumn("cum_a", col("off_a") + sum(col("ca")).over(wLocal))
      .withColumn("cum_b", col("off_b") + sum(col("cb")).over(wLocal))
    val n = g.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    c.crossJoin(broadcast(n))
      .agg(max(abs(col("cum_a") * col("nb") - col("cum_b") * col("na"))).as("dnum"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        round(col("dnum").cast("double")
          / col("na").cast("double") / col("nb").cast("double"), 6).as("ks_d"),
        round(lit(2) * exp(lit(-2)
          * pow(col("dnum").cast("double")
            / col("na").cast("double") / col("nb").cast("double"), 2)
          * col("na").cast("double") * col("nb").cast("double")
          / (col("na") + col("nb")).cast("double")), 6).as("p_approx"))
  }

  /** BENJAMINI–HOCHBERG FDR CONTROL over a FAMILY of per-metric A/B
    * tests — the multiple-comparisons discipline every experiment
    * readout needs once it reports more than one metric (5 metrics
    * at α=0.05 ≈ 23% chance of a fake "win"; BH caps the expected
    * false-discovery RATE instead of Bonferroni's power-killing
    * family-wise bound): one KS test per event type (variant = user
    * parity, metric = per-user summed value in exact cents), then
    * the step-up p_adj(i) = min_{j≥i} p_(j)·m/j as a reversed
    * cumulative-min window. Scale posture: the corpus collapses in
    * ONE pass to per-(type, cent-value) tie groups; cumulative
    * counts use the banded two-phase prefix (events_ks_test's
    * machinery with event_type added to every key — no unpartitioned
    * window touches a corpus-sized relation); the BH windows run
    * over the O(#hypotheses) p-value relation, small BY NATURE.
    * Integer-exact through the KS supremum; the p chain is one
    * deterministic double expression spelled identically in the
    * oracle, rounded only for display.
    */
  val eventsFdrBh: QueryDef = QueryDef.sql(
    "events_fdr_bh",
    """WITH per_user AS (
      |  SELECT event_type, user_id, user_id % 2 AS variant,
      |    sum(CAST(round(value * 100, 0) AS BIGINT)) AS rev
      |  FROM events GROUP BY 1, 2, 3),
      |g AS (SELECT event_type, rev,
      |        sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS ca,
      |        sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS cb
      |      FROM per_user GROUP BY 1, 2),
      |c AS (SELECT event_type,
      |        sum(ca) OVER (PARTITION BY event_type ORDER BY rev
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
      |        sum(cb) OVER (PARTITION BY event_type ORDER BY rev
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
      |      FROM g),
      |n AS (SELECT event_type, sum(ca) AS na, sum(cb) AS nb
      |      FROM g GROUP BY 1),
      |d AS (SELECT c.event_type, n.na, n.nb,
      |        max(abs(cum_a * n.nb - cum_b * n.na)) AS dnum
      |      FROM c JOIN n ON n.event_type = c.event_type
      |      GROUP BY 1, 2, 3),
      |p AS (SELECT event_type, na, nb,
      |        CAST(dnum AS DOUBLE) / CAST(na AS DOUBLE)
      |          / CAST(nb AS DOUBLE) AS ks_d,
      |        least(1.0, 2 * exp(-2
      |          * pow(CAST(dnum AS DOUBLE) / CAST(na AS DOUBLE)
      |                / CAST(nb AS DOUBLE), 2)
      |          * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
      |          / CAST(na + nb AS DOUBLE))) AS p_raw
      |      FROM d),
      |ranked AS (SELECT *,
      |        row_number() OVER (ORDER BY p_raw, event_type) AS i,
      |        count(*) OVER () AS m
      |      FROM p),
      |adj AS (SELECT *,
      |        least(1.0, min(p_raw * m / i) OVER (ORDER BY i DESC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS p_adj
      |      FROM ranked)
      |SELECT event_type, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  round(ks_d, 6) AS ks_d, round(p_raw, 6) AS p_raw,
      |  round(p_adj, 6) AS p_adj,
      |  CAST(p_adj <= 0.10 AS BOOLEAN) AS significant
      |FROM adj ORDER BY event_type""".stripMargin) { (s, d) =>
    val perUser = Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"),
        (col("user_id") % 2).as("variant"))
      .agg(sum(round(col("value") * 100, 0).cast("long")).as("rev"))
    val g = perUser.groupBy(col("event_type"), col("rev"))
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("cb"))
      .withColumn("band", expr("rev div 100000"))
    val bandTotals = g.groupBy(col("event_type"), col("band"))
      .agg(sum(col("ca")).as("ba"), sum(col("cb")).as("bb"))
    val wBands = Window.partitionBy(col("event_type")).orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bandTotals
      .withColumn("off_a", coalesce(sum(col("ba")).over(wBands), lit(0L)))
      .withColumn("off_b", coalesce(sum(col("bb")).over(wBands), lit(0L)))
      .select(col("event_type").as("ot"), col("band").as("ob"),
        col("off_a"), col("off_b"))
    val wLocal = Window.partitionBy(col("event_type"), col("band"))
      .orderBy(col("rev"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = g.join(broadcast(offsets),
        col("event_type") === col("ot") && col("band") === col("ob"))
      .withColumn("cum_a", col("off_a") + sum(col("ca")).over(wLocal))
      .withColumn("cum_b", col("off_b") + sum(col("cb")).over(wLocal))
    val n = g.groupBy(col("event_type").as("nt"))
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val dRel = c.join(broadcast(n), col("event_type") === col("nt"))
      .groupBy(col("event_type"), col("na"), col("nb"))
      .agg(max(abs(col("cum_a") * col("nb") - col("cum_b") * col("na")))
        .as("dnum"))
    val p = dRel.select(col("event_type"), col("na"), col("nb"),
      (col("dnum").cast("double") / col("na").cast("double")
        / col("nb").cast("double")).as("ks_d"),
      least(lit(1.0), lit(2) * exp(lit(-2)
        * pow(col("dnum").cast("double") / col("na").cast("double")
          / col("nb").cast("double"), 2)
        * col("na").cast("double") * col("nb").cast("double")
        / (col("na") + col("nb")).cast("double"))).as("p_raw"))
    // the BH windows run over the O(#hypotheses) relation — one row
    // per tested metric, small by nature, never corpus-sized
    val wRank = Window.orderBy(col("p_raw"), col("event_type"))
    val wStepUp = Window.orderBy(col("i").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p.withColumn("i", row_number().over(wRank))
      .withColumn("m", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("p_adj",
        least(lit(1.0), min(col("p_raw") * col("m") / col("i")).over(wStepUp)))
      .select(col("event_type"), col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"),
        round(col("ks_d"), 6).as("ks_d"), round(col("p_raw"), 6).as("p_raw"),
        round(col("p_adj"), 6).as("p_adj"),
        (col("p_adj") <= 0.10).as("significant"))
      .orderBy(col("event_type"))
  }

  /** mSPRT ALWAYS-VALID sequential A/B monitoring (mixture
    * sequential probability ratio test — Robbins 1970 mixture rule,
    * the machinery behind "peek whenever you want" experiment
    * dashboards): the fixed-horizon tests (events_abtest / MW / KS)
    * are only valid at ONE pre-committed look, but dashboards are
    * watched daily and stopped at the first green — that peeking
    * inflates false positives several-fold. The mixture likelihood
    * ratio Λ_t = √(V/(V+τ²))·exp(Δ²τ²/(2V(V+τ²))) against a
    * N(0,τ²) effect prior gives p_t = min(1, 1/Λ_t), and the
    * running min over days is an ALWAYS-VALID p-value: valid at
    * every look simultaneously, monotone non-increasing. Scale
    * posture: ONE corpus pass to per-(day, variant) exact-cent
    * sufficient statistics (n, Σx, Σx² as int64); every cumulative
    * window runs over the O(days) calendar-bounded relation. The
    * float chain (pooled variance → V → Λ → p) is one deterministic
    * expression over exact ints, spelled identically in the oracle.
    * (Σx² in int64 is exact to ~10⁹ purchase rows at cent scale;
    * a larger deployment would widen to DECIMAL(38).)
    */
  val eventsMsprt: QueryDef = QueryDef.sql(
    "events_msprt",
    """WITH daily AS (
      |  SELECT date_trunc('day', ts) AS day, user_id % 2 AS variant,
      |    count(*) AS n,
      |    sum(CAST(round(value * 100, 0) AS BIGINT)) AS s,
      |    sum(CAST(round(value * 100, 0) AS BIGINT)
      |        * CAST(round(value * 100, 0) AS BIGINT)) AS q
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |byday AS (
      |  SELECT day,
      |    sum(CASE WHEN variant = 0 THEN n ELSE 0 END) AS na_d,
      |    sum(CASE WHEN variant = 0 THEN s ELSE 0 END) AS sa_d,
      |    sum(CASE WHEN variant = 0 THEN q ELSE 0 END) AS qa_d,
      |    sum(CASE WHEN variant = 1 THEN n ELSE 0 END) AS nb_d,
      |    sum(CASE WHEN variant = 1 THEN s ELSE 0 END) AS sb_d,
      |    sum(CASE WHEN variant = 1 THEN q ELSE 0 END) AS qb_d
      |  FROM daily GROUP BY 1),
      |cum AS (
      |  SELECT day,
      |    sum(na_d) OVER w AS na, sum(sa_d) OVER w AS sa,
      |    sum(qa_d) OVER w AS qa,
      |    sum(nb_d) OVER w AS nb, sum(sb_d) OVER w AS sb,
      |    sum(qb_d) OVER w AS qb
      |  FROM byday
      |  WINDOW w AS (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |stat AS (
      |  SELECT day, na, nb,
      |    CAST(sb AS DOUBLE) / nb - CAST(sa AS DOUBLE) / na AS delta,
      |    (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na
      |     + CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / nb)
      |      / (na + nb - 2) * (1.0 / na + 1.0 / nb) AS v
      |  FROM cum WHERE na >= 2 AND nb >= 2),
      |lr AS (
      |  SELECT day, na, nb, delta,
      |    CASE WHEN v > 0 THEN least(1.0, 1.0 /
      |      (sqrt(v / (v + 250000)) *
      |       exp(delta * delta * 250000 / (2 * v * (v + 250000)))))
      |    ELSE 1.0 END AS p_t
      |  FROM stat)
      |SELECT day, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  round(delta, 4) AS delta_cents,
      |  round(min(p_t) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
      |    AS p_always_valid
      |FROM lr ORDER BY day""".stripMargin) { (s, d) =>
    val cents = round(col("value") * 100, 0).cast("long")
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(date_trunc("day", col("ts")).as("day"),
        (col("user_id") % 2).as("variant"))
      .agg(count(lit(1)).as("n"), sum(cents).as("s"),
        sum(cents * cents).as("q"))
    val byday = daily.groupBy(col("day"))
      .agg(
        sum(when(col("variant") === 0, col("n")).otherwise(0L)).as("na_d"),
        sum(when(col("variant") === 0, col("s")).otherwise(0L)).as("sa_d"),
        sum(when(col("variant") === 0, col("q")).otherwise(0L)).as("qa_d"),
        sum(when(col("variant") === 1, col("n")).otherwise(0L)).as("nb_d"),
        sum(when(col("variant") === 1, col("s")).otherwise(0L)).as("sb_d"),
        sum(when(col("variant") === 1, col("q")).otherwise(0L)).as("qb_d"))
    // cumulative windows over the O(days) calendar-bounded relation
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byday.select(col("day"),
      sum(col("na_d")).over(w).as("na"), sum(col("sa_d")).over(w).as("sa"),
      sum(col("qa_d")).over(w).as("qa"),
      sum(col("nb_d")).over(w).as("nb"), sum(col("sb_d")).over(w).as("sb"),
      sum(col("qb_d")).over(w).as("qb"))
    val stat = cum.filter(col("na") >= 2 && col("nb") >= 2)
      .select(col("day"), col("na"), col("nb"),
        (col("sb").cast("double") / col("nb")
          - col("sa").cast("double") / col("na")).as("delta"),
        ((col("qa").cast("double")
          - col("sa").cast("double") * col("sa").cast("double") / col("na")
          + col("qb").cast("double")
          - col("sb").cast("double") * col("sb").cast("double") / col("nb"))
          / (col("na") + col("nb") - 2)
          * (lit(1.0) / col("na") + lit(1.0) / col("nb"))).as("v"))
    val tau2 = lit(250000) // τ = $5 in cents — the effect-size prior
    val lr = stat.select(col("day"), col("na"), col("nb"), col("delta"),
      when(col("v") > 0, least(lit(1.0), lit(1.0) /
        (sqrt(col("v") / (col("v") + tau2)) *
          exp(col("delta") * col("delta") * tau2
            / (lit(2) * col("v") * (col("v") + tau2))))))
        .otherwise(1.0).as("p_t"))
    lr.select(col("day"), col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"),
        round(col("delta"), 4).as("delta_cents"),
        round(min(col("p_t")).over(w), 6).as("p_always_valid"))
      .orderBy(col("day"))
  }

  private val PermB = 200

  /** Exact permutation test on the A/B revenue lift — the
    * assumption-free significance readout next to the t
    * (events_abtest), rank (events_mannwhitney), and distributional
    * (events_ks_test) tests: re-randomize the variant assignment B
    * times and ask how often the permuted |mean lift| reaches the
    * observed one. Permutations are HASH-DERIVED (md5(b:user) first
    * hex char parity — 8 of 16 hex chars each side, an exact
    * fair coin both engines replay identically; rand() is neither).
    * The corpus collapses to the per-user cents relation ONCE; the
    * ×B explode shuffles only B groups (map-side partial agg), and
    * every comparison is EXACT integer arithmetic to the end:
    * |S₁·n₀ − S₀·n₁| cross-multiplied against the observed rational
    * in int128 (DuckDB HUGEINT / Spark decimal(38,0)) — no float
    * enters until the two rounded output columns. p = (1+c)/(B+1),
    * the add-one permutation p-value.
    */
  val eventsPermtest: QueryDef = QueryDef.sql(
    "events_permtest",
    s"""WITH per_user AS (
       |  SELECT user_id, user_id % 2 AS variant,
       |    sum(CASE WHEN event_type = 'purchase'
       |             THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS rev
       |  FROM events GROUP BY 1, 2),
       |tot AS (
       |  SELECT count(*) AS n, CAST(sum(rev) AS BIGINT) AS s,
       |    sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n1,
       |    CAST(sum(CASE WHEN variant = 1 THEN rev ELSE 0 END) AS BIGINT) AS s1
       |  FROM per_user),
       |obs AS (
       |  SELECT n,
       |    abs(CAST(s1 AS HUGEINT) * (n - n1) - CAST(s - s1 AS HUGEINT) * n1) AS num,
       |    CAST(n1 AS HUGEINT) * (n - n1) AS den
       |  FROM tot),
       |perms AS (
       |  SELECT b, user_id, rev,
       |    ascii(substr(md5(concat(CAST(b AS VARCHAR), ':',
       |      CAST(user_id AS VARCHAR))), 1, 1)) % 2 AS pv
       |  FROM per_user CROSS JOIN (SELECT unnest(range(0, $PermB)) AS b)),
       |pagg AS (
       |  SELECT b,
       |    CAST(sum(CASE WHEN pv = 1 THEN rev ELSE 0 END) AS BIGINT) AS s1b,
       |    sum(CASE WHEN pv = 1 THEN 1 ELSE 0 END) AS n1b,
       |    count(*) AS nb, CAST(sum(rev) AS BIGINT) AS sb
       |  FROM perms GROUP BY b),
       |cnt AS (
       |  SELECT count(*) AS c FROM pagg, obs
       |  WHERE n1b > 0 AND n1b < nb
       |    AND abs(CAST(s1b AS HUGEINT) * (nb - n1b)
       |            - CAST(sb - s1b AS HUGEINT) * n1b) * obs.den
       |      >= obs.num * (CAST(n1b AS HUGEINT) * (nb - n1b)))
       |SELECT CAST(obs.n AS BIGINT) AS n_users,
       |  round(CAST(obs.num AS DOUBLE) / CAST(obs.den AS DOUBLE) / 100, 4) AS abs_lift,
       |  CAST(cnt.c AS BIGINT) AS n_extreme,
       |  round((1.0 + cnt.c) / (1.0 + $PermB), 4) AS p_value
       |FROM obs, cnt""".stripMargin) { (s, d) =>
    val cents = round(col("value") * 100, 0).cast("long")
    val perUser = Tables.events(s, d)
      .groupBy(col("user_id"), (col("user_id") % 2).as("variant"))
      .agg(sum(when(col("event_type") === "purchase", cents).otherwise(0L))
        .as("rev"))
      .persist()
    try {
      perUser.count()
      val obs = perUser.agg(
          count(lit(1)).as("n"), sum(col("rev")).as("s"),
          sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("variant") === 1, col("rev")).otherwise(0L)).as("s1"))
        .select(col("n"),
          abs(col("s1").cast("decimal(38,0)") * (col("n") - col("n1"))
            - (col("s") - col("s1")).cast("decimal(38,0)") * col("n1")).as("num"),
          (col("n1").cast("decimal(38,0)") * (col("n") - col("n1"))).as("den"))
      val pagg = perUser
        .select(col("user_id"), col("rev"),
          explode(sequence(lit(0), lit(PermB - 1))).as("b"))
        .withColumn("pv",
          ascii(substring(md5(concat_ws(":", col("b").cast("string"),
            col("user_id").cast("string"))), 1, 1)) % 2)
        .groupBy(col("b"))
        .agg(sum(when(col("pv") === 1, col("rev")).otherwise(0L)).as("s1b"),
          sum(when(col("pv") === 1, 1L).otherwise(0L)).as("n1b"),
          count(lit(1)).as("nb"), sum(col("rev")).as("sb"))
      val cntRow = pagg.crossJoin(broadcast(obs))
        .filter(col("n1b") > 0 && col("n1b") < col("nb"))
        .filter(
          abs(col("s1b").cast("decimal(38,0)") * (col("nb") - col("n1b"))
            - (col("sb") - col("s1b")).cast("decimal(38,0)") * col("n1b"))
            * col("den")
            >= col("num") * (col("n1b").cast("decimal(38,0)") * (col("nb") - col("n1b"))))
        .agg(count(lit(1)).as("c"))
      obs.crossJoin(broadcast(cntRow))
        .select(col("n").cast("long").as("n_users"),
          round(col("num").cast("double") / col("den").cast("double") / 100, 4)
            .as("abs_lift"),
          col("c").cast("long").as("n_extreme"),
          round((lit(1.0) + col("c")) / lit(1.0 + PermB), 4).as("p_value"))
    } finally perUser.unpersist(false)
  }

  /** Offline UCB1 bandit replay (Auer, Cesa-Bianchi & Fischer 2002)
    * over the daily arm rewards — the "which placement/creative do I
    * keep serving" ONLINE decision loop, replayed against the log
    * the way experimentation platforms sanity-check a policy before
    * deploying it: arms = event types, reward = the day's mean value
    * in cents for the pulled arm; after one round-robin pass the
    * policy pulls argmax of mean̂_a + √(2 ln t / n_a), and the
    * readout tracks per-day choices and cumulative regret against
    * the best fixed arm in hindsight. The corpus collapses ONCE to
    * the O(days×arms) daily aggregate (exact int64 cent sums); the
    * inherently-sequential decision fold is driver-side arithmetic
    * on that bounded relation — the ts_esd closed-form-driver-solve
    * posture, identical at 100 TB. Rows-only (UCB indices are
    * floats); ScalaTest pins per-step argmax validity recomputed
    * from the OUTPUT's own history, pull conservation, monotone
    * regret, and rerun determinism.
    */
  /** DuckDB replay of the UCB1 replay: per-day reward vectors fold
    * through a LIST-state list_reduce (pulls ×5, sums ×5, cumulative
    * regret, last choice/reward, step — struct accumulators corrupt
    * cross-field reads in DuckDB 1.0, lists fold correctly); each
    * output day folds the prefix up to itself (O(days²) on the
    * O(days) relation). The 5-way argmax ties toward the larger arm,
    * matching Scala's maxBy over (ucb, arm) tuples.
    */
  private val banditOracle: String = {
    val arms = Seq("click", "error", "purchase", "signup", "view")
    val k = arms.length
    // UCB index for arm j given accumulator a (t = a[14] + 1)
    def u(j: Int) =
      s"(a[${k + j}] / a[$j] + sqrt(2.0 * ln(a[14] + 1) / a[$j]))"
    // argmax with ties to the LARGER j
    val argmax = (k to 1 by -1).map { j =>
      if (j == 1) "ELSE 1"
      else {
        val conds = (1 until j).map(i => s"${u(j)} >= ${u(i)}").mkString(" AND ")
        s"WHEN $conds THEN $j"
      }
    }.mkString("CASE ", " ", " END")
    val chosen = s"CASE WHEN a[14] + 1 <= $k THEN CAST(a[14] + 1 AS INTEGER) ELSE $argmax END"
    val pulls = (1 to k).map(j =>
      s"a[$j] + CASE WHEN ($chosen) = $j THEN 1.0 ELSE 0.0 END").mkString(",\n        ")
    val sums = (1 to k).map(j =>
      s"a[${k + j}] + CASE WHEN ($chosen) = $j THEN x[$j] ELSE 0.0 END").mkString(",\n        ")
    val armNames = arms.map(a => s"'$a'").mkString("[", ", ", "]")
    val rvCols = arms.map(a =>
      s"coalesce(max(CASE WHEN arm = '$a' THEN mean END), 0.0)").mkString(",\n      ")
    s"""WITH daily AS (
       |  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type AS arm,
       |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / count(*) AS mean
       |  FROM events GROUP BY 1, 2),
       |hb AS (
       |  SELECT arm FROM (
       |    SELECT arm, avg(mean) AS am,
       |      row_number() OVER (ORDER BY avg(mean) DESC, arm) AS rn
       |    FROM daily GROUP BY arm) WHERE rn = 1),
       |rv AS (
       |  SELECT day,
       |    [$rvCols,
       |      coalesce(max(CASE WHEN arm = (SELECT arm FROM hb) THEN mean END), 0.0)]
       |      AS r
       |  FROM daily GROUP BY day),
       |seq AS (
       |  SELECT list(r ORDER BY day) AS els, list(day ORDER BY day) AS dl
       |  FROM rv),
       |folds AS (
       |  SELECT t.dnum, dl[t.dnum] AS day,
       |    list_reduce(
       |      list_prepend(
       |        [0.0::DOUBLE, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
       |         0.0, 0.0, 0.0, 0.0],
       |        list_slice(els, 1, t.dnum)),
       |      (a, x) -> [
       |        $pulls,
       |        $sums,
       |        a[11] + (x[${k + 1}] - x[$chosen]),
       |        CAST($chosen AS DOUBLE),
       |        x[$chosen],
       |        a[14] + 1]) AS f
       |  FROM seq, UNNEST(generate_series(1, len(els))) AS t(dnum))
       |SELECT day,
       |  $armNames[CAST(f[12] AS INTEGER)] AS chosen_arm,
       |  floor(f[13] * 100 + 0.5) / 100 AS reward_cents,
       |  floor(f[11] * 100 + 0.5) / 100 AS cum_regret_cents
       |FROM folds ORDER BY day""".stripMargin
  }

  val eventsBandit: QueryDef = QueryDef.sql(
    "events_bandit", banditOracle) { (s, d) =>
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"), col("event_type").as("arm"))
      .agg(sum(round(col("value") * 100, 0).cast("long")).as("cs"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getString(1),
        r.getLong(2).toDouble / r.getLong(3)))
    val byDay = daily.groupBy(_._1).view
      .mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    val days = byDay.keys.toSeq.sorted
    val arms = daily.map(_._2).distinct.sorted
    val hindsightBest = arms.maxBy { a =>
      val xs = daily.filter(_._2 == a).map(_._3); xs.sum / xs.length
    }
    var pulls = arms.map(_ -> 0).toMap
    var sums = arms.map(_ -> 0.0).toMap
    var cumRegret = 0.0
    val rows = days.zipWithIndex.map { case (day, i) =>
      val t = i + 1
      val rewards = byDay(day)
      val chosen =
        if (i < arms.length) arms(i) // round-robin initialization
        else arms.maxBy { a =>
          (sums(a) / pulls(a) + math.sqrt(2.0 * math.log(t) / pulls(a)), a)
        }
      val reward = rewards.getOrElse(chosen, 0.0)
      pulls = pulls.updated(chosen, pulls(chosen) + 1)
      sums = sums.updated(chosen, sums(chosen) + reward)
      cumRegret += rewards.getOrElse(hindsightBest, 0.0) - reward
      (day, chosen,
        math.floor(reward * 100 + 0.5) / 100,
        math.floor(cumRegret * 100 + 0.5) / 100)
    }
    rows.toDF("day", "chosen_arm", "reward_cents", "cum_regret_cents")
  }

  /** Exact Shapley-value multi-touch attribution (Shapley 1953; the
    * "data-driven attribution" model behind GA4 — see e.g. Zhao et
    * al. 2018, "Shapley Value Methods for Attribution Modeling") —
    * the game-theoretic upgrade over last-touch (events_attribution)
    * and linear (events_attribution_linear): each channel's credit is
    * its average marginal contribution across ALL orderings of the
    * channel set, the unique allocation satisfying efficiency /
    * symmetry / dummy / additivity. Characteristic function v(S) =
    * total purchase value of journeys whose prior-touch channel set
    * ⊆ S (the conversions coalition S fully explains). Distributed
    * shape: ONE corpus pass — per-purchase channel bitmask from four
    * seen-before window indicators (max-over-preceding-rows, the
    * events_attribution window machinery), then a ≤2^C-row
    * (mask → value) aggregate; the lattice walk (v over 16
    * coalitions, the |S|!(C−|S|−1)!/C! weighted marginals) is O(4·2^C)
    * DRIVER arithmetic on that bounded relation — the
    * sufficient-statistics + closed-form-solve pattern
    * (events_absorbing, events_power). Touchless purchases credit
    * 'direct'. Efficiency (Σ credit = total touched value) pinned
    * exactly in ScalaTest along with nonnegativity (v is monotone)
    * and determinism.
    */
  val eventsShapley: QueryDef = QueryDef.sql(
    "events_shapley",
    """WITH m AS (
      |  SELECT value, event_type,
      |    coalesce(max(CASE WHEN event_type = 'click' THEN 1 END) OVER w, 0)
      |    + coalesce(max(CASE WHEN event_type = 'error' THEN 2 END) OVER w, 0)
      |    + coalesce(max(CASE WHEN event_type = 'signup' THEN 4 END) OVER w, 0)
      |    + coalesce(max(CASE WHEN event_type = 'view' THEN 8 END) OVER w, 0) AS mask
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |j AS (
      |  SELECT mask, sum(value) AS val FROM m
      |  WHERE event_type = 'purchase' GROUP BY 1),
      |coal AS (SELECT i AS s FROM range(16) t(i)),
      |v AS (
      |  SELECT c.s, coalesce(sum(j.val), 0) AS v
      |  FROM coal c LEFT JOIN j ON j.mask <> 0 AND (j.mask & ~c.s & 15) = 0
      |  GROUP BY 1),
      |ch AS (SELECT * FROM (VALUES ('click', 1), ('error', 2),
      |                             ('signup', 4), ('view', 8)) AS t(channel, bit)),
      |phi AS (
      |  SELECT ch.channel,
      |    sum((CASE bit_count(c.s) WHEN 0 THEN 6.0 WHEN 3 THEN 6.0
      |         ELSE 2.0 END) / 24.0 * (v2.v - v1.v)) AS credit
      |  FROM ch JOIN coal c ON (c.s & ch.bit) = 0
      |  JOIN v v1 ON v1.s = c.s
      |  JOIN v v2 ON v2.s = (c.s | ch.bit)
      |  GROUP BY 1)
      |SELECT channel, floor(credit * 100 + 0.5) / 100 AS credit FROM phi
      |UNION ALL
      |SELECT 'direct', floor(coalesce(sum(val), 0) * 100 + 0.5) / 100
      |FROM j WHERE mask = 0
      |ORDER BY channel""".stripMargin) { (s, d) =>
    import s.implicits._
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    def seenBit(ch: String, bit: Int) =
      coalesce(max(when(col("event_type") === ch, bit)).over(w), lit(0))
    // bounded by construction: ≤ 2^C rows (C = 4 channels)
    val byMask = Tables.events(s, d)
      .withColumn("mask", seenBit("click", 1) + seenBit("error", 2)
        + seenBit("signup", 4) + seenBit("view", 8))
      .filter(col("event_type") === "purchase")
      .groupBy(col("mask")).agg(sum(col("value")).as("val"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val direct = byMask.getOrElse(0, 0.0)
    // v(S): sum journeys in ascending mask order (fixed float order)
    def v(sm: Int): Double =
      (1 to 15).filter(mk => (mk & ~sm) == 0)
        .map(mk => byMask.getOrElse(mk, 0.0)).sum
    val weight = Array(6.0, 2.0, 2.0, 6.0).map(_ / 24.0) // by |S|, C = 4
    val channels = Seq("click" -> 1, "error" -> 2, "signup" -> 4, "view" -> 8)
    def r2(x: Double): Double = math.floor(x * 100 + 0.5) / 100
    val rows = channels.map { case (ch, bit) =>
      val credit = (0 until 16).filter(sm => (sm & bit) == 0).map { sm =>
        weight(Integer.bitCount(sm)) * (v(sm | bit) - v(sm))
      }.sum
      (ch, r2(credit))
    } :+ ("direct" -> r2(direct))
    rows.toDF("channel", "credit").orderBy(col("channel"))
  }

  /** Journey transition counts for Markov attribution: each user's
    * path runs start → events (up to and including the FIRST
    * purchase) → conv, or → null if the user never converts. ONE
    * corpus pass: a seen-before window cuts post-conversion events,
    * a lead window emits transitions, a per-user aggregate adds the
    * start edge and the terminal edge. Shared with the spec.
    */
  private[graft] def journeyTransitions(s: SparkSession, d: String)
      : Map[(String, String), Long] = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wPrior = w.rowsBetween(Window.unboundedPreceding, -1)
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "purchase", "conv")
          .otherwise(col("event_type")).as("st"))
      .withColumn("priorConv",
        coalesce(count(when(col("st") === "conv", 1)).over(wPrior), lit(0L)))
      .filter(col("priorConv") === 0) // keep through the first purchase
      .withColumn("nxt", lead(col("st"), 1).over(w))
      .withColumn("rn", row_number().over(w))
    val mids = ev.filter(col("nxt").isNotNull)
      .groupBy(col("st").as("src"), col("nxt").as("dst"))
      .agg(count(lit(1)).as("n"))
    val starts = ev.filter(col("rn") === 1)
      .groupBy(lit("start").as("src"), col("st").as("dst"))
      .agg(count(lit(1)).as("n"))
    val ends = ev.filter(col("nxt").isNull && col("st") =!= "conv")
      .groupBy(col("st").as("src"), lit("null").as("dst"))
      .agg(count(lit(1)).as("n"))
    mids.unionAll(starts).unionAll(ends).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
  }

  /** P(reach conv from start) for a transition-count chain with conv
    * and null absorbing — the fundamental-matrix solve, reused with
    * channels removed (their INCOMING edges redirected to null).
    */
  /** The FIXED journey state alphabet (the events schema's closed
    * event-type enum + the start sentinel). A state absent from the
    * data contributes an identity row/column, which leaves
    * x(start) unchanged — so fixing the alphabet (instead of
    * deriving it from data) is semantics-neutral and is what lets
    * the oracle spell the Cramer system statically.
    */
  // a def, NOT a val: the markovOracle string interpolates this
  // during object init from an entry declared EARLIER in the file —
  // a forward-referenced val would silently read null (the
  // text_kn_lm $KnDiscount pitfall)
  private def MarkovTransient: Seq[String] =
    Seq("click", "error", "signup", "start", "view")

  /** First-row cofactor expansion evaluated with the EXACT
    * association order the SQL printer emits (0.0-seeded alternating
    * left fold) — the shared determinant core of the Markov oracle.
    */
  private def detD(g: (Int, Int) => Double,
      rows: List[Int], cols: List[Int]): Double =
    if (rows.tail.isEmpty) g(rows.head, cols.head)
    else cols.zipWithIndex.foldLeft(0.0) { case (acc, (c, k)) =>
      val t = g(rows.head, c) * detD(g, rows.tail, cols.filterNot(_ == c))
      if (k % 2 == 0) acc + t else acc - t
    }

  /** The SQL twin of [[detD]]: same expansion, same association,
    * fully parenthesized.
    */
  private def detS(g: (Int, Int) => String,
      rows: List[Int], cols: List[Int]): String =
    if (rows.tail.isEmpty) g(rows.head, cols.head)
    else cols.zipWithIndex.foldLeft("0.0") { case (acc, (c, k)) =>
      val t = s"(${g(rows.head, c)}) * (${detS(g, rows.tail, cols.filterNot(_ == c))})"
      if (k % 2 == 0) s"($acc + $t)" else s"($acc - $t)"
    }

  private[graft] def convProbability(counts: Map[(String, String), Long],
      removed: Set[String]): Double = {
    val redirected = counts.toSeq.map { case ((a, b), n) =>
      val b2 = if (removed(b)) "null" else b
      ((a, b2), n)
    }.filterNot { case ((a, _), _) => removed(a) }
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
    // transient set stays DATA-derived (synthetic state spaces in
    // specs must work); the oracle fixes the alphabet instead, which
    // is value-equal because absent states contribute exact-0/1
    // identity rows that cancel from the determinant ratio.
    val states = redirected.keysIterator.flatMap { case (a, b) => Seq(a, b) }
      .toSeq.distinct.sorted
    val transient = states.filterNot(Set("conv", "null"))
    val idx = transient.zipWithIndex.toMap
    if (!idx.contains("start")) return 0.0
    val totals = transient.map { st =>
      st -> redirected.collect { case ((a, _), n) if a == st => n }.sum.toDouble
    }.toMap
    def aE(i: Int, j: Int): Double = {
      val delta = if (i == j) 1.0 else 0.0
      val total = totals(transient(i))
      if (total > 0)
        delta - redirected.getOrElse((transient(i), transient(j)), 0L)
          .toDouble / total
      else delta
    }
    def bE(i: Int): Double = {
      val total = totals(transient(i))
      if (total > 0)
        redirected.getOrElse((transient(i), "conv"), 0L).toDouble / total
      else 0.0
    }
    val n = transient.length
    val all = (0 until n).toList
    val k = idx("start")
    val dm = detD(aE, all, all)
    detD((i, j) => if (j == k) bE(i) else aE(i, j), all, all) / dm
  }

  /** Markov removal-effect attribution (Anderl et al. 2016; the
    * model-based channel credit GA360 shipped) — completes the
    * attribution family: last-touch (events_attribution) and linear
    * (90m) are positional heuristics, Shapley (events_shapley) is
    * set-based; the Markov model credits a channel by how much the
    * START→conversion probability DROPS when journeys can no longer
    * pass through it (its edges redirect to null). Corpus-sized work
    * is ONE windowed transition aggregate (journeys cut at the first
    * purchase); the chain is O(states²) driver doubles and each
    * removal is one fundamental-matrix solve (events_absorbing's
    * machinery). Credits normalize removal effects over the total
    * conversion count. Rows-only; ScalaTest pins RE ∈ [0,1], credit
    * conservation, a planted-chain exactness case, and the
    * removal-of-everything identity.
    */
  /** events_attribution_markov's oracle: replay the journey
    * transition counts (priorConv cut, start/null edges), then the
    * full and four removal-model absorption systems solved by the
    * SAME first-row cofactor Cramer expansion [[detS]] emits and
    * [[detD]] evaluates — five static linear systems (n = 5 and 4)
    * over the fixed state alphabet, removal effects, and credits.
    */
  private def markovOracle: String = {
    val channels = Seq("click", "error", "signup", "view")
    val models: Seq[(String, Option[String])] =
      ("f", Option.empty[String]) +:
        channels.zipWithIndex.map { case (c, i) => (s"m$i", Some(c)) }
    def modelCtes(p: String, removed: Option[String]): String = {
      val red = removed match {
        case None => s"red_$p AS (SELECT src, dst, n FROM tc)"
        case Some(c) =>
          s"""red_$p AS (
             |  SELECT src, CASE WHEN dst = '$c' THEN 'null' ELSE dst END AS dst,
             |    CAST(sum(n) AS BIGINT) AS n
             |  FROM tc WHERE src <> '$c' GROUP BY 1, 2)""".stripMargin
      }
      val tr = MarkovTransient.filterNot(removed.toSet)
      def tot(st: String) =
        s"(SELECT CAST(coalesce(sum(n), 0) AS DOUBLE) FROM red_$p WHERE src = '$st')"
      def cnt(st: String, dst: String) =
        s"CAST(coalesce((SELECT sum(n) FROM red_$p WHERE src = '$st' AND dst = '$dst'), 0) AS DOUBLE)"
      val cols = (for { i <- tr.indices; j <- tr.indices } yield {
        val delta = if (i == j) "1.0" else "0.0"
        s"CASE WHEN ${tot(tr(i))} > 0 THEN $delta - ${cnt(tr(i), tr(j))}" +
          s" / ${tot(tr(i))} ELSE $delta END AS ${p}_a${i}_$j"
      }) ++ tr.indices.map { i =>
        s"CASE WHEN ${tot(tr(i))} > 0 THEN ${cnt(tr(i), "conv")}" +
          s" / ${tot(tr(i))} ELSE 0.0 END AS ${p}_b$i"
      }
      s"$red,\nmx_$p AS MATERIALIZED (SELECT\n  ${cols.mkString(",\n  ")})"
    }
    def pExpr(p: String, removed: Option[String]): String = {
      val tr = MarkovTransient.filterNot(removed.toSet)
      val all = tr.indices.toList
      val k = tr.indexOf("start")
      def a(i: Int, j: Int) = s"${p}_a${i}_$j"
      val num = detS((i, j) => if (j == k) s"${p}_b$i" else a(i, j), all, all)
      val den = detS(a, all, all)
      s"($num) / ($den)"
    }
    val rExprs = channels.indices.map { i =>
      s"greatest(0.0, 1.0 - CASE WHEN pf > 0 THEN p$i / pf ELSE 0.0 END) AS r$i"
    }
    val totalExpr = channels.indices
      .foldLeft("0.0")((acc, i) => s"($acc + r$i)")
    val outRows = channels.zipWithIndex.map { case (c, i) =>
      s"""SELECT '$c' AS channel,
         |  floor(r$i * 10000.0 + 0.5) / 10000 AS removal_effect,
         |  floor((CASE WHEN total > 0 THEN r$i / total * conv ELSE 0.0 END)
         |    * 100 + 0.5) / 100 AS credit FROM rt""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_id,
       |    CASE WHEN event_type = 'purchase' THEN 'conv' ELSE event_type END
       |      AS st
       |  FROM events),
       |ev2 AS (
       |  SELECT user_id, ts, event_id, st,
       |    coalesce(count(CASE WHEN st = 'conv' THEN 1 END) OVER
       |      (PARTITION BY user_id ORDER BY ts, event_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS priorConv
       |  FROM ev),
       |ev3 AS (
       |  SELECT user_id, st,
       |    lead(st) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM ev2 WHERE priorConv = 0),
       |tc AS MATERIALIZED (
       |  SELECT st AS src, nxt AS dst, CAST(count(*) AS BIGINT) AS n
       |  FROM ev3 WHERE nxt IS NOT NULL GROUP BY 1, 2
       |  UNION ALL
       |  SELECT 'start' AS src, st AS dst, CAST(count(*) AS BIGINT) AS n
       |  FROM ev3 WHERE rn = 1 GROUP BY 1, 2
       |  UNION ALL
       |  SELECT st AS src, 'null' AS dst, CAST(count(*) AS BIGINT) AS n
       |  FROM ev3 WHERE nxt IS NULL AND st <> 'conv' GROUP BY 1, 2),
       |${models.map { case (p, r) => modelCtes(p, r) }.mkString(",\n")},
       |vals AS MATERIALIZED (
       |  SELECT ${pExpr("f", None)} AS pf,
       |    ${channels.zipWithIndex.map { case (c, i) =>
             s"${pExpr(s"m$i", Some(c))} AS p$i" }.mkString(",\n    ")},
       |    (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM tc
       |     WHERE dst = 'conv') AS conv
       |  FROM ${models.map { case (p, _) => s"mx_$p" }.mkString(", ")}),
       |rt AS (
       |  SELECT pf, conv, ${channels.indices.map(i => s"r$i").mkString(", ")},
       |    $totalExpr AS total
       |  FROM (SELECT pf, conv, ${rExprs.mkString(",\n    ")} FROM vals))
       |$outRows
       |ORDER BY channel""".stripMargin
  }

  val eventsAttributionMarkov: QueryDef = QueryDef.sql(
    "events_attribution_markov", markovOracle) { (s, d) =>
    val counts = journeyTransitions(s, d)
    val pFull = convProbability(counts, Set.empty)
    val channels = Seq("click", "error", "signup", "view")
    val conversions = counts.getOrElse(("start", "conv"), 0L) +
      counts.collect { case ((a, "conv"), n) if a != "start" => n }.sum
    val re = channels.map { c =>
      val p = convProbability(counts, Set(c))
      c -> math.max(0.0, 1.0 - (if (pFull > 0) p / pFull else 0.0))
    }
    val total = re.map(_._2).sum
    import s.implicits._
    re.map { case (c, r) =>
      val credit = if (total > 0) r / total * conversions else 0.0
      (c, math.floor(r * 1e4 + 0.5) / 1e4, math.floor(credit * 100 + 0.5) / 100)
    }.toDF("channel", "removal_effect", "credit")
      .orderBy(col("channel"))
  }

  /** Synthetic-control impact analysis (CausalImpact shape,
    * Brodersen et al. 2015, linear-regression counterfactual) — the
    * observational complement of events_did: regress the TREATED
    * series (daily purchase count) on a CONTROL series (daily view
    * count, driven by the same traffic but untouched by the
    * "intervention"), fit on the PRE window only, forecast the post
    * window, and read the cumulative effect actual − counterfactual
    * with a residual-scaled z. On this synthetic corpus there is no
    * intervention, so the op doubles as its own null test: the spec
    * pins |z| within noise. Corpus work is ONE daily aggregate; the
    * 2-parameter OLS and the effect arithmetic are O(days) driver
    * math (closed-form-driver posture).
    */
  private val syntheticControlOracle: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', ts) AS day,
      |    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS yy,
      |    count(CASE WHEN event_type = 'view' THEN 1 END) AS xx
      |  FROM events WHERE event_type IN ('purchase', 'view') GROUP BY 1),
      |idx AS (
      |  SELECT CAST(yy AS DOUBLE) AS y, CAST(xx AS DOUBLE) AS x,
      |    row_number() OVER (ORDER BY day) - 1 AS i,
      |    count(*) OVER () AS n
      |  FROM daily),
      |pre AS (SELECT * FROM idx WHERE i < n // 2),
      |pst AS (SELECT * FROM idx WHERE i >= n // 2),
      |m AS (SELECT count(*) AS cut, sum(x) / count(*) AS mx,
      |        sum(y) / count(*) AS my FROM pre),
      |fit AS (
      |  SELECT m.cut, m.mx, m.my,
      |    sum((x - mx) * (y - my)) / sum((x - mx) * (x - mx)) AS b
      |  FROM pre, m GROUP BY m.cut, m.mx, m.my),
      |ab AS (SELECT cut, b, my - b * mx AS a FROM fit),
      |sd AS (
      |  SELECT ab.cut, ab.a, ab.b,
      |    sqrt(sum(power(y - (a + b * x), 2)) / (ab.cut - 2)) AS sd_resid
      |  FROM pre, ab GROUP BY ab.cut, ab.a, ab.b),
      |eff AS (
      |  SELECT count(*) AS n_post, sum(y - (a + b * x)) AS cum
      |  FROM pst, sd GROUP BY sd.a, sd.b)
      |SELECT CAST(sd.cut AS INTEGER) AS n_pre,
      |  CAST(eff.n_post AS INTEGER) AS n_post,
      |  floor(sd.b * 1e4 + 0.5) / 1e4 AS beta,
      |  floor(eff.cum * 100 + 0.5) / 100 AS cum_effect,
      |  floor(sd.sd_resid * sqrt(CAST(eff.n_post AS DOUBLE)) * 100 + 0.5) / 100 AS se,
      |  floor(eff.cum / (sd.sd_resid * sqrt(CAST(eff.n_post AS DOUBLE))) * 1e4 + 0.5) / 1e4 AS z
      |FROM sd, eff""".stripMargin

  val eventsSyntheticControl: QueryDef = QueryDef.sql(
    "events_synthetic_control", syntheticControlOracle) { (s, d) =>
    val daily = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "view"))
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(when(col("event_type") === "purchase", 1)).as("y"),
        count(when(col("event_type") === "view", 1)).as("x"))
      .orderBy(col("day"))
      .collect().map(r => (r.getLong(1).toDouble, r.getLong(2).toDouble))
    val n = daily.length
    val cut = n / 2
    val pre = daily.take(cut)
    val post = daily.drop(cut)
    val mx = pre.map(_._2).sum / cut
    val my = pre.map(_._1).sum / cut
    val b = pre.map(p => (p._2 - mx) * (p._1 - my)).sum /
      pre.map(p => (p._2 - mx) * (p._2 - mx)).sum
    val a = my - b * mx
    val sdResid = math.sqrt(
      pre.map(p => math.pow(p._1 - (a + b * p._2), 2)).sum / (cut - 2))
    val effects = post.map { case (y, x) => y - (a + b * x) }
    val cum = effects.sum
    val se = sdResid * math.sqrt(post.length.toDouble)
    import s.implicits._
    Seq((cut, post.length, math.floor(b * 1e4 + 0.5) / 1e4,
      math.floor(cum * 100 + 0.5) / 100, math.floor(se * 100 + 0.5) / 100,
      math.floor(cum / se * 1e4 + 0.5) / 1e4))
      .toDF("n_pre", "n_post", "beta", "cum_effect", "se", "z")
  }

  /** Shifted-beta-geometric retention model (Fader & Hardie 2007) —
    * the PROJECTABLE churn curve behind contractual LTV: each user
    * churns with an individual probability θ drawn from Beta(α, β),
    * so the population survival S(t) = B(α, β+t)/B(α, β) has the
    * long tail empirical retention shows and plain geometric decay
    * misses (events_retention/events_survival report the observed
    * curve; this fits the generative model that extrapolates it).
    * Lifetime here = initial consecutive-active-day streak.
    * Corpus work is ONE user aggregate (active-week set → initial
    * consecutive streak, a codegen'd array expression) + a
    * churn-period histogram; the censoring-aware MLE is a driver
    * grid search over O(60²) (α, β) with exact log-Beta likelihoods.
    * Rows-only; ScalaTest pins monotone curves, the local-optimum
    * property of the grid MLE, and the observed-curve replay.
    */
  /** DuckDB replay of the sBG fit: the streak/censoring/cohort
    * algebra is exact integer SQL, the log-Beta likelihood composes
    * from lgamma (breeze's lbeta is the same composition — last-ulp
    * differences sit far below the grid's loglik margins), and the
    * 60×60 grid argmax tie-breaks in the Scala scan order.
    */
  private val sbgOracle: String = {
    val horizon = 14
    def lbeta(x: String, y: String) =
      s"(lgamma($x) + lgamma($y) - lgamma(($x) + ($y)))"
    val terms = (1 to horizon).map { t =>
      s"coalesce((SELECT CAST(n AS DOUBLE) FROM cnts WHERE t = $t), 0) * (${lbeta("g.a + 1", s"g.b + $t - 1")} - ${lbeta("g.a", "g.b")})"
    }.mkString(" + ")
    s"""WITH d0 AS (
       |  SELECT DISTINCT user_id,
       |    CAST(CAST(date_trunc('day', ts) AS DATE) - DATE '1992-01-01' AS INTEGER) AS wk
       |  FROM events),
       |r0 AS (
       |  SELECT user_id, wk,
       |    row_number() OVER (PARTITION BY user_id ORDER BY wk) - 1 AS i,
       |    min(wk) OVER (PARTITION BY user_id) AS w0
       |  FROM d0),
       |st AS (
       |  SELECT user_id, any_value(w0) AS w0,
       |    sum(CASE WHEN wk - i = w0 THEN 1 ELSE 0 END) AS streak
       |  FROM r0 GROUP BY user_id),
       |mx AS (SELECT max(wk) AS maxwk FROM d0),
       |cnts AS (
       |  SELECT least(streak, ${horizon + 1}) AS t, count(*) AS n
       |  FROM st, mx WHERE w0 <= maxwk - $horizon GROUP BY 1),
       |tt AS (SELECT CAST(sum(n) AS DOUBLE) AS total,
       |  coalesce((SELECT CAST(n AS DOUBLE) FROM cnts WHERE t = ${horizon + 1}), 0) AS nsurv
       |  FROM cnts),
       |grid AS (
       |  SELECT k1.k AS k1, k2.k AS k2,
       |    0.01 * power(1.18, k1.k) AS a, 0.01 * power(1.18, k2.k) AS b
       |  FROM UNNEST(generate_series(0, 59)) k1(k),
       |       UNNEST(generate_series(0, 59)) k2(k)),
       |ll AS (
       |  SELECT g.a, g.b, g.k1, g.k2,
       |    ($terms)
       |      + (SELECT nsurv FROM tt) * (${lbeta("g.a", s"g.b + $horizon")} - ${lbeta("g.a", "g.b")}) AS loglik
       |  FROM grid g),
       |best AS (
       |  SELECT a AS alpha, b AS beta FROM ll
       |  ORDER BY loglik DESC, k1, k2 LIMIT 1)
       |SELECT ts.t,
       |  floor((SELECT coalesce(sum(n), 0) FROM cnts WHERE cnts.t > ts.t)
       |    / (SELECT total FROM tt) * 1e4 + 0.5) / 1e4 AS observed_s,
       |  floor(CASE WHEN ts.t = 0 THEN 1.0
       |    ELSE exp(${lbeta("alpha", "beta + ts.t")} - ${lbeta("alpha", "beta")}) END
       |    * 1e4 + 0.5) / 1e4 AS fitted_s,
       |  floor(alpha * 1e4 + 0.5) / 1e4 AS alpha,
       |  floor(beta * 1e4 + 0.5) / 1e4 AS beta
       |FROM UNNEST(generate_series(0, $horizon)) ts(t), best
       |ORDER BY ts.t""".stripMargin
  }

  val eventsSbgRetention: QueryDef = QueryDef.sql(
    "events_sbg_retention", sbgOracle) { (s, d) =>
    val horizon = 14
    // lifetime = the INITIAL consecutive-active-DAY streak (churn =
    // first silent day; the corpus spans ~1 month, so days are the
    // granularity with signal): for a sorted strictly-increasing
    // day-index array a, the prefix-streak is |{i : a[i] − i = a[0]}|
    // because a[i] − i is non-decreasing — one codegen'd array
    // expression per user.
    val weeks = Tables.events(s, d)
      .select(col("user_id"),
        datediff(date_trunc("day", col("ts")), to_date(lit("1992-01-01")))
          .cast("int").as("wk"))
      .groupBy(col("user_id"))
      .agg(expr("array_sort(collect_set(wk))").as("a"))
      .select(col("user_id"), element_at(col("a"), 1).as("w0"),
        expr("size(filter(zip_with(a, sequence(0, size(a) - 1), (x, i) -> x - i), v -> v = a[0]))")
          .as("streak"))
    val maxWk = Tables.events(s, d)
      .agg(max(datediff(date_trunc("day", col("ts")),
        to_date(lit("1992-01-01"))).cast("int")))
      .collect()(0).getInt(0)
    // cohort with a full observation window: first week ≥ horizon
    // weeks before the corpus end, so censoring only happens AT T.
    // Churn-period mapping: a streak of s active days means the user
    // was retained through periods 1..s−1 and churned IN period s
    // (silent on day s) — t = streak, NOT streak+1: the first active
    // day is in the streak by construction (streak ≥ 1 always), so a
    // +1 shift would make the sBG likelihood's t=1 term structurally
    // zero and phase-shift observed_s vs fitted S(t) by one period.
    // Survivors past the horizon are censored at t = horizon+1.
    val counts = weeks
      .filter(col("w0") <= maxWk - horizon)
      .withColumn("t", least(col("streak"), lit(horizon + 1)).cast("int"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble
    val nSurv = counts.getOrElse(horizon + 1, 0L)
    import breeze.numerics.lbeta
    def loglik(a: Double, b: Double): Double = {
      val lb = lbeta(a, b)
      (1 to horizon).map { t =>
        counts.getOrElse(t, 0L) * (lbeta(a + 1, b + t - 1) - lb)
      }.sum + nSurv * (lbeta(a, b + horizon) - lb)
    }
    val gridVals = (0 until 60).map(k => 0.01 * math.pow(1.18, k))
    val (alpha, beta) = gridVals.flatMap(a => gridVals.map(b => (a, b)))
      .maxBy { case (a, b) => loglik(a, b) }
    val lb = lbeta(alpha, beta)
    import s.implicits._
    (0 to horizon).map { t =>
      val obs = counts.filter(_._1 > t).values.sum / total
      val fit = if (t == 0) 1.0 else math.exp(lbeta(alpha, beta + t) - lb)
      (t, math.floor(obs * 1e4 + 0.5) / 1e4, math.floor(fit * 1e4 + 0.5) / 1e4,
        math.floor(alpha * 1e4 + 0.5) / 1e4, math.floor(beta * 1e4 + 0.5) / 1e4)
    }.toDF("t", "observed_s", "fitted_s", "alpha", "beta")
      .orderBy(col("t"))
  }

  /** Off-policy evaluation by inverse propensity scoring (Horvitz–
    * Thompson; Dudík/Langford lineage) — "what reward WOULD policy π
    * have earned" from logged interactions, without deploying it:
    * V̂_IPS = mean(π(a|x)/μ(a)·r) where μ is the logging policy
    * (estimated empirically per action — stationary logging), plus
    * the self-normalized SNIPS and the effective sample size
    * diagnostic. Two policies evaluated: the LOGGING policy itself
    * (whose IPS must equal the observed mean reward EXACTLY — the
    * identity that certifies the estimator) and a deterministic
    * per-user policy (recommend the user's modal action). Corpus
    * work: one action-share aggregate, one per-user mode aggregate
    * (max_by over counts), one weighted-mean pass — all partial-agg.
    * Rows-only; ScalaTest pins the logging-policy identity, ESS
    * bounds, and a collected replay of the target-policy estimate.
    */
  private val offpolicyIpsOracle: String =
    """WITH ev AS (SELECT user_id, event_type AS a, value AS r FROM events),
      |tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM ev),
      |mu AS (SELECT a, count(*) / (SELECT total FROM tot) AS p
      |       FROM ev GROUP BY a),
      |md AS (SELECT user_id, a AS rec FROM (
      |  SELECT user_id, a, count(*) AS c,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY count(*) DESC, a DESC) AS rn
      |  FROM ev GROUP BY user_id, a) WHERE rn = 1),
      |scored AS (
      |  SELECT r, CASE WHEN ev.a = md.rec THEN 1.0 ELSE 0.0 END / mu.p AS w
      |  FROM ev JOIN mu ON mu.a = ev.a JOIN md ON md.user_id = ev.user_id),
      |agg AS (SELECT avg(r) AS observed, avg(w * r) AS ips,
      |  sum(w * r) / sum(w) AS snips,
      |  sum(w) * sum(w) / sum(w * w) AS ess FROM scored)
      |SELECT * FROM (
      |  SELECT 'logging' AS policy,
      |    floor(observed * 1e4 + 0.5) / 1e4 AS ips,
      |    floor(observed * 1e4 + 0.5) / 1e4 AS snips,
      |    (SELECT total FROM tot) AS ess
      |  FROM agg
      |  UNION ALL
      |  SELECT 'user_mode', floor(ips * 1e4 + 0.5) / 1e4,
      |    floor(snips * 1e4 + 0.5) / 1e4, floor(ess * 10 + 0.5) / 10
      |  FROM agg)
      |ORDER BY policy""".stripMargin

  val eventsOffpolicyIps: QueryDef = QueryDef.sql(
    "events_offpolicy_ips", offpolicyIpsOracle) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type").as("a"), col("value").as("r"))
    val total = ev.count().toDouble
    val mu = ev.groupBy(col("a")).agg((count(lit(1)) / total).as("p"))
    // deterministic per-user target: the user's modal action
    // ((count, action) struct-max → lowest... highest count, then
    // lexicographically LAST action — deterministic either way)
    val mode = ev.groupBy(col("user_id"), col("a"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(max(struct(col("c"), col("a"))).getField("a").as("rec"))
    val scored = ev.join(broadcast(mu), Seq("a"))
      .join(mode, Seq("user_id"))
      .select(col("r"), col("p"),
        (when(col("a") === col("rec"), 1.0).otherwise(0.0) / col("p")).as("w"))
    import s.implicits._
    val rows = scored.agg(
      avg(col("r")).as("observed"),
      avg(col("w") * col("r")).as("ips"),
      (sum(col("w") * col("r")) / sum(col("w"))).as("snips"),
      (sum(col("w")) * sum(col("w")) / sum(col("w") * col("w"))).as("ess"))
      .collect()(0)
    Seq(
      ("logging", math.floor(rows.getDouble(0) * 1e4 + 0.5) / 1e4,
        math.floor(rows.getDouble(0) * 1e4 + 0.5) / 1e4, total),
      ("user_mode", math.floor(rows.getDouble(1) * 1e4 + 0.5) / 1e4,
        math.floor(rows.getDouble(2) * 1e4 + 0.5) / 1e4,
        math.floor(rows.getDouble(3) * 10 + 0.5) / 10))
      .toDF("policy", "ips", "snips", "ess")
      .orderBy(col("policy"))
  }

  val all: Seq[QueryDef] = Seq(
    eventsAttributionMarkov, eventsSyntheticControl, eventsSbgRetention,
    eventsOffpolicyIps,
    eventsShapley,
    eventsPermtest, eventsBandit,
    eventsMannwhitney, eventsKsTest, eventsFdrBh, eventsMsprt,
    eventsTrending,
    eventsSurvival,
    eventsBitmapCohort, streamBitmapCohort, streamSliding,
    eventsSequenceMatch,
    streamLateData, eventsFeatures, qMovers, streamIncremental,
    eventsAttributionLinear, eventsBotDetect,
    eventsHourly, streamHourly, eventsSessions, eventsSessionWindow,
    streamSessions, streamUserStats, streamUserStatsV2, streamTwoLevel,
    streamJoin, streamSinkRoundtrip,
    eventsFunnel, eventsRetention, eventsAnomaly, eventsPaths,
    eventsHourlyMerge, streamEnrich, eventsSlidingUniques, eventsHistogram,
    eventsMarkov, streamTopk, streamJoinOuter, streamJoinFull, eventsDau,
    streamSessionsState, eventsAttribution, eventsCohortLtv, eventsAbtest,
    streamScd2, eventsConcurrency, eventsRfm, eventsPareto, eventsChurn,
    eventsCuped, eventsPower, eventsDid, eventsAbsorbing, streamIdempotentSink, streamProgressMetrics,
    eventsWindowFunnel, eventsStreaks, eventsHourProfile, eventsAnomalyMad,
    streamAnomaly, eventsUserEntropy)
}
