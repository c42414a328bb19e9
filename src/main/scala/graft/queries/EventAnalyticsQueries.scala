package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.t
import graft.ops.Sampling

import Shared._

/** Behavioural analytics over `events` via [[graft.ops.EventAnalytics]]:
  * funnels, retention, sessions, attribution, time-series features and
  * forecasts. */
private[graft] object EventAnalyticsQueries {
  val all: Seq[Query] = Seq(
    // two-step conversion funnel (first signup -> first purchase strictly
    // after it) — strict event ordering, not did-both
    Query("q69_funnel", (s, dir) =>
      graft.ops.EventAnalytics.twoStepFunnel(
        t(s, dir, "events"), "user_id", "ts", "event_type", "signup", "purchase"),
      """WITH a AS (
        |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS ts_a
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |b AS (
        |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS ts_b
        |  FROM events e JOIN a USING (user_id)
        |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > a.ts_a
        |  GROUP BY 1)
        |SELECT a.user_id, a.ts_a, b.ts_b, b.ts_b IS NOT NULL AS converted
        |FROM a LEFT JOIN b USING (user_id)""".stripMargin),
    // weekly retention cohorts: distinct active users per (first-week
    // cohort, week offset)
    Query("q70_retention", (s, dir) =>
      graft.ops.EventAnalytics.retentionCohorts(t(s, dir, "events"), "user_id", "ts"),
      """WITH f AS (
        |  SELECT user_id,
        |    CAST(date_trunc('week', min(CAST(ts AS TIMESTAMP))) AS TIMESTAMP) AS cohort_week
        |  FROM events GROUP BY 1)
        |SELECT f.cohort_week,
        |  CAST((CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS DATE)
        |    - CAST(f.cohort_week AS DATE)) // 7 AS BIGINT) AS week_offset,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users
        |FROM events e JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin),
    // hourly volume-spike flags (integer moments → engine-exact z-scores)
    Query("q88_event_spikes", (s, dir) =>
      graft.ops.EventAnalytics.hourlySpikes(t(s, dir, "events"), "ts", "event_type", 3.0),
      """WITH hourly AS (
        |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |    CAST(sum(cnt) AS BIGINT) AS s1, CAST(sum(cnt * cnt) AS BIGINT) AS s2
        |  FROM hourly GROUP BY 1),
        |stx AS (
        |  SELECT event_type,
        |    CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE) AS mean,
        |    CASE WHEN n_hours > 1 THEN sqrt(
        |      CAST(n_hours * s2 - s1 * s1 AS DOUBLE)
        |      / CAST(n_hours * (n_hours - 1) AS DOUBLE)) END AS sd
        |  FROM st)
        |SELECT h.hour, h.event_type, h.cnt, round(mean, 6) AS mean_cnt,
        |  round(sd, 6) AS sd_cnt,
        |  coalesce(CAST(h.cnt AS DOUBLE) > mean + 3 * sd, false) AS is_spike
        |FROM hourly h JOIN stx USING (event_type)""".stripMargin),
    // wide ops-dashboard mart: daily counts + value sums per event type,
    // type domain pinned (no discovery pass, fixed schema)
    Query("q93_event_pivot", (s, dir) =>
      graft.ops.EventAnalytics.dailyTypePivot(
        t(s, dir, "events"), "ts", "event_type", "value",
        Seq("click", "error", "purchase", "signup", "view")),
      {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cols = types.map { t =>
        s"""  CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS ${t}_n,
           |  round(SUM(CASE WHEN event_type = '$t' THEN value END), 6) AS ${t}_val""".stripMargin
      }.mkString(",\n")
      s"""SELECT CAST(ts AS DATE) AS event_date,
         |$cols
         |FROM events GROUP BY 1""".stripMargin
    }),
    // point-in-time rolling features (last-5-events count/sum/mean per
    // user) — the leak-free ML feature window
    Query("q104_rolling_features", (s, dir) =>
      graft.ops.EventAnalytics.rollingFeatures(
        t(s, dir, "events"), "user_id", "ts", "event_id", "value", 5),
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |  CAST(count(value) OVER w AS BIGINT) AS roll_n,
        |  round(sum(value) OVER w, 6) AS roll_sum,
        |  round(avg(value) OVER w, 6) AS roll_avg
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin),
    // first-order Markov transition counts over each user's event sequence
    Query("q75_transitions", (s, dir) =>
      graft.ops.EventAnalytics.transitionCounts(
        t(s, dir, "events"), "user_id", "ts", "event_type", "event_id"),
      """WITH o AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_type
        |  FROM events)
        |SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
        |FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2""".stripMargin),
    // inter-arrival gap stats per event type (exact integer-µs gaps,
    // exact percentiles; approx twin at scale)
    Query("q76_interarrival", (s, dir) =>
      graft.ops.EventAnalytics.interArrivalStats(
        t(s, dir, "events"), "user_id", "ts", "event_type", "event_id"),
      """WITH g AS (
        |  SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id
        |          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |  CAST(CAST(sum(gap_us) AS BIGINT) AS DOUBLE) / count(*)
        |    AS mean_gap_us,
        |  round(quantile_cont(CAST(gap_us AS DOUBLE), 0.5), 6) AS p50_gap_us,
        |  round(quantile_cont(CAST(gap_us AS DOUBLE), 0.9), 6) AS p90_gap_us
        |FROM g WHERE gap_us IS NOT NULL GROUP BY 1""".stripMargin),
    // per-session ordered event-type sequences (behavioral pretraining
    // rows) — q41's gap semantics + a total (ts, event_id) order. The
    // Scala API returns array<string>; the driver-facing row serializes
    // it ('|' join) because the harness comparator can't sort array cells.
    Query("q146_session_sequences", (s, dir) =>
      graft.ops.EventAnalytics.sessionSequences(
        t(s, dir, "events").select("event_id", "ts", "user_id", "event_type"),
        "user_id", "ts", "event_id", "event_type", 1800000L)
        .withColumn("event_seq", array_join(col("event_seq"), "|")),
      // q146: q41's session CTE + an ordered list() over (ts, event_id)
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             CAST(ts AS TIMESTAMP) AS ts FROM events),
        |marked AS (
        |  SELECT user_id, event_id, event_type, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, event_id, event_type, ts,
        |        SUM(new_session) OVER (
        |          PARTITION BY user_id ORDER BY ts, event_id) AS session_id
        |      FROM marked)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  min(ts) AS session_start, count(*) AS n_events,
        |  string_agg(event_type, '|' ORDER BY ts, event_id) AS event_seq
        |FROM s GROUP BY 1, 2""".stripMargin),
    // RFM user snapshot at a pinned as-of date (replay-stable features)
    Query("q154_user_snapshot", (s, dir) =>
      graft.ops.EventAnalytics.userSnapshot(
        t(s, dir, "events"), "user_id", "ts", "value",
        java.sql.Date.valueOf("2024-02-15")),
      // q154: RFM block as of the pinned date
      """SELECT user_id,
        |  CAST(date_diff('day', CAST(max(ts) AS DATE), DATE '2024-02-15')
        |    AS BIGINT) AS recency_days,
        |  count(*) AS frequency,
        |  round(sum(coalesce(value, 0.0)), 6) AS monetary,
        |  CAST(date_diff('day', CAST(min(ts) AS DATE), DATE '2024-02-15')
        |    AS BIGINT) AS tenure_days,
        |  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_active_days
        |FROM events GROUP BY 1""".stripMargin),
    // 3-step funnel view → click → purchase, strictly ordered
    Query("q158_funnel_steps", (s, dir) =>
      graft.ops.EventAnalytics.funnelSteps(
        t(s, dir, "events"), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase")),
      // q158: staged strictly-after mins — greedy earliest = staged optimum
      """WITH s1 AS (
        |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |    AND CAST(e.ts AS TIMESTAMP) > s1.t
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |    AND CAST(e.ts AS TIMESTAMP) > s2.t
        |  WHERE e.event_type = 'purchase' GROUP BY 1),
        |f AS (
        |  SELECT 1 AS step, 'view' AS step_type, count(*) AS n FROM s1
        |  UNION ALL SELECT 2, 'click', count(*) FROM s2
        |  UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
        |SELECT CAST(step AS BIGINT) AS step, step_type,
        |  CAST(n AS BIGINT) AS n_users,
        |  round(n / (SELECT CAST(n AS DOUBLE) FROM f WHERE step = 1), 6)
        |    AS conv_from_first
        |FROM f WHERE n > 0""".stripMargin),
    // per-user EWMA of event values, α = 0.25 (exactly representable)
    Query("q161_ewma_snapshot", (s, dir) =>
      graft.ops.EventAnalytics.ewmaSnapshot(
        t(s, dir, "events"), "user_id", "ts", "event_id", "value", 0.25),
      // q161: list_reduce replays the identical fold, same IEEE op order
      """WITH seq AS (
        |  SELECT user_id,
        |    list(value ORDER BY CAST(ts AS TIMESTAMP), event_id) AS xs
        |  FROM events WHERE value IS NOT NULL GROUP BY 1)
        |SELECT user_id, CAST(len(xs) AS BIGINT) AS n_events,
        |  round(list_reduce(xs, (s, x) -> 0.25 * x + 0.75 * s), 6) AS ewma
        |FROM seq""".stripMargin),
    // market-basket rules over (user, day) baskets of event types:
    // confidence and lift for co-present activity pairs
    Query("q193_basket_rules", (s, dir) =>
      graft.ops.EventAnalytics.basketRules(
        t(s, dir, "events").withColumn("day", to_date(col("ts"))),
        Seq("user_id", "day"), "event_type"),
      // q193: distinct (user, day, type) baskets, directed pair join,
      // broadcast totals, identical confidence/lift shapes
      """WITH it AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
        |    event_type AS item FROM events WHERE event_type IS NOT NULL),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM
        |  (SELECT DISTINCT user_id, day FROM it)),
        |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM it GROUP BY 1),
        |p AS (SELECT a.item AS antecedent, b.item AS consequent,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM it a JOIN it b ON a.user_id = b.user_id AND a.day = b.day
        |    AND a.item <> b.item
        |  GROUP BY 1, 2)
        |SELECT antecedent, consequent, n_both, ia.n AS n_ant,
        |  ic2.n AS n_cons,
        |  round(CAST(n_both AS DOUBLE) / ia.n, 6) AS confidence,
        |  round(CAST(n_both AS DOUBLE) * nb.n / (ia.n * ic2.n), 6) AS lift
        |FROM p JOIN ic ia ON p.antecedent = ia.item
        |JOIN ic ic2 ON p.consequent = ic2.item, nb""".stripMargin),
    // cohort LTV curve: cumulative value per cohort user by age week —
    // q70 retention's value axis (equal-age cohort comparison)
    // Kaplan-Meier survival curve on the hazard table's daily grain:
    // S(d) via exp(cumsum ln(1-h)) in ascending-day order (engine-exact)
    Query("q226_survival_curve", (s, dir) =>
      graft.ops.EventAnalytics.survivalCurve(t(s, dir, "events"), "user_id",
        "ts", java.sql.Date.valueOf("2024-02-01"), 7),
      // q225: q70's cohort CTEs + a cumulative window over age rows
      // q226: q179's hazard chain + the KM product as exp(cumsum ln(1-r))
      // in ascending-day order; an all-churn day pins survival to 0 via an
      // explicit flag (no ln(0) cross-engine hazard)
      """WITH pu AS (SELECT user_id,
        |    date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE)))
        |      AS life,
        |    date_diff('day', max(CAST(ts AS DATE)), DATE '2024-02-01') >= 7
        |      AS observed
        |  FROM events GROUP BY 1),
        |h AS (SELECT life AS lifetime_day, count(*) AS n,
        |    CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_churned
        |  FROM pu GROUP BY 1),
        |hz AS (SELECT CAST(lifetime_day AS BIGINT) AS lifetime_day,
        |    CAST(sum(n) OVER w AS BIGINT) AS n_at_risk, n_churned,
        |    round(CAST(n_churned AS DOUBLE) / (sum(n) OVER w), 6) AS hazard,
        |    CAST(n_churned AS DOUBLE) / (sum(n) OVER w) AS r
        |  FROM h
        |  WINDOW w AS (ORDER BY lifetime_day
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT lifetime_day, n_at_risk, n_churned, hazard,
        |  CASE WHEN max(CASE WHEN r >= 1 THEN 1 ELSE 0 END) OVER v = 1
        |       THEN CAST(0.0 AS DOUBLE)
        |       ELSE round(exp(sum(CASE WHEN r < 1 THEN ln(1.0 - r)
        |         ELSE 0.0 END) OVER v), 6) + 0.0 END AS survival
        |FROM hz
        |WINDOW v AS (ORDER BY lifetime_day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),
    // CUPED variance reduction with md5-deterministic variants; the ALL
    // row carries the in-sample never-worse contract (var_adj <= var_post)
    Query("q227_cuped", (s, dir) =>
      graft.ops.EventAnalytics.cupedLift(t(s, dir, "events"), "user_id",
        "ts", "value", java.sql.Date.valueOf("2024-01-16")),
      // q227: per-user 6dp pre/post sums, pooled theta = cov/var (rounded
      // before use), per-variant + ALL rollup; never_worse re-derived
      """WITH pu AS (SELECT user_id,
        |    round(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
        |      THEN coalesce(value, 0.0) ELSE 0.0 END), 6) AS x,
        |    round(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
        |      THEN coalesce(value, 0.0) ELSE 0.0 END), 6) AS y,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |      THEN 'A' ELSE 'B' END AS variant
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |th AS (SELECT
        |    round(CASE WHEN var_pop(x) > 0
        |      THEN covar_pop(x, y) / var_pop(x) ELSE 0.0 END, 6) AS th,
        |    round(avg(x), 6) AS xbar FROM pu),
        |adj AS (SELECT pu.variant, pu.y,
        |    pu.y - th.th * (pu.x - th.xbar) AS y_adj, th.th
        |  FROM pu, th),
        |g AS (
        |  SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
        |    round(avg(y), 6) AS mean_post,
        |    round(avg(y_adj), 6) AS mean_adjusted,
        |    round(var_pop(y), 6) AS var_post,
        |    round(var_pop(y_adj), 6) AS var_adjusted,
        |    CASE WHEN var_pop(y) > 0
        |      THEN round(1.0 - var_pop(y_adj) / var_pop(y), 6) + 0.0 END
        |      AS var_reduction,
        |    round(first(th), 6) AS theta
        |  FROM adj GROUP BY variant
        |  UNION ALL
        |  SELECT 'ALL', CAST(count(*) AS BIGINT), round(avg(y), 6),
        |    round(avg(y_adj), 6), round(var_pop(y), 6),
        |    round(var_pop(y_adj), 6),
        |    CASE WHEN var_pop(y) > 0
        |      THEN round(1.0 - var_pop(y_adj) / var_pop(y), 6) + 0.0 END,
        |    round(first(th), 6)
        |  FROM adj)
        |SELECT variant, n_users, mean_post, mean_adjusted, var_post,
        |  var_adjusted, var_reduction,
        |  var_adjusted <= var_post AS never_worse, theta FROM g""".stripMargin),
    // day-of-week seasonal profile + per-type seasonal strength
    // (1 - var(residual)/var(daily)) over the pre-reduced daily series
    Query("q228_dow_profile", (s, dir) =>
      graft.ops.EventAnalytics.dowProfile(t(s, dir, "events"), "event_type",
        "ts", "value"),
      // q228: daily pre-reduce, Spark dayofweek = DuckDB dayofweek + 1,
      // variance decomposition over the rounded daily totals
      """WITH daily AS (
        |  SELECT event_type AS key, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n,
        |    round(sum(coalesce(value, 0.0)), 6) AS v
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |d2 AS (SELECT *, dayofweek(day) + 1 AS dow FROM daily),
        |bydow AS (SELECT key, dow, CAST(sum(n) AS BIGINT) AS n_events,
        |    round(sum(v), 6) AS total_value, round(avg(v), 6) AS mean_dow
        |  FROM d2 GROUP BY 1, 2),
        |keytot AS (SELECT key, CAST(sum(n) AS BIGINT) AS kn,
        |    round(var_pop(v), 6) AS vt
        |  FROM d2 GROUP BY 1),
        |resid AS (SELECT d2.key, round(var_pop(d2.v - b.mean_dow), 6) AS vr
        |  FROM d2 JOIN bydow b ON d2.key = b.key AND d2.dow = b.dow
        |  GROUP BY 1)
        |SELECT b.key, CAST(b.dow AS BIGINT) AS dow, b.n_events,
        |  b.total_value, round(b.total_value / b.n_events, 6) AS mean_value,
        |  round(CAST(b.n_events AS DOUBLE) / k.kn, 6) AS share,
        |  CASE WHEN k.vt > 0 THEN round(1.0 - r.vr / k.vt, 6) + 0.0 END
        |    AS seasonal_strength
        |FROM bydow b JOIN keytot k ON b.key = k.key
        |JOIN resid r ON b.key = r.key""".stripMargin),
    // seasonal-naive (lag-7) daily-value backtest vs the lag-1 baseline:
    // MASE < 1 is the "weekly seasonality is real" forecast gate
    Query("q237_seasonal_backtest", (s, dir) =>
      graft.ops.EventAnalytics.seasonalBacktest(
        t(s, dir, "events"), "event_type", "ts", "value", 7),
      // q237: identical 6 dp daily totals → exact micro-integer errors;
      // the MAEs and MASE are unrounded quotients of identical longs
      """WITH d AS (SELECT event_type AS key,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    round(sum(coalesce(CAST(value AS DOUBLE), 0.0)), 6) AS v
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT key, day, CAST(round(v * 1000000.0) AS BIGINT) AS m
        |  FROM d),
        |j AS (SELECT c.key, c.day, c.m, s.m AS ms, o.m AS m1
        |  FROM m c JOIN m s ON s.key = c.key AND s.day + 7 = c.day
        |           JOIN m o ON o.key = c.key AND o.day + 1 = c.day)
        |SELECT key, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(abs(m - ms)) AS DOUBLE)
        |    / (count(*) * CAST(1000000.0 AS DOUBLE)) AS mae_seasonal,
        |  CAST(sum(abs(m - m1)) AS DOUBLE)
        |    / (count(*) * CAST(1000000.0 AS DOUBLE)) AS mae_naive,
        |  CASE WHEN sum(abs(m - m1)) > 0 THEN
        |    CAST(sum(abs(m - ms)) AS DOUBLE) / CAST(sum(abs(m - m1)) AS DOUBLE)
        |  END AS mase
        |FROM j GROUP BY 1""".stripMargin),
    // sequential-pattern support: "some a precedes some b" per user via
    // the min/max-timestamp reduction - never event x event
    Query("q246_seq_patterns", (s, dir) =>
      graft.ops.EventAnalytics.sequentialPairs(
        t(s, dir, "events"), "user_id", "ts", "event_type"),
      // q246: the same (user, type) min/max reduction and strict-precede
      // predicate; counts are exact integers, only support rounds
      """WITH r AS (SELECT user_id AS u, event_type AS t,
        |    min(ts) AS mn, max(ts) AS mx
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |tot AS (SELECT CAST(count(DISTINCT u) AS DOUBLE) AS users FROM r)
        |SELECT a.t AS antecedent, b.t AS consequent,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  round(CAST(count(*) AS DOUBLE) / users, 6) AS support
        |FROM r a JOIN r b ON a.u = b.u AND a.t <> b.t AND a.mn < b.mx, tot
        |GROUP BY 1, 2, users""".stripMargin),
    // is the daily stream bursty beyond Poisson? index-of-dispersion
    // test on zero-filled daily counts per event type
    Query("q294_overdispersion", (s, dir) =>
      graft.ops.EventAnalytics.overdispersionTest(
        t(s, dir, "events"), "event_type", "ts"),
      // q294: zero-filled calendar counts -> exact moments -> the
      // chi-square normal approximation, mirrored
      """WITH daily AS (
        |  SELECT event_type AS k, CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |      AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |span AS (
        |  SELECT k, min(day) AS d0,
        |    datediff('day', min(day), max(day)) AS nd
        |  FROM daily GROUP BY 1),
        |cal AS (
        |  SELECT s.k, s.d0 + CAST(g.g AS INT) AS day
        |  FROM span s, LATERAL unnest(generate_series(0, s.nd)) AS g(g)),
        |series AS (
        |  SELECT c.k, COALESCE(d.y, 0) AS y
        |  FROM cal c LEFT JOIN daily d ON c.k = d.k AND c.day = d.day),
        |red AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS s,
        |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS s2
        |  FROM series GROUP BY 1),
        |m AS (
        |  SELECT k, n, s,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vr
        |  FROM red)
        |SELECT k AS event_type, n AS n_days, round(mean, 6) AS mean,
        |  CASE WHEN n >= 2 THEN round(vr, 6) END AS variance,
        |  CASE WHEN s > 0 AND n >= 2 THEN round(vr / mean, 6) END
        |    AS dispersion,
        |  CASE WHEN s > 0 AND n >= 2 THEN
        |    round((vr / mean - 1.0)
        |      * sqrt((CAST(n AS DOUBLE) - 1.0) / 2.0), 6) END AS z,
        |  COALESCE(CASE WHEN s > 0 AND n >= 2 THEN
        |    (vr / mean - 1.0) * sqrt((CAST(n AS DOUBLE) - 1.0) / 2.0)
        |      > 1.644854 END, FALSE) AS overdispersed
        |FROM m""".stripMargin),
    // trend + weekly seasonal + residual split of the daily value series,
    // anomalies gated at 3x the residual MAD
    Query("q330_seasonal_decompose", (s, dir) =>
      graft.ops.EventAnalytics.seasonalDecompose(
        t(s, dir, "events"), "ts", "value", 3.0),
      // q330: micro-LONG daily totals, mirrored integer re-snaps between
      // stages; the dow key differs numerically per engine (Spark 1-7 vs
      // DuckDB 0-6) but induces the identical partition of days
      """WITH obs AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(round(coalesce(value, 0) * 1000000.0) AS BIGINT))
        |      AS BIGINT) AS om
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |cal AS (SELECT CAST(unnest(generate_series(
        |      CAST(min(day) AS TIMESTAMP), CAST(max(day) AS TIMESTAMP),
        |      INTERVAL 1 DAY)) AS DATE) AS day FROM obs),
        |daily AS (SELECT c.day, coalesce(o.om, 0) AS tm
        |  FROM cal c LEFT JOIN obs o USING (day)),
        |tr AS (SELECT day, tm,
        |    CAST(round(CAST(sum(tm) OVER w AS DOUBLE)
        |      / CAST(count(*) OVER w AS DOUBLE)) AS BIGINT) AS trm
        |  FROM daily WINDOW w AS (ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |dt AS (SELECT day, tm, trm, tm - trm AS dtm,
        |    dayofweek(day) AS dow FROM tr),
        |se AS (SELECT dow, CAST(round(CAST(sum(dtm) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE)) AS BIGINT) AS sm
        |  FROM dt GROUP BY 1),
        |rs AS (SELECT day, tm, trm, sm, dtm - sm AS rm
        |  FROM dt JOIN se USING (dow)),
        |gate AS (SELECT quantile_cont(CAST(abs(rm) AS DOUBLE), 0.5) AS mad
        |  FROM rs)
        |SELECT day,
        |  round(CAST(tm AS DOUBLE) / 1e6, 6) AS total,
        |  round(CAST(trm AS DOUBLE) / 1e6, 6) AS trend,
        |  round(CAST(sm AS DOUBLE) / 1e6, 6) AS seasonal,
        |  round(CAST(rm AS DOUBLE) / 1e6, 6) AS residual,
        |  CAST(abs(rm) AS DOUBLE) > 3.0 * gate.mad AS anomaly
        |FROM rs CROSS JOIN gate""".stripMargin),
    // data-driven credit: Markov removal effects over the touch chain
    // (12 unrolled absorption rounds on one pivoted row)
    Query("q332_markov_attribution", (s, dir) =>
      graft.ops.EventAnalytics.markovAttribution(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        "purchase", Seq("view", "click", "signup"), 12),
      // q332: the journey/transition chain mirrored, then the 12 absorption
      // rounds unrolled as REPLACE CTEs — every term in the same fixed
      // channel order as the Spark expression tree
      {
      val channels = Seq("view", "click", "signup")
      val iters = 12
      val srcs = "START" +: channels
      def vn(scen: Int, i: Int) =
        s"v_${if (scen < 0) "m1" else scen.toString}_$i"
      def pr(i: Int, j: Int) =
        s"(CASE WHEN d_$i > 0 THEN CAST(n_${i}_$j AS DOUBLE) / CAST(d_$i AS DOUBLE) ELSE 0.0 END)"
      def pc(i: Int) =
        s"(CASE WHEN d_$i > 0 THEN CAST(nc_$i AS DOUBLE) / CAST(d_$i AS DOUBLE) ELSE 0.0 END)"
      val scenarios = -1 +: channels.indices.toSeq
      val live = for (scen <- scenarios; i <- srcs.indices
                      if !(scen >= 0 && i == scen + 1)) yield (scen, i)
      val pivotCols = ((for {
          (s, i) <- srcs.zipWithIndex; (d, j) <- channels.zipWithIndex
        } yield s"CAST(coalesce(sum(CASE WHEN src = '$s' AND dst = '$d' THEN n END), 0) AS BIGINT) AS n_${i}_$j") ++
        srcs.zipWithIndex.map { case (s, i) =>
          s"CAST(coalesce(sum(CASE WHEN src = '$s' AND dst = 'CONV' THEN n END), 0) AS BIGINT) AS nc_$i" } ++
        srcs.zipWithIndex.map { case (s, i) =>
          s"CAST(coalesce(sum(CASE WHEN src = '$s' THEN n END), 0) AS BIGINT) AS d_$i" } :+
        "CAST(coalesce(sum(CASE WHEN dst = 'CONV' THEN n END), 0) AS BIGINT) AS nconv")
        .mkString(",\n    ")
      val zeros = live.map { case (s, i) => s"0.0 AS ${vn(s, i)}" }
        .mkString(", ")
      val rounds = (1 to iters).map { t =>
        val reps = live.map { case (scen, i) =>
          val terms = channels.indices
            .filter(j => !(scen >= 0 && j == scen))
            .map(j => s" + ${pr(i, j)} * ${vn(scen, j + 1)}").mkString
          s"round(${pc(i)}$terms, 6) AS ${vn(scen, i)}"
        }.mkString(", ")
        s"r$t AS (SELECT * REPLACE ($reps) FROM r${t - 1})"
      }.mkString(",\n")
      def eff(k: Int) = s"round(v_m1_0 - v_${k}_0, 6)"
      val effTot = channels.indices.map(eff).mkString(" + ")
      val chanRows = channels.zipWithIndex.map { case (ch, k) =>
        s"SELECT '$ch' AS channel, ${eff(k)} AS removal_effect, ($effTot) AS tot, v_m1_0 AS base, nconv FROM r$iters"
      }.mkString("\n  UNION ALL ")
      s"""WITH conv AS (SELECT u, cts, cid FROM (
         |    SELECT user_id AS u, ts AS cts, event_id AS cid,
         |      row_number() OVER (PARTITION BY user_id
         |        ORDER BY ts, event_id) AS rn
         |    FROM events WHERE event_type = 'purchase') WHERE rn = 1),
         |tch AS (SELECT e.user_id AS u, e.ts, e.event_id AS id,
         |    e.event_type AS ch, c.cts IS NOT NULL AS cv
         |  FROM events e LEFT JOIN conv c ON e.user_id = c.u
         |  WHERE e.event_type IN ('view', 'click', 'signup')
         |    AND (c.cts IS NULL OR e.ts < c.cts
         |      OR (e.ts = c.cts AND e.event_id < c.cid))),
         |sq AS (SELECT u, ch, cv,
         |    lead(ch) OVER (PARTITION BY u ORDER BY ts, id) AS nxt,
         |    row_number() OVER (PARTITION BY u ORDER BY ts, id) AS rn
         |  FROM tch),
         |mid AS (SELECT ch AS src, coalesce(nxt,
         |    CASE WHEN cv THEN 'CONV' ELSE 'NULL' END) AS dst FROM sq),
         |st AS (SELECT 'START' AS src, ch AS dst FROM sq WHERE rn = 1),
         |nt AS (SELECT 'START' AS src, 'CONV' AS dst FROM conv c
         |  WHERE NOT EXISTS (SELECT 1 FROM tch t WHERE t.u = c.u)),
         |tr AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM
         |  (SELECT * FROM mid UNION ALL SELECT * FROM st
         |   UNION ALL SELECT * FROM nt) GROUP BY 1, 2),
         |r0 AS (SELECT
         |    $pivotCols,
         |    $zeros
         |  FROM tr),
         |$rounds
         |SELECT channel, removal_effect,
         |  round(CASE WHEN tot > 0 THEN removal_effect / tot
         |    ELSE 0.0 END, 6) AS share,
         |  round((CASE WHEN tot > 0 THEN removal_effect / tot
         |    ELSE 0.0 END) * CAST(nconv AS DOUBLE), 6)
         |    AS credited_conversions,
         |  round(base, 6) AS base_conv_prob
         |FROM ($chanRows)""".stripMargin
    }),
    // periodicity as a number: daily-count ACF at lags 1/7/14 per type
    // (r7 high = day-of-week structure, r1 high = burst carry-over)
    Query("q295_autocorrelation", (s, dir) =>
      graft.ops.EventAnalytics.dailyAutocorrelation(
        t(s, dir, "events"), "event_type", "ts", Seq(1, 7, 14)),
      // q295: one lag-window pass over the same calendar, the mean
      // expansion on exact integer pieces
      """WITH daily AS (
        |  SELECT event_type AS k, CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |      AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |span AS (
        |  SELECT k, min(day) AS d0,
        |    datediff('day', min(day), max(day)) AS nd
        |  FROM daily GROUP BY 1),
        |cal AS (
        |  SELECT s.k, CAST(g.g AS INT) AS t, s.d0 + CAST(g.g AS INT)
        |      AS day
        |  FROM span s, LATERAL unnest(generate_series(0, s.nd)) AS g(g)),
        |series AS (
        |  SELECT c.k, c.t, COALESCE(d.y, 0) AS y
        |  FROM cal c LEFT JOIN daily d ON c.k = d.k AND c.day = d.day),
        |lagged AS (
        |  SELECT k, y,
        |    lag(y, 1) OVER w AS l1, lag(y, 7) OVER w AS l7,
        |    lag(y, 14) OVER w AS l14
        |  FROM series WINDOW w AS (PARTITION BY k ORDER BY t)),
        |red AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS s,
        |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS s2,
        |    CAST(sum(CAST(y AS HUGEINT) * l1) AS HUGEINT) AS xy1,
        |    CAST(sum(y) FILTER (l1 IS NOT NULL) AS BIGINT) AS p1_1,
        |    CAST(sum(l1) AS BIGINT) AS p2_1,
        |    CAST(sum(CAST(y AS HUGEINT) * l7) AS HUGEINT) AS xy7,
        |    CAST(sum(y) FILTER (l7 IS NOT NULL) AS BIGINT) AS p1_7,
        |    CAST(sum(l7) AS BIGINT) AS p2_7,
        |    CAST(sum(CAST(y AS HUGEINT) * l14) AS HUGEINT) AS xy14,
        |    CAST(sum(y) FILTER (l14 IS NOT NULL) AS BIGINT) AS p1_14,
        |    CAST(sum(l14) AS BIGINT) AS p2_14
        |  FROM lagged GROUP BY 1),
        |g AS (SELECT unnest([1, 7, 14]) AS lag),
        |j AS (
        |  SELECT red.k, CAST(g.lag AS INT) AS lag, red.n,
        |    CAST(red.s AS DOUBLE) / CAST(red.n AS DOUBLE) AS mean,
        |    CAST(red.s2 AS DOUBLE) - CAST(red.s AS DOUBLE)
        |      * CAST(red.s AS DOUBLE) / CAST(red.n AS DOUBLE) AS denom,
        |    CASE g.lag WHEN 1 THEN CAST(red.xy1 AS DOUBLE)
        |      WHEN 7 THEN CAST(red.xy7 AS DOUBLE)
        |      ELSE CAST(red.xy14 AS DOUBLE) END AS xy,
        |    CASE g.lag WHEN 1 THEN CAST(red.p1_1 + red.p2_1 AS DOUBLE)
        |      WHEN 7 THEN CAST(red.p1_7 + red.p2_7 AS DOUBLE)
        |      ELSE CAST(red.p1_14 + red.p2_14 AS DOUBLE) END AS p12
        |  FROM red, g)
        |SELECT k AS event_type, lag, n AS n_days,
        |  CASE WHEN denom > 0 AND n >= CAST(lag AS DOUBLE) + 2 THEN
        |    round((xy - mean * p12
        |      + (CAST(n AS DOUBLE) - CAST(lag AS DOUBLE)) * mean * mean)
        |      / denom, 6) END AS acf
        |FROM j""".stripMargin),
    // capacity planning: Holt level+trend smoothing of daily value volume
    // per event type, 7-day-ahead linear forecast
    Query("q287_holt_forecast", (s, dir) =>
      graft.ops.EventAnalytics.holtForecast(
        t(s, dir, "events"), "event_type", "ts", "value", 0.5, 0.3, 7),
      // q287: the same zero-filled calendar + the recurrence as a recursive
      // CTE, state re-rounded to 6 dp each step exactly like the fold
      """WITH RECURSIVE daily AS (
        |  SELECT event_type AS k, CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |      AS day,
        |    round(sum(CAST(value AS DOUBLE)), 6) AS y
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |span AS (
        |  SELECT k, min(day) AS d0,
        |    datediff('day', min(day), max(day)) AS nd
        |  FROM daily GROUP BY 1),
        |cal AS (
        |  SELECT s.k, s.d0 + CAST(gs.g AS INT) AS day
        |  FROM span s, LATERAL unnest(generate_series(0, s.nd)) AS gs(g)),
        |series AS (
        |  SELECT c.k,
        |    row_number() OVER (PARTITION BY c.k ORDER BY c.day) AS t,
        |    COALESCE(d.y, 0.0) AS y
        |  FROM cal c LEFT JOIN daily d ON c.k = d.k AND c.day = d.day),
        |nn AS (SELECT k, CAST(max(t) AS BIGINT) AS n FROM series GROUP BY 1),
        |rec AS (
        |  SELECT y2.k, 2 AS t, y2.y AS l, round(y2.y - y1.y, 6) AS b
        |  FROM series y1 JOIN series y2 ON y1.k = y2.k
        |  WHERE y1.t = 1 AND y2.t = 2
        |  UNION ALL
        |  SELECT k, t, l2 AS l, round(0.3 * (l2 - l) + 0.7 * b, 6) AS b
        |  FROM (
        |    SELECT r.k, r.t + 1 AS t, r.l, r.b,
        |      round(0.5 * s.y + 0.5 * (r.l + r.b), 6) AS l2
        |    FROM rec r JOIN series s ON s.k = r.k AND s.t = r.t + 1)),
        |last AS (
        |  SELECT rec.k, rec.l, rec.b FROM rec JOIN nn ON rec.k = nn.k
        |  WHERE rec.t = nn.n),
        |base AS (
        |  SELECT nn.k, nn.n AS n_days,
        |    CASE WHEN nn.n >= 2 THEN last.l
        |         ELSE (SELECT y FROM series WHERE series.k = nn.k
        |               AND series.t = 1) END AS level,
        |    CASE WHEN nn.n >= 2 THEN last.b END AS trend
        |  FROM nn LEFT JOIN last ON nn.k = last.k)
        |SELECT b.k AS event_type, CAST(b.n_days AS INT) AS n_days,
        |  b.level, b.trend, CAST(h.h AS INT) AS h,
        |  CASE WHEN b.n_days >= 2 THEN
        |    round(b.level + CAST(h.h AS DOUBLE) * b.trend, 6) END
        |    AS forecast
        |FROM base b, LATERAL unnest(generate_series(1, 7)) AS h(h)""".stripMargin),
    // withWatermark sizing from history: micro-batch-faithful dropped-
    // event counts per candidate allowed lateness, under a deterministic
    // 0-30s md5 ingest jitter (the raw log is perfectly ordered)
    Query("q283_watermark_plan", (s, dir) => {
      val e = t(s, dir, "events")
      graft.ops.EventAnalytics.watermarkPlan(
        e.withColumn("arr", unix_micros(col("ts")) +
          Sampling.md5Mod(col("event_id"), 30000000L)),
        "ts", "arr", 10000000L,
        Seq(0L, 1000000L, 5000000L, 10000000L, 30000000L))
    },
      // q283: same md5 jitter, integer floor-division batches, running max
      // over the batch table, exact microsecond lateness
      s"""WITH e AS (
         |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         |    epoch_us(CAST(ts AS TIMESTAMP))
         |      + ${md5ModSql("event_id", 30000000)} AS arr
         |  FROM events WHERE ts IS NOT NULL),
         |ev AS (SELECT us, arr // 10000000 AS b FROM e),
         |wm AS (
         |  SELECT b, max(bmax) OVER (ORDER BY b
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS w
         |  FROM (SELECT b, max(us) AS bmax FROM ev GROUP BY 1)),
         |late AS (
         |  SELECT greatest(0, COALESCE(wm.w - ev.us, 0)) AS l
         |  FROM ev JOIN wm USING (b)),
         |wide AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(COALESCE(max(l), 0) AS BIGINT) AS mx,
         |    CAST(sum(CASE WHEN l > 0 THEN 1 ELSE 0 END) AS BIGINT) AS d0,
         |    CAST(sum(CASE WHEN l > 1000000 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS d1,
         |    CAST(sum(CASE WHEN l > 5000000 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS d5,
         |    CAST(sum(CASE WHEN l > 10000000 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS d10,
         |    CAST(sum(CASE WHEN l > 30000000 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS d30
         |  FROM late),
         |g AS (
         |  SELECT unnest([0, 1000000, 5000000, 10000000, 30000000])
         |      AS delay_us,
         |    unnest(['d0', 'd1', 'd5', 'd10', 'd30']) AS tag)
         |SELECT CAST(g.delay_us AS BIGINT) AS delay_us, wide.n AS n_events,
         |  CASE g.tag WHEN 'd0' THEN d0 WHEN 'd1' THEN d1 WHEN 'd5' THEN d5
         |    WHEN 'd10' THEN d10 ELSE d30 END AS n_dropped,
         |  round(CAST(CASE g.tag WHEN 'd0' THEN d0 WHEN 'd1' THEN d1
         |      WHEN 'd5' THEN d5 WHEN 'd10' THEN d10 ELSE d30 END AS DOUBLE)
         |    / CAST(wide.n AS DOUBLE), 6) AS pct_dropped,
         |  wide.mx AS max_lateness_us
         |FROM g, wide WHERE wide.n > 0""".stripMargin),
    // funnel conversion latency: first-seen to first-seen per adjacent
    // step pair, exact micro deltas, q45's exact-percentile summary
    Query("q256_funnel_latency", (s, dir) =>
      graft.ops.EventAnalytics.funnelLatency(
        t(s, dir, "events"), "user_id", "ts", "event_type",
        Seq("view", "click", "signup", "purchase")),
      // q256: same first-seen reduction, strict-forward deltas, q45's
      // quantile_cont convention
      {
      val steps = Seq("view", "click", "signup", "purchase")
      val pairs = steps.sliding(2).map { case Seq(a, b) =>
        s"""SELECT '$a' AS step_from, '$b' AS step_to,
           |    CAST(b.t - a.t AS DOUBLE) / 1000000.0 AS delta_s
           |  FROM f a JOIN f b ON a.u = b.u
           |    AND a.s = '$a' AND b.s = '$b' AND b.t > a.t""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH f AS (SELECT user_id AS u, event_type AS s,
         |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS t
         |  FROM events
         |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |    AND event_type IN ('view', 'click', 'signup', 'purchase')
         |  GROUP BY 1, 2),
         |d AS (
         |  $pairs)
         |SELECT step_from, step_to, CAST(count(*) AS BIGINT) AS n,
         |  round(avg(delta_s), 6) AS mean,
         |  round(quantile_cont(delta_s, 0.5), 6) AS p50,
         |  round(quantile_cont(delta_s, 0.9), 6) AS p90,
         |  round(quantile_cont(delta_s, 0.99), 6) AS p99
         |FROM d GROUP BY 1, 2""".stripMargin
    }),
    // per-key Spearman between daily value and daily count: strict-rank
    // integers -> exact LONG sums -> one mirrored closed form
    Query("q255_spearman_daily", (s, dir) =>
      graft.ops.EventAnalytics.spearmanDaily(
        t(s, dir, "events"), "event_type", "ts", "value"),
      // q255: identical micro-snapped dailies, row_number ranks under the
      // same (metric, day) strict order, HUGEINT-exact sums
      """WITH daily AS (SELECT event_type AS k,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
        |    CAST(round(round(sum(CAST(value AS DOUBLE)), 6) * 1000000.0)
        |      AS BIGINT) AS m,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |r AS (SELECT k,
        |    CAST(row_number() OVER (PARTITION BY k ORDER BY m, d)
        |      AS BIGINT) AS rx,
        |    CAST(row_number() OVER (PARTITION BY k ORDER BY c, d)
        |      AS BIGINT) AS ry
        |  FROM daily),
        |s AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
        |    CAST(sum(rx * ry) AS BIGINT) AS sxy,
        |    CAST(sum(rx * rx) AS BIGINT) AS sxx,
        |    CAST(sum(ry * ry) AS BIGINT) AS syy
        |  FROM r GROUP BY 1)
        |SELECT k AS key, n AS n_days,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |    AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0 THEN
        |    round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |  END AS rho
        |FROM s""".stripMargin),
    // per-key OLS daily trend: micro-integer daily totals + integer day
    // index make every sufficient statistic an exact LONG sum; the
    // classical twin of q220's global median-robust Theil-Sen
    Query("q252_ols_trend", (s, dir) =>
      graft.ops.EventAnalytics.olsTrendByKey(
        t(s, dir, "events"), "event_type", "ts", "value"),
      // q252: HUGEINT-exact sufficient statistics, the closed form as one
      // mirrored double expression over identical long-valued inputs
      """WITH daily AS (SELECT event_type AS k,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
        |    round(sum(CAST(value AS DOUBLE)), 6) AS v
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |m AS (SELECT k, d, CAST(round(v * 1000000.0) AS BIGINT) AS m
        |  FROM daily),
        |b AS (SELECT k, min(d) AS d0 FROM m GROUP BY 1),
        |x AS (SELECT m.k, CAST(datediff('day', b.d0, m.d) AS BIGINT) AS x,
        |    m.m FROM m JOIN b ON m.k IS NOT DISTINCT FROM b.k),
        |s AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(m) AS BIGINT) AS sy,
        |    CAST(sum(x * m) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM x GROUP BY 1)
        |SELECT k AS key, n AS n_days,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
        |    round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) / 1000000.0, 6)
        |  END AS slope,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
        |    round(((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE))
        |      / CAST(n AS DOUBLE)) / 1000000.0, 6)
        |  END AS intercept
        |FROM s""".stripMargin),
    Query("q225_ltv_curve", (s, dir) =>
      graft.ops.EventAnalytics.ltvCurve(
        t(s, dir, "events"), "user_id", "ts", "value"),
      """WITH f AS (
        |  SELECT user_id,
        |    CAST(date_trunc('week', min(CAST(ts AS TIMESTAMP))) AS TIMESTAMP)
        |      AS cohort_week
        |  FROM events GROUP BY 1),
        |sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
        |  FROM f GROUP BY 1),
        |wk AS (
        |  SELECT f.cohort_week,
        |    CAST((CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS DATE)
        |      - CAST(f.cohort_week AS DATE)) // 7 AS BIGINT) AS week_offset,
        |    sum(coalesce(CAST(e.value AS DOUBLE), 0.0)) AS wv
        |  FROM events e JOIN f USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT wk.cohort_week, wk.week_offset, sz.cohort_users,
        |  round(wk.wv, 6) AS week_value,
        |  round(sum(wk.wv) OVER (PARTITION BY wk.cohort_week
        |    ORDER BY wk.week_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    / sz.cohort_users, 6) AS cum_ltv
        |FROM wk JOIN sz USING (cohort_week)""".stripMargin),
    // Theil-Sen robust trend of daily event value: the slope one bad
    // day can't move (pairwise over DAYS, not events)
    Query("q220_robust_trend", (s, dir) =>
      graft.ops.EventAnalytics.theilSenTrend(
        t(s, dir, "events"), "ts", "value"),
      // q220: same day-offset reduction, pairwise slopes, quantile_cont
      // medians (slope first, then median residual intercept)
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
        |    sum(CAST(value AS DOUBLE)) AS v
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1),
        |b AS (SELECT min(d) AS d0 FROM daily),
        |idx AS (SELECT CAST(datediff('day', b.d0, daily.d) AS DOUBLE) AS x, v
        |  FROM daily, b),
        |sl AS (
        |  SELECT quantile_cont((bb.v - aa.v) / (bb.x - aa.x), 0.5) AS slope
        |  FROM idx aa JOIN idx bb ON aa.x < bb.x)
        |SELECT CAST(count(*) AS BIGINT) AS n_days,
        |  round(sl.slope, 6) AS slope,
        |  round(quantile_cont(idx.v - sl.slope * idx.x, 0.5), 6) AS intercept
        |FROM idx, sl
        |GROUP BY sl.slope""".stripMargin),
    // multi-touch attribution: view/click touches within 24h before each
    // purchase, first/last/linear credit side by side
    Query("q212_attribution", (s, dir) =>
      graft.ops.EventAnalytics.attribution(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        "purchase", Seq("view", "click"), 86400000L),
      // q212: same join-filter-rank chain; integer-µs window arithmetic,
      // (ts, id) tie-broken ranks, 1/n at 6 dp
      """WITH conv AS (
        |  SELECT user_id AS uid, event_id AS conv_id,
        |    CAST(ts AS TIMESTAMP) AS conv_ts FROM events
        |  WHERE event_type = 'purchase'),
        |touch AS (
        |  SELECT user_id AS uid, event_id AS touch_id,
        |    event_type AS touch_type, CAST(ts AS TIMESTAMP) AS touch_ts
        |  FROM events WHERE event_type IN ('view', 'click')),
        |j AS (
        |  SELECT c.conv_id, c.uid, c.conv_ts, t.touch_id, t.touch_type,
        |    t.touch_ts,
        |    row_number() OVER (PARTITION BY c.conv_id
        |      ORDER BY t.touch_ts, t.touch_id) AS rk,
        |    count(*) OVER (PARTITION BY c.conv_id) AS n
        |  FROM conv c JOIN touch t USING (uid)
        |  WHERE t.touch_ts < c.conv_ts
        |    AND epoch_us(t.touch_ts) >= epoch_us(c.conv_ts) - 86400000000)
        |SELECT conv_id, j.uid AS user_id, conv_ts, touch_id, touch_type,
        |  touch_ts, CAST(n AS BIGINT) AS n_touches,
        |  CAST(CASE WHEN rk = 1 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS w_first,
        |  CAST(CASE WHEN rk = n THEN 1.0 ELSE 0.0 END AS DOUBLE) AS w_last,
        |  round(CAST(1.0 AS DOUBLE) / n, 6) AS w_linear
        |FROM j""".stripMargin),
    // exact daily + trailing-7-day active users for every calendar day
    // (distinct counts don't decompose over a sliding window — the
    // growth metric a running-total mart gets wrong)
    Query("q206_rolling_active", (s, dir) =>
      graft.ops.EventAnalytics.rollingActiveUsers(
        t(s, dir, "events"), "user_id", "ts", 7),
      // q206: the same (user, day) reduction; the window count is the
      // range join the Spark side replaces with the bounded ×7 fan-out
      """WITH ud AS (
        |  SELECT DISTINCT user_id AS u, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |b AS (SELECT min(d) AS lo, max(d) AS hi FROM ud),
        |days AS (
        |  SELECT CAST(unnest(generate_series(b.lo, b.hi,
        |    INTERVAL 1 DAY)) AS DATE) AS day FROM b)
        |SELECT days.day,
        |  CAST(count(DISTINCT CASE WHEN ud.d = days.day THEN ud.u END)
        |    AS BIGINT) AS dau,
        |  CAST(count(DISTINCT ud.u) AS BIGINT) AS wau
        |FROM days LEFT JOIN ud
        |  ON ud.d BETWEEN days.day - 6 AND days.day
        |GROUP BY 1""".stripMargin),
    // per-user CUSUM drift alarms: sustained hot streaks accumulate
    // where single spikes decay (Page 1954)
    Query("q185_cusum_alerts", (s, dir) =>
      graft.ops.EventAnalytics.cusumAlerts(t(s, dir, "events"), "user_id",
        "ts", "event_id", "value", 60.0, 20.0, 200.0),
      // q185: the identical recurrence as a recursive CTE over the same
      // (ts, id) order — sequential IEEE fold, hash-exact (no rounding)
      {
      val drift = 60.0 + 20.0
      s"""WITH RECURSIVE o AS (SELECT user_id, event_id, ts, value,
         |    CAST(row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS BIGINT) AS rn
         |  FROM events WHERE value IS NOT NULL),
         |c AS (
         |  SELECT user_id, event_id, ts, value, rn,
         |    greatest(0.0, 0.0 + (value - $drift)) AS s
         |  FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.user_id, o.event_id, o.ts, o.value, o.rn,
         |    greatest(0.0, c.s + (o.value - $drift))
         |  FROM c JOIN o ON o.user_id = c.user_id AND o.rn = c.rn + 1)
         |SELECT user_id, event_id AS id, CAST(ts AS TIMESTAMP) AS ts, value,
         |  s AS cusum
         |FROM c WHERE s > 200.0""".stripMargin
    }),
    // right-censoring-aware retention hazard: per lifetime day, users
    // at risk, churn events, hazard (7-day silence = churn, censored
    // within 7 days of the pinned asOf)
    Query("q179_hazard_table", (s, dir) =>
      graft.ops.EventAnalytics.hazardTable(t(s, dir, "events"), "user_id", "ts",
        java.sql.Date.valueOf("2024-02-01"), 7),
      // q179: same per-user lifetime reduction, censor rule, and reverse
      // cumulative at-risk window over the reduced histogram
      """WITH pu AS (SELECT user_id,
        |    date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE)))
        |      AS life,
        |    date_diff('day', max(CAST(ts AS DATE)), DATE '2024-02-01') >= 7
        |      AS observed
        |  FROM events GROUP BY 1),
        |h AS (SELECT life AS lifetime_day, count(*) AS n,
        |    CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_churned
        |  FROM pu GROUP BY 1)
        |SELECT CAST(lifetime_day AS BIGINT) AS lifetime_day,
        |  CAST(sum(n) OVER w AS BIGINT) AS n_at_risk, n_churned,
        |  round(CAST(n_churned AS DOUBLE) / (sum(n) OVER w), 6) AS hazard
        |FROM h
        |WINDOW w AS (ORDER BY lifetime_day
        |  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)""".stripMargin),
    // next-event supervised pairs: every position with a full 3-event
    // history becomes (context, next_event) — leak-free by (ts, id) order
    Query("q177_next_event_examples", (s, dir) =>
      graft.ops.EventAnalytics.nextEventExamples(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type", 3),
      // q177: identical lag frames over the same (ts, id) total order;
      // only full contexts survive
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    lag(event_type, 3) OVER w AS l3,
        |    lag(event_type, 2) OVER w AS l2,
        |    lag(event_type, 1) OVER w AS l1
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id, l3 || ' ' || l2 || ' ' || l1 AS context,
        |  event_type AS next_event
        |FROM o
        |WHERE l3 IS NOT NULL AND l2 IS NOT NULL AND l1 IS NOT NULL""".stripMargin),
    // exponentially decayed per-user counters as of a pinned instant
    // (recency-weighted feature-store counts; 7-day half-life)
    Query("q171_decayed_counts", (s, dir) =>
      graft.ops.EventAnalytics.decayedCounts(t(s, dir, "events"),
        "user_id", "ts", "value",
        java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), 7.0),
      // q171: identical decay arithmetic — the λ literal is interpolated
      // from the SAME Scala double, ages are exact integer micros
      {
      val lambda = math.log(2.0) / 7.0
      val asOfUs = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
        .toLocalDateTime.toInstant(java.time.ZoneOffset.UTC)
        .toEpochMilli * 1000L
      s"""SELECT user_id, COUNT(*) AS n_events,
         |  round(sum(exp(-$lambda *
         |    (($asOfUs - epoch_us(ts)) / 86400000000.0))), 6)
         |    AS decayed_count,
         |  round(sum(exp(-$lambda *
         |    (($asOfUs - epoch_us(ts)) / 86400000000.0))
         |    * coalesce(value, 0)), 6) AS decayed_sum
         |FROM events WHERE epoch_us(ts) <= $asOfUs GROUP BY 1""".stripMargin
    })
  )
}
