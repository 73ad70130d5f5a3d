package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.EventAnalytics

/**
 * Round-7 wave 2: the event-analytics pair every large-scale telemetry
 * pipeline runs next to its windowed aggs — ordered funnel conversion and
 * weekly cohort retention. Both are pure integer/date arithmetic over two
 * aggregation shuffles, replayed value-exact by DuckDB.
 */
object EventQueries {

  import Tables.{t, events}

  // =================================================================== queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_funnel" -> ((s, dir) => {
      // ordered funnel: signup → view → click → purchase by FIRST-occurrence
      // times (the loose-funnel definition: stage k is reached when the
      // user's first S_k is no earlier than their first S_{k-1}, and every
      // earlier stage was reached). ONE aggregation shuffle on user_id with
      // map-side partial min's; the stage fold is a projection; the final
      // count is a 1-row global agg. Streaming twin: EventStreams
      // .funnelStages (bounded per-user state, StreamingEventParitySpec).
      EventAnalytics.funnel(events(s, dir), "user_id", "event_type", "ts",
          Seq("signup", "view", "click", "purchase"))
        .select(col("n_users"),
          col("reached_1").as("n_signup"), col("reached_2").as("n_viewed"),
          col("reached_3").as("n_clicked"), col("reached_4").as("n_purchased"))
    }),

    "q_retention" -> ((s, dir) => {
      // weekly cohort retention triangle: cohort = ISO week of the user's
      // first event; n_users = distinct users from that cohort active k
      // weeks later. Two shuffles (first-event agg, cohort-cell distinct) —
      // the standard co-partitioned shape; no window, no sort. Streaming
      // twin: EventStreams.retentionCells (one long of state per user).
      EventAnalytics.retention(events(s, dir), "user_id", "ts")
    }),

    "q_funnel_windowed" -> ((s, dir) => {
      // the "converted within 7 days" funnel: stage k must follow stage
      // k-1 AND land within 604800s of it — the gap constraint rides the
      // same single-shuffle first-occurrence fold.
      EventAnalytics.funnel(events(s, dir), "user_id", "event_type", "ts",
          Seq("signup", "view", "click", "purchase"), maxGapSeconds = 604800L)
        .select(col("n_users"),
          col("reached_1").as("n_signup"), col("reached_2").as("n_viewed"),
          col("reached_3").as("n_clicked"), col("reached_4").as("n_purchased"))
    }),

    "q_time_to_convert" -> ((s, dir) => {
      // signup → purchase latency distribution in log2-hour buckets: the
      // conversion-velocity dashboard next to the funnel. Integer-exact
      // (whole-hour floor via micros div).
      EventAnalytics.timeToConvert(events(s, dir), "user_id", "event_type",
        "ts", "signup", "purchase")
    }),

    "q_props_profile" -> ((s, dir) => {
      // semi-structured payloads: `props` is a JSON string column; parse it
      // NATIVELY (from_json — Jackson inside codegen, no UDF, schema
      // declared so Catalyst prunes to the one referenced field) and
      // profile the extracted metric per event type. The standard
      // clickstream shape: JSON stays schemaless at rest, typed on read.
      val ev = events(s, dir)
      ev.select(col("event_type"), col("user_id"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k LONG"))
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count(col("k")).as("n_with_k"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }),

    "q_stickiness" -> ((s, dir) => {
      // weekly engagement ratio (DAU/WAU stickiness): per week, the sum of
      // daily distinct actives over 7x the weekly distinct actives —
      // micro-quantized integer ratio, two shuffles (the (week,day,user)
      // distinct and the week agg).
      val ev = events(s, dir)
      val daily = ev.select(
          date_trunc("week", col("ts")).cast("date").as("week"),
          col("ts").cast("date").as("day"),
          col("user_id"))
        .distinct()
      daily.groupBy(col("week"))
        .agg(count(lit(1)).as("sum_daily_actives"),
          countDistinct(col("user_id")).as("wau"))
        .withColumn("stickiness_micro",
          expr("CAST(sum_daily_actives * 1000000 div (wau * 7) AS BIGINT)"))
        .orderBy(col("week"))
    }),

    "q_stickiness_hll" -> ((s, dir) => {
      // the 100 TB twin of q_stickiness: HLL register sketches replace the
      // two exact distinct-user shuffles (<= 64 register rows per key move
      // instead of every (week, day, user) row) — same dashboard, ±13%
      // monitoring-grade estimates, still bit-exact replayable.
      EventAnalytics.stickinessHll(events(s, dir), "user_id", "ts")
    }),

    "q_burstiness" -> ((s, dir) => {
      // per-user inter-arrival Fano factor (variance/mean of the gap
      // distribution, milli-quantized): the bot/automation triage signal —
      // metronomic schedulers << 1000, Poisson-ish humans ~1000, crawl-
      // and-sleep automation >> 1000. One user-key exchange (lag window +
      // per-user agg share it); integer-exact (sqrt-free by design).
      EventAnalytics.burstiness(events(s, dir), "user_id", "ts")
    }),

    "q_transitions" -> ((s, dir) => {
      // first-order Markov transition matrix: adjacent event pairs per
      // user (total order via the event_id tiebreak) → pair counts +
      // micro-quantized row-conditional probability. Streaming twin:
      // EventStreams.transitionPairs (one string of state per user).
      EventAnalytics.transitions(events(s, dir), "user_id", "event_type",
        "ts", "event_id")
    }),

    "q_attribution" -> ((s, dir) => {
      // first/last-touch conversion attribution: channel credit for the
      // touches strictly before each user's first purchase. One exchange
      // on user_id (window + groupBy share the partitioning); determinism
      // via the zero-padded (ts_micros, event_id) order key.
      EventAnalytics.attribution(events(s, dir), "user_id", "event_type",
        "ts", "event_id", convType = "purchase")
    }),

    "q_rfm" -> ((s, dir) => {
      // log2-bucketed RFM segmentation on the order facts: data-independent
      // bucket edges (no global ntile sort), exact DECIMAL(18,2) revenue,
      // cents exported as BIGINT. Two aggregation shuffles end-to-end.
      EventAnalytics.rfmSegments(t(s, dir, "orders"), "o_custkey",
          "o_orderdate", "o_totalprice")
        .select(col("r_bucket"), col("f_bucket"), col("m_bucket"),
          col("n_customers"),
          (col("total_monetary") * 100).cast("long").as("total_cents"),
          col("max_freq"))
    }),

    "q_anomaly_days" -> ((s, dir) => {
      // robust daily-volume anomaly scores: each (type, day) count against
      // the type's exact lower median and MAD — the windows run on the
      // bounded (types x days) profile table, never on events.
      EventAnalytics.dailyAnomalies(events(s, dir), "event_type", "ts",
        minScoreMilli = 0L)
    }),

    "q_session_stats" -> ((s, dir) => {
      // engagement-shape dashboard: 30-min-gap sessions folded into a log2
      // (duration, length) histogram with data-independent bucket edges.
      EventAnalytics.sessionStats(events(s, dir), "user_id", "ts",
        gapSec = 1800L)
    }),

    "q_ab_lift" -> ((s, dir) => {
      // deterministic A/B assignment (the split operators' md5 bucket) +
      // per-arm conversion rate and lift vs arm A — exact integer rates.
      EventAnalytics.abLift(events(s, dir), "user_id", "event_type",
        convType = "purchase", armPct = 50)
    }),

    "q_top_paths" -> ((s, dir) => {
      // top-20 5-step user journeys: first five event types per user
      // joined with '>', ranked by user count (ties path-asc) — struct
      // array_sort makes collect_list order-deterministic.
      EventAnalytics.topPaths(events(s, dir), "user_id", "event_type",
        "ts", "event_id", pathLen = 5, k = 20)
    }),

    "q_user_concentration" -> ((s, dir) => {
      // Lorenz deciles of per-user activity: the population-skew dashboard
      // ("top decile carries X‰ of events") — abuse triage + capacity skew.
      EventAnalytics.userConcentration(events(s, dir), "user_id")
    }),

    "q_concentration_profile" -> ((s, dir) => {
      // the 100 TB twin of q_user_concentration: the full Lorenz profile
      // off the activity-count HISTOGRAM — windows over the bounded
      // (count -> n_users) table, never a rank of the user table.
      EventAnalytics.concentrationProfile(events(s, dir), "user_id")
    }),

    "q_churn" -> ((s, dir) => {
      // weekly churn: wau, next-week retained, churn_milli; trailing week
      // (no successor in data) dropped — no churn ground truth yet.
      EventAnalytics.weeklyChurn(events(s, dir), "user_id", "ts")
    })
  )

  // =================================================================== oracles

  def oracleSql: Map[String, String] = Map(

    "q_funnel" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t1,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t2,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS t3,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t4
        |  FROM events GROUP BY user_id
        |),
        |st AS (
        |  SELECT
        |    CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS s1,
        |    CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t2 >= t1
        |         THEN 1 ELSE 0 END AS s2,
        |    CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t2 >= t1
        |          AND t3 IS NOT NULL AND t3 >= t2 THEN 1 ELSE 0 END AS s3,
        |    CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t2 >= t1
        |          AND t3 IS NOT NULL AND t3 >= t2
        |          AND t4 IS NOT NULL AND t4 >= t3 THEN 1 ELSE 0 END AS s4
        |  FROM f
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(s1) AS BIGINT) AS n_signup,
        |  CAST(sum(s2) AS BIGINT) AS n_viewed,
        |  CAST(sum(s3) AS BIGINT) AS n_clicked,
        |  CAST(sum(s4) AS BIGINT) AS n_purchased
        |FROM st""".stripMargin,

    "q_retention" ->
      """WITH f AS (
        |  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
        |),
        |cells AS (
        |  SELECT e.user_id,
        |    CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
        |    date_diff('day', CAST(f.first_ts AS DATE), CAST(e.ts AS DATE)) // 7
        |      AS week_offset
        |  FROM events e JOIN f USING (user_id)
        |)
        |SELECT cohort_week, CAST(week_offset AS BIGINT) AS week_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM cells GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin,

    "q_funnel_windowed" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t1,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t2,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS t3,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t4
        |  FROM events GROUP BY user_id
        |),
        |st AS (
        |  SELECT
        |    CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS s1,
        |    CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t2 >= t1
        |          AND t2 <= t1 + INTERVAL 604800 SECOND THEN 1 ELSE 0 END AS s2,
        |    CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t2 >= t1
        |          AND t2 <= t1 + INTERVAL 604800 SECOND
        |          AND t3 IS NOT NULL AND t3 >= t2
        |          AND t3 <= t2 + INTERVAL 604800 SECOND THEN 1 ELSE 0 END AS s3,
        |    CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t2 >= t1
        |          AND t2 <= t1 + INTERVAL 604800 SECOND
        |          AND t3 IS NOT NULL AND t3 >= t2
        |          AND t3 <= t2 + INTERVAL 604800 SECOND
        |          AND t4 IS NOT NULL AND t4 >= t3
        |          AND t4 <= t3 + INTERVAL 604800 SECOND THEN 1 ELSE 0 END AS s4
        |  FROM f
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(s1) AS BIGINT) AS n_signup,
        |  CAST(sum(s2) AS BIGINT) AS n_viewed,
        |  CAST(sum(s3) AS BIGINT) AS n_clicked,
        |  CAST(sum(s4) AS BIGINT) AS n_purchased
        |FROM st""".stripMargin,

    "q_time_to_convert" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t_from,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_to
        |  FROM events GROUP BY user_id
        |),
        |h AS (
        |  SELECT (epoch_us(t_to) - epoch_us(t_from)) // 3600000000 AS hours
        |  FROM f
        |  WHERE t_from IS NOT NULL AND t_to IS NOT NULL AND t_to >= t_from
        |)
        |SELECT CAST(length(bin(hours + 1)) AS BIGINT) AS hours_log2,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(min(hours) AS BIGINT) AS min_hours,
        |  CAST(max(hours) AS BIGINT) AS max_hours
        |FROM h GROUP BY 1 ORDER BY hours_log2""".stripMargin,

    "q_props_profile" ->
      """WITH e AS (
        |  SELECT event_type, user_id,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events
        |)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(k) AS BIGINT) AS n_with_k,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(min(k) AS BIGINT) AS min_k,
        |  CAST(max(k) AS BIGINT) AS max_k,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_stickiness" ->
      """WITH daily AS (
        |  SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS week,
        |    CAST(ts AS DATE) AS day, user_id
        |  FROM events
        |),
        |w AS (
        |  SELECT week,
        |    CAST(count(*) AS BIGINT) AS sum_daily_actives,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |  FROM daily GROUP BY week
        |)
        |SELECT week, sum_daily_actives, wau,
        |  CAST((sum_daily_actives * 1000000) // (wau * 7) AS BIGINT) AS stickiness_micro
        |FROM w ORDER BY week""".stripMargin,

    "q_stickiness_hll" ->
      s"""WITH base AS (
        |  SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
        |    CAST(ts AS DATE) AS day, CAST(user_id AS VARCHAR) AS u
        |  FROM events
        |),
        |dh AS (
        |  SELECT week, day,
        |    (CAST(('0x' || substring(md5(u),1,8)) AS BIGINT) % 2147483647) % 64
        |      AS bucket,
        |    (CAST(('0x' || substring(md5('rho:' || u),1,8)) AS BIGINT)
        |      % 2147483647) AS v
        |  FROM base
        |),
        |dr AS (
        |  SELECT week, day, bucket,
        |    max(CASE WHEN v = 0 THEN 32 ELSE 32 - length(bin(v)) END) AS mr
        |  FROM dh GROUP BY 1, 2, 3
        |),
        |dp AS (
        |  SELECT week, day, count(*) AS n_occupied,
        |    CAST(sum(1::BIGINT << (32 - mr)) AS BIGINT) AS s_occ
        |  FROM dr GROUP BY 1, 2
        |),
        |de0 AS (
        |  SELECT week, day, n_occupied,
        |    CAST(floor(0.709 * 64 * 64 * 4294967296.0 /
        |      CAST(s_occ + (64 - n_occupied) * 4294967296 AS DOUBLE)) AS BIGINT)
        |      AS raw_est
        |  FROM dp
        |),
        |de AS (
        |  SELECT week, day,
        |    CASE WHEN n_occupied < 64 AND raw_est <= ${graft.operators.Sketches.HllSmallRangeCutoff}
        |         THEN (${graft.operators.Sketches.hllLinearTableSql})[CAST(64 - n_occupied AS INT)]
        |         ELSE raw_est END AS est
        |  FROM de0
        |),
        |dsum AS (
        |  SELECT week, CAST(sum(est) AS BIGINT) AS sum_daily_actives_est
        |  FROM de GROUP BY 1
        |),
        |wr AS (
        |  SELECT week, bucket,
        |    max(CASE WHEN v = 0 THEN 32 ELSE 32 - length(bin(v)) END) AS mr
        |  FROM dh GROUP BY 1, 2
        |),
        |wp AS (
        |  SELECT week, count(*) AS n_occupied,
        |    CAST(sum(1::BIGINT << (32 - mr)) AS BIGINT) AS s_occ
        |  FROM wr GROUP BY 1
        |),
        |we0 AS (
        |  SELECT week, n_occupied,
        |    CAST(floor(0.709 * 64 * 64 * 4294967296.0 /
        |      CAST(s_occ + (64 - n_occupied) * 4294967296 AS DOUBLE)) AS BIGINT)
        |      AS raw_est
        |  FROM wp
        |),
        |we AS (
        |  SELECT week,
        |    CASE WHEN n_occupied < 64 AND raw_est <= ${graft.operators.Sketches.HllSmallRangeCutoff}
        |         THEN (${graft.operators.Sketches.hllLinearTableSql})[CAST(64 - n_occupied AS INT)]
        |         ELSE raw_est END AS wau_est
        |  FROM we0
        |)
        |SELECT d.week AS week, d.sum_daily_actives_est, w.wau_est,
        |  CAST((d.sum_daily_actives_est * 1000000) // (w.wau_est * 7) AS BIGINT)
        |    AS stickiness_micro_est
        |FROM dsum d JOIN we w USING (week) ORDER BY week""".stripMargin,

    "q_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS to_type
        |  FROM events
        |),
        |c AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT from_type, to_type, n,
        |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY from_type) AS BIGINT)
        |    AS prob_micro
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    "q_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
        |    lpad(CAST(event_id AS VARCHAR), 20, '0') AS ord
        |  FROM events
        |),
        |c AS (
        |  SELECT user_id, event_type, ord,
        |    min(CASE WHEN event_type = 'purchase' THEN ord END)
        |      OVER (PARTITION BY user_id) AS conv_ord
        |  FROM e
        |),
        |t AS (
        |  SELECT user_id,
        |    arg_min(event_type, ord) AS first_touch,
        |    arg_max(event_type, ord) AS last_touch
        |  FROM c WHERE conv_ord IS NOT NULL AND ord < conv_ord
        |  GROUP BY user_id
        |),
        |f AS (SELECT first_touch AS event_type,
        |        CAST(count(*) AS BIGINT) AS fn FROM t GROUP BY 1),
        |l AS (SELECT last_touch AS event_type,
        |        CAST(count(*) AS BIGINT) AS ln FROM t GROUP BY 1)
        |SELECT coalesce(f.event_type, l.event_type) AS event_type,
        |  CAST(coalesce(fn, 0) AS BIGINT) AS first_touch_users,
        |  CAST(coalesce(ln, 0) AS BIGINT) AS last_touch_users
        |FROM f FULL OUTER JOIN l ON f.event_type = l.event_type
        |ORDER BY event_type""".stripMargin,

    "q_rfm" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    max(o_orderdate) AS last_order,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        |  FROM orders GROUP BY o_custkey
        |),
        |ref AS (SELECT max(o_orderdate) AS ref_date FROM orders),
        |b AS (
        |  SELECT
        |    CAST(length(bin(date_diff('day', CAST(last_order AS DATE),
        |      CAST(ref_date AS DATE)) + 1)) AS BIGINT) AS r_bucket,
        |    CAST(length(bin(freq)) AS BIGINT) AS f_bucket,
        |    CAST(length(bin(CAST(floor(monetary) AS BIGINT) + 1)) AS BIGINT)
        |      AS m_bucket,
        |    monetary, freq
        |  FROM pc CROSS JOIN ref
        |)
        |SELECT r_bucket, f_bucket, m_bucket,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(monetary) * 100 AS BIGINT) AS total_cents,
        |  CAST(max(freq) AS BIGINT) AS max_freq
        |FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // stepwise CTEs replay the exact lower-median picks: row (n+1)//2 under
    // (value, day) order, then the same for the absolute deviations
    "q_anomaly_days" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type ORDER BY c, day) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM d),
        |m AS (
        |  SELECT *, max(CASE WHEN rn = (n + 1) // 2 THEN c END)
        |    OVER (PARTITION BY event_type) AS med
        |  FROM r),
        |v AS (SELECT *, abs(c - med) AS dev FROM m),
        |r2 AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type ORDER BY dev, day) AS rn2
        |  FROM v),
        |m2 AS (
        |  SELECT *, max(CASE WHEN rn2 = (n + 1) // 2 THEN dev END)
        |    OVER (PARTITION BY event_type) AS mad
        |  FROM r2)
        |SELECT event_type, day, c AS n_events, CAST(med AS BIGINT) AS median,
        |  CAST(mad AS BIGINT) AS mad,
        |  CAST(dev * 1000 // greatest(mad, 1) AS BIGINT) AS score_milli
        |FROM m2 ORDER BY event_type, day""".stripMargin,

    "q_burstiness" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu FROM events),
        |g0 AS (
        |  SELECT user_id,
        |    (tsu - lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu))
        |      // 1000000 AS g
        |  FROM e),
        |g AS (SELECT user_id, g FROM g0 WHERE g IS NOT NULL),
        |a AS (
        |  SELECT user_id,
        |    CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(g) AS BIGINT) AS sum_gap_sec,
        |    sum(CAST(g AS HUGEINT) * g) AS s2
        |  FROM g GROUP BY 1)
        |SELECT user_id, n_gaps, sum_gap_sec,
        |  CASE WHEN sum_gap_sec = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST((CAST(n_gaps AS HUGEINT) * s2 -
        |                  CAST(sum_gap_sec AS HUGEINT) * sum_gap_sec) * 1000
        |             // (CAST(n_gaps AS HUGEINT) * sum_gap_sec) AS BIGINT)
        |  END AS fano_milli
        |FROM a ORDER BY user_id""".stripMargin,

    "q_session_stats" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu FROM events),
        |f AS (
        |  SELECT user_id, tsu,
        |    CASE WHEN tsu - lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu)
        |           > 1800000000
        |         OR lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu) IS NULL
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |s AS (
        |  SELECT user_id, tsu,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY tsu
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM f),
        |g AS (
        |  SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        |    (max(tsu) - min(tsu)) // 1000000 AS dur_sec
        |  FROM s GROUP BY 1, 2)
        |SELECT CAST(length(bin(dur_sec + 1)) AS BIGINT) AS dur_bucket,
        |  CAST(length(bin(n_events)) AS BIGINT) AS len_bucket,
        |  CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(n_events) AS BIGINT) AS total_events,
        |  CAST(max(dur_sec) AS BIGINT) AS max_dur_sec
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_ab_lift" ->
      """WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted
        |  FROM events GROUP BY user_id),
        |a AS (
        |  SELECT CASE WHEN (CAST(('0x' || substring(
        |        md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |        % 2147483647) % 100 < 50
        |      THEN 'A' ELSE 'B' END AS variant, converted
        |  FROM u),
        |g AS (
        |  SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(converted) AS BIGINT) AS n_converted
        |  FROM a GROUP BY variant),
        |c AS (SELECT *, CAST(n_converted * 1000000 // n_users AS BIGINT)
        |        AS cvr_micro FROM g)
        |SELECT variant, n_users, n_converted, cvr_micro,
        |  CAST(cvr_micro - max(CASE WHEN variant = 'A' THEN cvr_micro END)
        |    OVER () AS BIGINT) AS lift_vs_a_micro
        |FROM c ORDER BY variant""".stripMargin,

    "q_top_paths" ->
      """WITH o AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events
        |),
        |p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM o WHERE rn <= 5 GROUP BY user_id
        |)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_users
        |FROM p GROUP BY path ORDER BY n_users DESC, path LIMIT 20""".stripMargin,

    "q_user_concentration" ->
      """WITH pu AS (
        |  SELECT user_id AS u, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
        |               CAST(sum(c) AS BIGINT) AS n_events FROM pu),
        |r AS (
        |  SELECT c, row_number() OVER (ORDER BY c DESC, u ASC) AS rk FROM pu),
        |d AS (
        |  SELECT CAST(((rk - 1) * 10) // n_users AS BIGINT) AS decile, c
        |  FROM r CROSS JOIN tot),
        |agg AS (
        |  SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(c) AS BIGINT) AS sum_events,
        |    CAST(sum(c) * 1000 // (SELECT n_events FROM tot) AS BIGINT) AS share_milli
        |  FROM d GROUP BY 1)
        |SELECT decile, n_users, sum_events, share_milli,
        |  CAST(sum(share_milli) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_share_milli
        |FROM agg ORDER BY decile""".stripMargin,

    "q_concentration_profile" ->
      """WITH pu AS (
        |  SELECT user_id AS u, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |pr AS (
        |  SELECT c, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(c AS HUGEINT) * count(*) AS lvl
        |  FROM pu GROUP BY c),
        |tot AS (SELECT CAST(sum(n_users) AS BIGINT) AS tu, sum(lvl) AS te FROM pr),
        |cw AS (
        |  SELECT c, n_users,
        |    CAST(sum(n_users) OVER (ORDER BY c DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users,
        |    sum(lvl) OVER (ORDER BY c DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_events
        |  FROM pr)
        |SELECT c, n_users, cum_users,
        |  CAST(CAST(cum_users AS HUGEINT) * 1000 // tu AS BIGINT) AS cum_users_milli,
        |  CAST(cum_events * 1000 // te AS BIGINT) AS cum_events_milli
        |FROM cw CROSS JOIN tot ORDER BY c DESC""".stripMargin,

    "q_churn" ->
      """WITH wu AS (
        |  SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS week, user_id AS u
        |  FROM events),
        |wau AS (SELECT week, CAST(count(*) AS BIGINT) AS wau FROM wu GROUP BY 1),
        |ret AS (
        |  SELECT a.week, CAST(count(*) AS BIGINT) AS retained
        |  FROM wu a JOIN wu b ON a.u = b.u AND b.week = a.week + 7
        |  GROUP BY 1),
        |wk AS (SELECT DISTINCT week FROM wu)
        |SELECT w.week, w.wau,
        |  CAST(coalesce(r.retained, 0) AS BIGINT) AS retained,
        |  CAST((w.wau - coalesce(r.retained, 0)) * 1000 // w.wau AS BIGINT) AS churn_milli
        |FROM wau w
        |JOIN wk ON wk.week = w.week + 7
        |LEFT JOIN ret r ON r.week = w.week
        |ORDER BY w.week""".stripMargin
  )
}
