package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-stream analytics: tumbling windows (batch + Structured
  * Streaming twins), gap-based sessionization, JSON property extraction.
  */
object Events {

  /** q237 smoothing constants — α binary-exact, β deliberately not
    * (exercises the roundtrip-interpolation discipline). Declared
    * BEFORE `defs`: the oracle SQL interpolates them eagerly at object
    * init, and a forward reference would silently read 0.0.
    */
  val HoltAlpha = 0.5
  val HoltBeta = 0.3

  /** q240 Holt-Winters constants (same declaration-order discipline).
    * γ deliberately non-binary-exact; season = 24 hours (daily cycle
    * in the synthetic event stream).
    */
  val HwAlpha = 0.5
  val HwBeta = 0.3
  val HwGamma = 0.2
  val HwSeason = 24

  /** q245 decomposition season (2×m centered moving average; 24-hour
    * daily cycle, m even as the 2×m form requires).
    */
  val StlSeason = 24

  /** Holt backtest oracle over the hourly counts — shared verbatim by
    * q237 (batch fold) and q248 (incremental store): the store's
    * 3-batch result is CONTRACTUALLY bit-identical to the full-history
    * fold, so both gate against the same recursive CTE. Declared
    * before `defs` (eager interpolation discipline).
    */
  private val holtOracleSql: String = {
    val (a, a1, b, b1) = (HoltAlpha, 1.0 - HoltAlpha, HoltBeta, 1.0 - HoltBeta)
    s"""
      WITH RECURSIVE h AS (
        SELECT event_type,
               datediff('hour', TIMESTAMP '1970-01-01 00:00:00',
                        date_trunc('hour', ts)) AS t,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      r AS (SELECT event_type, CAST(n AS DOUBLE) AS y,
                   row_number() OVER (PARTITION BY event_type ORDER BY t) AS i
            FROM h),
      cnt AS (SELECT event_type, count(*) AS n_obs FROM r GROUP BY 1),
      st AS (
        SELECT event_type, i, y AS l, 0.0::DOUBLE AS b, 0.0::DOUBLE AS sae
        FROM r WHERE i = 1
        UNION ALL
        SELECT st.event_type, r.i,
               $a::DOUBLE * r.y + $a1::DOUBLE * (st.l + st.b),
               $b::DOUBLE * (($a::DOUBLE * r.y + $a1::DOUBLE * (st.l + st.b))
                 - st.l) + $b1::DOUBLE * st.b,
               st.sae + abs(r.y - (st.l + st.b))
        FROM st JOIN r ON r.event_type = st.event_type AND r.i = st.i + 1)
      SELECT st.event_type, CAST(cnt.n_obs AS BIGINT) AS n_obs,
             round(st.sae / greatest(CAST(cnt.n_obs - 1 AS DOUBLE), 1.0::DOUBLE), 6) AS mae,
             round(st.l, 6) AS level, round(st.b, 6) AS trend
      FROM st JOIN cnt ON st.event_type = cnt.event_type AND st.i = cnt.n_obs"""
  }


  /** The q245 decomposition oracle as a CTE chain ending in `stl`
    * (event_type, t, y, trend, seasonal, remainder) — shared with q255
    * so the residual definition cannot drift between the diagnostic
    * and the detector built on it. Declared before `defs`.
    */
  private val stlCtes: String = {
    val m = StlSeason; val h = m / 2
    s"""hr AS (SELECT event_type,
                   datediff('hour', TIMESTAMP '1970-01-01 00:00:00',
                            date_trunc('hour', ts)) AS t,
                   CAST(count(*) AS BIGINT) AS y
                 FROM events GROUP BY 1, 2),
      hb AS (SELECT event_type, min(t) AS lo, max(t) AS hi
             FROM hr GROUP BY 1),
      grid AS (SELECT event_type, unnest(range(lo, hi + 1)) AS t FROM hb),
      h AS (SELECT g.event_type, g.t,
                   CAST(coalesce(hr.y, 0) AS BIGINT) AS y
            FROM grid g LEFT JOIN hr ON hr.event_type = g.event_type
                                    AND hr.t = g.t),
      w AS (SELECT event_type, t, y,
              CAST(sum(y) OVER (PARTITION BY event_type ORDER BY t
                     RANGE BETWEEN $h PRECEDING AND $h FOLLOWING) AS BIGINT) AS wsum,
              count(*) OVER (PARTITION BY event_type ORDER BY t
                     RANGE BETWEEN $h PRECEDING AND $h FOLLOWING) AS wcnt,
              lag(y, $h) OVER (PARTITION BY event_type ORDER BY t) AS yl,
              lead(y, $h) OVER (PARTITION BY event_type ORDER BY t) AS yr
            FROM h),
      tr AS (SELECT event_type, t, y,
               (CAST(wsum AS DOUBLE)
                  - CAST(yl + yr AS DOUBLE) / 2.0::DOUBLE) / ${m.toDouble}::DOUBLE AS trend,
               t % $m AS phase,
               -- EXACT 2m-fixed-point detrend (engine-mirrored):
               -- y - trend = (y*2m - 2*wsum + yl + yr) / (2m)
               y * ${2 * m} - 2 * wsum + yl + yr AS detr_fp
             FROM w WHERE wcnt = ${m + 1}),
      dt AS (SELECT * FROM tr),
      pm AS (SELECT event_type, phase,
               CAST(sum(detr_fp) AS DOUBLE)
                 / (CAST(count(*) AS DOUBLE) * ${(2 * m).toDouble}::DOUBLE)
                 AS s_raw
             FROM dt GROUP BY 1, 2),
      sm AS (SELECT event_type,
               list_reduce(list_prepend(0.0::DOUBLE,
                   list(s_raw ORDER BY phase)), (a, x) -> a + x)
                 / count(*) AS s_mean
             FROM pm GROUP BY event_type),
      ctr AS (SELECT pm.event_type, pm.phase,
                round(pm.s_raw - sm.s_mean, 6) AS seasonal
              FROM pm JOIN sm ON sm.event_type = pm.event_type),
      stl AS (SELECT dt.event_type, CAST(dt.t AS BIGINT) AS t,
                CAST(dt.y AS BIGINT) AS y,
                round(dt.trend, 6) AS trend, ctr.seasonal,
                round(CAST(dt.y AS DOUBLE) - dt.trend - ctr.seasonal,
                      6) AS remainder
              FROM dt JOIN ctr ON ctr.event_type = dt.event_type
                              AND ctr.phase = dt.phase)"""
  }

  /** Zero-filled hourly counts per event type (the q245/q255 input):
    * COUNT semantics — an hour with no events is a real observation
    * of 0, so each type's [min, max] hour range is densified before
    * any window touches it.
    */
  private def hourlyDense(spark: org.apache.spark.sql.SparkSession,
                          dir: String): org.apache.spark.sql.DataFrame = {
    val hr = T(spark, dir, "events")
      .groupBy(col("event_type"),
        (unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
          .cast("long").as("t"))
      .agg(count(lit(1)).as("n"))
    hr.groupBy(col("event_type"))
      .agg(min(col("t")).as("__lo"), max(col("t")).as("__hi"))
      .select(col("event_type"),
        explode(sequence(col("__lo"), col("__hi"))).as("t"))
      .join(hr, Seq("event_type", "t"), "left")
      .select(col("event_type"), col("t"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  val defs: Seq[QueryDef] = Seq(

    // Tumbling 1-hour windows, batch formulation.
    QueryDef("q33_events_hourly", Some("""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
             event_type, count(*) AS n, round(sum(value), 4) AS sum_value
      FROM events GROUP BY 1, 2"""),
      (spark, dir) =>
        T(spark, dir, "events")
          .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))),

    // Seasonal-naive forecast backtest (ops.Forecast — the baseline
    // every production forecast must beat): predict each hour's event
    // count as the count 24 hours earlier, score MAPE/bias per event
    // type. Join-based (gap-safe — a row lag would misread across
    // missing hours); hours without a day-ago observation honestly
    // drop out of n_eval. Completes the ops time-series family next to
    // q178 CUSUM and q180 trend.
    QueryDef("q224_seasonal_backtest", Some("""
      WITH h AS (SELECT datediff('hour', TIMESTAMP '1970-01-01 00:00:00',
                                 date_trunc('hour', ts)) AS t,
                        event_type, count(*) AS n
                 FROM events GROUP BY 1, 2),
      j AS (SELECT c.event_type, c.n AS v, p.n AS pred
            FROM h c JOIN h p ON c.event_type = p.event_type AND c.t = p.t + 24
            WHERE c.n > 0)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
             round(avg(abs(pred - v) / CAST(v AS DOUBLE)), 6) AS mape,
             round(avg(CAST(pred - v AS DOUBLE)), 6) AS bias
      FROM j GROUP BY 1"""),
      (spark, dir) => {
        val h = T(spark, dir, "events")
          .groupBy((unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
              .cast("long").as("t"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
        graft.ops.Forecast.seasonalNaiveBacktest(h, Seq("event_type"),
          "t", "n", season = 24L)
      }),

    // The same aggregation executed by a real Structured Streaming query
    // (file source → watermark → window agg → memory sink); oracle is
    // the batch SQL — stream/batch parity is the check.
    QueryDef("q34_streaming_hourly", Some("""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
             event_type, count(*) AS n, round(sum(value), 4) AS sum_value
      FROM events GROUP BY 1, 2"""),
      (spark, dir) => graft.streaming.EventStreams.hourlyStreaming(spark, dir)),

    // Gap-based sessionization (30-min inactivity), pure window functions:
    // lag -> new-session flag -> running sum as session id -> per-session agg.
    QueryDef("q35_sessionize", Some("""
      WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
      l AS (SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e),
      f AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_s FROM l),
      s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM f)
      SELECT user_id, CAST(session_id AS INTEGER) AS session_id,
             count(*) AS n_events, min(ms) AS start_ms,
             max(ms) - min(ms) AS duration_ms
      FROM s GROUP BY user_id, session_id"""),
      (spark, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        T(spark, dir, "events")
          .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"))
          .withColumn("prev_ms", lag(col("ms"), 1).over(w))
          .withColumn("new_s",
            when(col("prev_ms").isNull || col("ms") - col("prev_ms") > 1800000, 1).otherwise(0))
          .withColumn("session_id", sum(col("new_s")).over(run).cast("int"))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"), min(col("ms")).as("start_ms"),
            (max(col("ms")) - min(col("ms"))).as("duration_ms"))
      }),

    // Native session windows (Spark's streaming-capable session_window
    // operator run in batch mode); oracle re-derives the same sessions
    // with lag/cumsum SQL. Session breaks at gap >= 30 min (half-open
    // [start, last+gap) window semantics).
    QueryDef("q37_session_window", Some("""
      WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
      l AS (SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e),
      f AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms >= 1800000 THEN 1 ELSE 0 END AS new_s FROM l),
      s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f)
      SELECT user_id, min(ms) AS start_ms, max(ms) + 1800000 AS end_ms, count(*) AS n_events
      FROM s GROUP BY user_id, sid"""),
      (spark, dir) =>
        T(spark, dir, "events")
          .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"), unix_millis(col("sw.start")).as("start_ms"),
            unix_millis(col("sw.end")).as("end_ms"), col("n_events"))),

    // Click->purchase attribution: same-user purchase within
    // [click, click + 30 min).
    QueryDef("q63_attribution", Some("""
      WITH c AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events WHERE event_type = 'purchase')
      SELECT c.user_id, c.event_id AS click_event, p.event_id AS purchase_event,
             p.ms - c.ms AS gap_ms
      FROM c JOIN p ON c.user_id = p.user_id
        AND p.ms >= c.ms AND p.ms < c.ms + 1800000"""),
      (spark, dir) => {
        val e = T(spark, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_millis(col("ts")).as("ms"))
        val c = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_event"), col("ms").as("c_ms"))
        val p = e.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("event_id").as("purchase_event"),
            col("ms").as("p_ms"))
        c.join(p, col("user_id") === col("p_user") &&
            col("p_ms") >= col("c_ms") && col("p_ms") < col("c_ms") + 1800000L)
          .select(col("user_id"), col("click_event"), col("purchase_event"),
            (col("p_ms") - col("c_ms")).as("gap_ms"))
      }),

    // Time-series gap filling (resample): per-user hourly event counts
    // with missing hours zero-filled. The hour spine is generated
    // per-user with sequence+explode (distributed, no driver loop, no
    // cross join against a global calendar); oracle uses generate_series.
    QueryDef("q78_gap_fill", Some("""
      WITH e AS (
        SELECT user_id, epoch_ms(date_trunc('hour', ts)) AS hour_ms FROM events
        WHERE user_id % 30 = 0),
      counts AS (SELECT user_id, hour_ms, count(*) AS n FROM e GROUP BY 1, 2),
      bounds AS (SELECT user_id, min(hour_ms) AS lo, max(hour_ms) AS hi
                 FROM counts GROUP BY user_id),
      spine AS (
        SELECT user_id, unnest(generate_series(lo, hi, 3600000)) AS hour_ms
        FROM bounds)
      SELECT s.user_id, s.hour_ms, coalesce(c.n, 0) AS n
      FROM spine s LEFT JOIN counts c
        ON s.user_id = c.user_id AND s.hour_ms = c.hour_ms"""),
      (spark, dir) => {
        val counts = T(spark, dir, "events")
          .filter(col("user_id") % 30 === 0)
          .groupBy(col("user_id"),
            unix_millis(date_trunc("hour", col("ts"))).as("hour_ms"))
          .agg(count(lit(1)).as("n"))
        val spine = counts.groupBy("user_id")
          .agg(min(col("hour_ms")).as("lo"), max(col("hour_ms")).as("hi"))
          .select(col("user_id"),
            explode(sequence(col("lo"), col("hi"), lit(3600000L))).as("hour_ms"))
        spine.join(counts, Seq("user_id", "hour_ms"), "left")
          .select(col("user_id"), col("hour_ms"), coalesce(col("n"), lit(0L)).as("n"))
      }),

    // SCD2 dimension versioning: each (user, ts, value) event becomes a
    // version row with [valid_from, valid_to) bounds via lead() — the
    // slowly-changing-dimension build that as-of joins (q64) then query.
    QueryDef("q83_scd2", Some("""
      SELECT user_id, event_id, epoch_ms(ts) AS valid_from,
             lead(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS valid_to,
             CASE WHEN lead(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_current,
             round(value, 4) AS value
      FROM events WHERE event_type = 'signup'"""),
      (spark, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("valid_from"), col("event_id"))
        T(spark, dir, "events").filter(col("event_type") === "signup")
          .select(col("user_id"), col("event_id"),
            unix_millis(col("ts")).as("valid_from"), round(col("value"), 4).as("value"))
          .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
          .withColumn("is_current", when(col("valid_to").isNull, 1).otherwise(0))
          .select("user_id", "event_id", "valid_from", "valid_to", "is_current", "value")
      }),

    // Funnel analysis: per-user first occurrence of each step, ordered
    // progression counted (view -> click -> purchase within the whole
    // window) — one conditional-aggregate pass, no self-joins.
    QueryDef("q84_funnel", Some("""
      WITH f AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS t_buy
        FROM events GROUP BY user_id)
      SELECT count(*) AS n_users,
             CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS step_view,
             CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS step_click,
             CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view AND t_buy > t_click
                 THEN 1 ELSE 0 END) AS BIGINT) AS step_purchase
      FROM f"""),
      (spark, dir) => {
        val f = T(spark, dir, "events")
          .groupBy("user_id")
          .agg(
            min(when(col("event_type") === "view", unix_millis(col("ts")))).as("t_view"),
            min(when(col("event_type") === "click", unix_millis(col("ts")))).as("t_click"),
            min(when(col("event_type") === "purchase", unix_millis(col("ts")))).as("t_buy"))
        f.agg(count(lit(1)).as("n_users"),
          sum(when(col("t_view").isNotNull, 1).otherwise(0)).as("step_view"),
          sum(when(col("t_view").isNotNull && col("t_click") > col("t_view"), 1)
            .otherwise(0)).as("step_click"),
          sum(when(col("t_view").isNotNull && col("t_click") > col("t_view") &&
            col("t_buy") > col("t_click"), 1).otherwise(0)).as("step_purchase"))
      }),

    // Event-type transition matrix: per-user ordered event stream ->
    // (prev, next) bigram counts + row-normalized probability — the
    // Markov-chain view of user behavior, one lag window + one agg.
    QueryDef("q90_transitions", Some("""
      WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_type
        FROM events),
      t AS (SELECT prev_type, event_type AS next_type, count(*) AS n
            FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      SELECT prev_type, next_type, n,
             CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type) AS p
      FROM t"""),
      (spark, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ms"), col("event_id"))
        val t = T(spark, dir, "events")
          .select(col("user_id"), col("event_type"), col("event_id"),
            unix_millis(col("ts")).as("ms"))
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type").as("next_type"))
          .agg(count(lit(1)).as("n"))
        val rowTotal = org.apache.spark.sql.expressions.Window.partitionBy("prev_type")
        t.withColumn("p", col("n").cast("double") / sum(col("n")).over(rowTotal))
      }),

    // Cohort retention: users grouped by first-activity week, counted in
    // each subsequent activity week — the cohort matrix in two
    // aggregations (no per-week scans).
    QueryDef("q85_cohort_retention", Some("""
      WITH act AS (
        SELECT DISTINCT user_id, epoch_ms(date_trunc('week', ts)) AS wk FROM events),
      cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM act GROUP BY user_id)
      SELECT c.cohort_wk, (a.wk - c.cohort_wk) // 604800000 AS week_offset,
             count(*) AS n_users
      FROM act a JOIN cohort c ON a.user_id = c.user_id
      GROUP BY 1, 2"""),
      (spark, dir) => {
        val act = T(spark, dir, "events")
          .select(col("user_id"),
            unix_millis(date_trunc("week", col("ts"))).as("wk"))
          .distinct()
        val cohort = act.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
        act.join(cohort, "user_id")
          .groupBy(col("cohort_wk"),
            ((col("wk") - col("cohort_wk")) / lit(604800000L)).cast("long").as("week_offset"))
          .agg(count(lit(1)).as("n_users"))
      }),

    // MapType surface: JSON props parsed into map<string,int>, exploded
    // to (key, value) rows, aggregated per key — the dynamic-schema
    // pattern for property bags too irregular for fixed columns.
    QueryDef("q82_map_explode", Some("""
      SELECT key, count(*) AS n, CAST(sum(value) AS BIGINT) AS total,
             CAST(min(value) AS INTEGER) AS lo, CAST(max(value) AS INTEGER) AS hi
      FROM (SELECT t.k AS key, CAST(json_extract_string(props, '$.' || t.k) AS INTEGER) AS value
            FROM events, unnest(json_keys(props)) AS t(k))
      GROUP BY key"""),
      (spark, dir) =>
        T(spark, dir, "events")
          .select(explode(from_json(col("props"),
            org.apache.spark.sql.types.DataType.fromDDL("map<string,int>")))
            .as(Seq("key", "value")))
          .groupBy("key")
          .agg(count(lit(1)).as("n"), sum(col("value")).as("total"),
            min(col("value")).as("lo"), max(col("value")).as("hi"))),

    // As-of join (last-touch attribution): each purchase matched to the
    // MOST RECENT click at-or-before it by the same user. Implemented as
    // union + one user-partitioned window with an ignore-nulls
    // carry-forward — ONE hash shuffle on user_id and an in-partition
    // sort, where the naive inequality self-join explodes to
    // |clicks|·|purchases| pairs per user before filtering. This is the
    // scale-correct as-of shape: state per task is a single carried
    // value, never a buffered range. Equal timestamps: clicks sort
    // before purchases (is_p), so a same-instant click is visible;
    // among equal-ts clicks the highest event_id wins (last in order).
    // Both engines run the identical union-window with an explicit ROWS
    // frame, so the match — including null for never-clicked users — is
    // decided by the same total order.
    QueryDef("q119_asof_join", Some("""
      WITH u AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ms,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
        FROM events WHERE event_type IN ('click', 'purchase')),
      w AS (
        SELECT *,
               last_value(CASE WHEN is_p = 0 THEN event_id END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ms, is_p, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_event,
               last_value(CASE WHEN is_p = 0 THEN ms END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ms, is_p, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_ms
        FROM u)
      SELECT user_id, event_id AS purchase_event, ms AS purchase_ms,
             click_event, click_ms, ms - click_ms AS gap_ms
      FROM w WHERE is_p = 1"""),
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val u = T(spark, dir, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
            when(col("event_type") === "purchase", 1).otherwise(0).as("is_p"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("ms"), col("is_p"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        u.withColumn("click_event",
            last(when(col("is_p") === 0, col("event_id")), ignoreNulls = true).over(w))
          .withColumn("click_ms",
            last(when(col("is_p") === 0, col("ms")), ignoreNulls = true).over(w))
          .filter(col("is_p") === 1)
          .select(col("user_id"), col("event_id").as("purchase_event"),
            col("ms").as("purchase_ms"), col("click_event"), col("click_ms"),
            (col("ms") - col("click_ms")).as("gap_ms"))
      }),

    // JSON property extraction + per-type aggregate.
    QueryDef("q36_json_props", Some("""
      SELECT event_type,
             round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 6) AS avg_k,
             CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k,
             count(*) AS n
      FROM events GROUP BY event_type"""),
      (spark, dir) =>
        T(spark, dir, "events")
          .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
          .groupBy("event_type")
          .agg(round(avg(col("k")), 6).as("avg_k"), max(col("k")).as("max_k"),
            count(lit(1)).as("n"))),

    // Next-event training examples: per user, a sliding window of the 3
    // preceding event types becomes the feature sequence and the current
    // event the label — the sequence-model training-set builder for
    // behavioral prediction. The window partitions by user (bounded by
    // per-user history, parallel across users — never a global window)
    // over the (ms, event_id) total order, so the history string is
    // deterministic; only full 3-step histories become examples. The
    // history is emitted pre-joined ('>' separated) because training
    // consumers tokenize anyway and the harness hashes strings, not
    // arrays (the q110 lesson).
    QueryDef("q146_next_event_examples", Some("""
      WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type FROM events),
      w AS (SELECT user_id, event_id, event_type AS label,
                   list(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id
                     ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS h
            FROM e)
      SELECT user_id, event_id, array_to_string(h, '>') AS history, label
      FROM w WHERE len(h) = 3"""),
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(unix_millis(col("ts")), col("event_id"))
          .rowsBetween(-3, -1)
        T(spark, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type").as("label"))
          .withColumn("h", collect_list(col("label")).over(w))
          .filter(size(col("h")) === 3)
          .select(col("user_id"), col("event_id"),
            concat_ws(">", col("h")).as("history"), col("label"))
      }),

    // Temporal distribution-drift monitor: per week, KL(this week ‖
    // previous week) over the event-type distribution with add-half
    // smoothing on the (weeks × global types) grid — the alert signal
    // for upstream behavior shifts (instrumentation change, bot wave)
    // before they poison downstream training data. The type space is
    // small and fixed, so the grid/smoothing joins are dimension-sized;
    // the only corpus-scale work is the one (wk, type) count
    // aggregation. The per-week float sum is an ordered fold by type
    // (q120's shape) so both engines add in the same sequence.
    QueryDef("q149_temporal_drift", Some("""
      WITH e AS (SELECT epoch_ms(date_trunc('week', ts)) AS wk, event_type AS t FROM events),
      ty AS (SELECT DISTINCT t FROM e),
      kk AS (SELECT count(*) AS k FROM ty),
      wks AS (SELECT DISTINCT wk FROM e),
      grid AS (SELECT wk, t FROM wks CROSS JOIN ty),
      c AS (SELECT wk, t, count(*) AS c FROM e GROUP BY wk, t),
      g AS (SELECT grid.wk, grid.t, coalesce(c.c, 0) AS c FROM grid LEFT JOIN c USING (wk, t)),
      n AS (SELECT wk, sum(c) AS n FROM g GROUP BY wk),
      p AS (SELECT g.wk, g.t, (c + 0.5) / (n + 0.5 * k) AS p
            FROM g JOIN n USING (wk) CROSS JOIN kk),
      j AS (SELECT cur.wk, cur.t, cur.p AS p, prv.p AS q
            FROM p cur JOIN p prv ON prv.wk = cur.wk - 604800000 AND prv.t = cur.t)
      SELECT wk, round(list_reduce(list(p * ln(p / q) ORDER BY t), (x, y) -> x + y), 6) AS kl_vs_prev,
             CAST(count(*) AS INTEGER) AS n_types
      FROM j GROUP BY wk"""),
      (spark, dir) => {
        val e = T(spark, dir, "events")
          .select(unix_millis(date_trunc("week", col("ts"))).as("wk"),
            col("event_type").as("t"))
        val ty = e.select("t").distinct()
        val kdf = ty.agg(count(lit(1)).as("k"))
        val grid = e.select("wk").distinct().crossJoin(ty)
        val c = e.groupBy("wk", "t").agg(count(lit(1)).as("c"))
        val g = grid.join(c, Seq("wk", "t"), "left").na.fill(0L, Seq("c"))
        val n = g.groupBy("wk").agg(sum("c").as("n"))
        val p = g.join(n, "wk").crossJoin(broadcast(kdf))
          .select(col("wk"), col("t"),
            ((col("c") + lit(0.5)) / (col("n") + lit(0.5) * col("k"))).as("p"))
        val j = p
          .join(p.select((col("wk") + 604800000L).as("wk"), col("t"), col("p").as("q")),
            Seq("wk", "t"))
        j.select(col("wk"),
            struct(col("t"), (col("p") * log(col("p") / col("q"))).as("v")).as("e"))
          .groupBy("wk")
          .agg(count(lit(1)).cast("int").as("n_types"),
            array_sort(collect_list(col("e"))).as("__s"))
          .select(col("wk"),
            round(aggregate(expr("slice(__s, 2, size(__s) - 1)"),
              element_at(col("__s"), 1).getField("v"),
              (acc, x) => acc + x.getField("v")), 6).as("kl_vs_prev"),
            col("n_types"))
      }),

    // CUSUM changepoint/anomaly detection over hourly event rates (Page
    // 1954): per type, S_t = max(0, S_{t-1} + (x_t − μ − 0.5μ)), alarm
    // when S_t > 2μ — the sequential drift detector a rate monitor runs
    // where the q149 weekly KL is too coarse. The recurrence is an
    // ordered left fold over the type's hour series (the q123
    // sorted-aggregate discipline, generalized from + to add-then-clamp
    // — both engines execute the identical double-op sequence, so the
    // whole S series hash-matches). Per-type series fold: parallelism =
    // types, one shuffle for the hourly counts; the fold itself is an
    // array op on one row per type, never a global window.
    QueryDef("q178_cusum_anomaly", Some("""
      WITH hx AS (SELECT event_type,
                         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
                         CAST(count(*) AS DOUBLE) AS x
                  FROM events GROUP BY 1, 2),
      st AS (SELECT event_type, sum(x) / count(*) AS mu FROM hx GROUP BY 1),
      a AS (SELECT h.event_type, mu,
                   list(h.hour ORDER BY h.hour) AS hs,
                   list(h.x ORDER BY h.hour) AS xs,
                   list(h.x - mu - 0.5 * mu ORDER BY h.hour) AS devs
            FROM hx h JOIN st USING (event_type) GROUP BY h.event_type, mu),
      r AS (SELECT event_type, mu, unnest(hs) AS hour, unnest(xs) AS x,
                   unnest(list_transform(generate_series(1, len(devs)),
                     i -> list_reduce(list_prepend(0.0, devs[1:i]),
                            (acc, v) -> greatest(acc + v, 0.0)))) AS s
            FROM a)
      SELECT event_type, hour, CAST(x AS BIGINT) AS n_events,
             round(s, 6) AS cusum, s > 2 * mu AS alarm
      FROM r"""),
      (spark, dir) => {
        val hx = T(spark, dir, "events")
          .groupBy(col("event_type"),
            date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour"))
          .agg(count(lit(1)).cast("double").as("x"))
        val st = hx.groupBy("event_type")
          .agg((sum(col("x")) / count(lit(1))).as("mu"))
        val a = hx.join(st, "event_type")
          .select(col("event_type"), col("mu"), struct(col("hour"), col("x")).as("e"))
          .groupBy("event_type", "mu")
          .agg(array_sort(collect_list(col("e"))).as("arr"))
          .withColumn("devs", transform(col("arr"),
            e => e.getField("x") - col("mu") - lit(0.5) * col("mu")))
          // running CUSUM: array-accumulator left fold (S_t appended as
          // max(S_{t-1} + dev_t, 0)); numerically identical to the
          // oracle's per-prefix refold — same add-then-clamp chain.
          .withColumn("ss", slice(
            aggregate(col("devs"), array(lit(0.0)),
              (acc, v) => concat(acc, array(greatest(element_at(acc, lit(-1)) + v, lit(0.0))))),
            lit(2), size(col("devs"))))
        a.select(col("event_type"), col("mu"),
            posexplode(arrays_zip(col("arr"), col("ss"))).as(Seq("i", "z")))
          .select(col("event_type"),
            col("z.arr.hour").as("hour"),
            col("z.arr.x").cast("long").as("n_events"),
            round(col("z.ss"), 6).as("cusum"),
            (col("z.ss") > lit(2.0) * col("mu")).as("alarm"))
      }),

    // Per-type daily-rate trend: closed-form OLS slope/intercept of
    // count-per-day against the day index — is this event type growing
    // or shrinking, with slope in events/day. All five sufficient
    // statistics (n, Σx, Σy, Σxy, Σx²) are EXACT integer sums (days are
    // rebased to the corpus' first day so magnitudes stay small), so
    // the only float ops are the two final divisions — rounded once on
    // both engines. One aggregation, parallelism = types.
    QueryDef("q180_trend_slope", Some("""
      WITH d AS (SELECT event_type,
                        CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS day,
                        count(*) AS y
                 FROM events GROUP BY 1, 2),
      mn AS (SELECT min(day) AS d0 FROM d),
      t AS (SELECT event_type, day - d0 AS x, CAST(y AS BIGINT) AS y FROM d, mn),
      s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
            FROM t GROUP BY event_type)
      SELECT event_type, n,
             round(CAST(n * sxy - sx * sy AS DOUBLE)
                   / (n * sxx - sx * sx), 6) AS slope,
             round((sy - CAST(n * sxy - sx * sy AS DOUBLE)
                         / (n * sxx - sx * sx) * sx) / n, 6) AS intercept
      FROM s"""),
      (spark, dir) => {
        val d = T(spark, dir, "events")
          .groupBy(col("event_type"),
            (unix_timestamp(date_trunc("day", col("ts"))) / 86400).cast("long").as("day"))
          .agg(count(lit(1)).as("y"))
        val mn = d.agg(min(col("day")).as("d0"))
        val s = d.crossJoin(broadcast(mn))
          .select(col("event_type"), (col("day") - col("d0")).as("x"), col("y"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
        val den = col("n") * col("sxx") - col("sx") * col("sx")
        s.select(col("event_type"), col("n"),
          round(num / den, 6).as("slope"),
          round((col("sy") - num / den * col("sx")) / col("n"), 6).as("intercept"))
      }),

    // Time-bounded funnel — q84 with conversion WINDOWS: a click counts
    // only within 30 minutes of the first view, a purchase only within
    // 30 minutes of that click. Unbounded funnels (q84) overstate
    // conversion by crediting returns days later; the windowed variant
    // is what growth teams actually track. All timestamps are integer
    // epoch-millis mins — no float until the single rounded rate — and
    // the per-user reduction is ONE groupBy over the events (the q84
    // shape), never a self-join.
    QueryDef("q190_funnel_windowed", Some("""
      WITH f AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS t_buy
        FROM events GROUP BY user_id),
      s AS (SELECT user_id, t_view,
                   CASE WHEN t_click > t_view
                         AND t_click - t_view <= 1800000 THEN t_click END AS wc
            FROM f),
      s2 AS (SELECT s.user_id, s.t_view, s.wc,
                    CASE WHEN f.t_buy > s.wc
                          AND f.t_buy - s.wc <= 1800000 THEN f.t_buy END AS wb
             FROM s JOIN f ON s.user_id = f.user_id)
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS step_view,
             CAST(sum(CASE WHEN wc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS step_click_30m,
             CAST(sum(CASE WHEN wb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS step_buy_30m,
             round(CAST(sum(CASE WHEN wc IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   / greatest(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END), 1), 6)
               AS view_to_click_rate
      FROM s2"""),
      (spark, dir) => {
        val f = T(spark, dir, "events")
          .groupBy("user_id")
          .agg(
            min(when(col("event_type") === "view", unix_millis(col("ts")))).as("t_view"),
            min(when(col("event_type") === "click", unix_millis(col("ts")))).as("t_click"),
            min(when(col("event_type") === "purchase", unix_millis(col("ts")))).as("t_buy"))
        val wLimit = 1800000L
        val s = f
          .withColumn("wc", when(col("t_click") > col("t_view") &&
            col("t_click") - col("t_view") <= wLimit, col("t_click")))
          .withColumn("wb", when(col("t_buy") > col("wc") &&
            col("t_buy") - col("wc") <= wLimit, col("t_buy")))
        s.agg(count(lit(1)).as("n_users"),
          sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("step_view"),
          sum(when(col("wc").isNotNull, 1L).otherwise(0L)).as("step_click_30m"),
          sum(when(col("wb").isNotNull, 1L).otherwise(0L)).as("step_buy_30m"),
          round(sum(when(col("wc").isNotNull, 1L).otherwise(0L)).cast("double")
            / greatest(sum(when(col("t_view").isNotNull, 1L).otherwise(0L)), lit(1L)), 6)
            .as("view_to_click_rate"))
      }),

    // MAD anomaly flags over hourly event-type counts (ops.Robust —
    // Hampel's robust z): hours whose count deviates from the type's
    // median by more than 3× the median absolute deviation. The robust
    // companion to q178's CUSUM (which detects sustained SHIFTS; MAD
    // flags individual spikes, and unlike mean±kσ the spikes being
    // hunted don't inflate the threshold that should catch them).
    // Counts, medians (exact lower-median order statistics), deviations
    // and the 3×MAD threshold are all long arithmetic — zero float
    // discipline for the oracle.
    QueryDef("q232_mad_anomaly", Some("""
      WITH h AS (SELECT event_type,
                   datediff('hour', TIMESTAMP '1970-01-01 00:00:00',
                            date_trunc('hour', ts)) AS t,
                   CAST(count(*) AS BIGINT) AS n
                 FROM events GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                         ORDER BY n, t) AS rk,
                   count(*) OVER (PARTITION BY event_type) AS m FROM h),
      med AS (SELECT event_type,
                     max(CASE WHEN rk = (m + 1) // 2 THEN n END) AS med
              FROM r GROUP BY 1),
      d AS (SELECT h.event_type, h.t, h.n, med.med,
                   abs(h.n - med.med) AS dev
            FROM h JOIN med USING (event_type)),
      r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                          ORDER BY dev, t) AS rk,
                    count(*) OVER (PARTITION BY event_type) AS m FROM d),
      mad AS (SELECT event_type,
                     max(CASE WHEN rk = (m + 1) // 2 THEN dev END) AS mad
              FROM r2 GROUP BY 1)
      SELECT d.event_type, d.t, d.n, d.med, mad.mad
      FROM d JOIN mad USING (event_type)
      WHERE d.dev > 3 * mad.mad"""),
      (spark, dir) => {
        val h = T(spark, dir, "events")
          .groupBy(col("event_type"),
            (unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
              .cast("long").as("t"))
          .agg(count(lit(1)).as("n"))
        graft.ops.Robust.madOutliers(h, "event_type", "t", "n", k = 3)
      }),

    // Holt double-exponential-smoothing backtest (ops.Forecast — level
    // + additive trend), the first forecaster expected to beat q224's
    // seasonal-naive floor on trending series. The per-key recurrence
    // runs as the ordered-fold shape (q123/q221 discipline); the
    // oracle replays the identical float chain as a RECURSIVE CTE over
    // the row-numbered series — NOT list_reduce: DuckDB 1.0's
    // list_reduce mis-evaluates multi-field struct accumulators whose
    // later fields read acc (probe: (a := acc.a*10 + x.a,
    // b := acc.b + acc.a) over [(1,100),(2,_),(3,_)] returns b = 224,
    // not 113 — scalar folds like q123's are unaffected). Smoothing
    // constants interpolate from the SAME Scala doubles on both sides
    // (shortest-roundtrip printing), so 1−β computed in Scala can
    // never mismatch a hand-typed SQL literal by one ulp.
    QueryDef("q237_holt_backtest", Some(holtOracleSql),
      (spark, dir) => {
        val h = T(spark, dir, "events")
          .groupBy(col("event_type"),
            (unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
              .cast("long").as("t"))
          .agg(count(lit(1)).as("n"))
        graft.ops.Forecast.holtBacktest(h, Seq("event_type"), "t", "n",
          HoltAlpha, HoltBeta)
      }),

    // Holt-Winters triple-smoothing backtest (ops.Forecast — level +
    // trend + ADDITIVE 24h SEASONALITY), closing the forecasting
    // ladder q224 (seasonal-naive) → q237 (Holt) → here. The seasonal
    // state rides the accumulator as a length-24 queue (head = s_{t−m},
    // append the refresh), so the oracle replays the identical list
    // ops — s[2:] + list_append inside a RECURSIVE CTE; the seasonal
    // ARRAY is exactly the multi-variable accumulator shape DuckDB's
    // list_reduce mis-folds (q237's documented probe), making the
    // recursion mandatory, not stylistic. Constants interpolate from
    // the same Scala doubles on both sides (1−β, 1−γ are NOT the
    // doubles "0.7"/"0.8" parse to — shortest-roundtrip printing keeps
    // the engines on the same ulp).
    QueryDef("q240_holt_winters", Some {
      val m = HwSeason
      val (a, a1) = (HwAlpha, 1.0 - HwAlpha)
      val (b, b1) = (HwBeta, 1.0 - HwBeta)
      val (g, g1) = (HwGamma, 1.0 - HwGamma)
      s"""
      WITH RECURSIVE h AS (
        SELECT event_type,
               datediff('hour', TIMESTAMP '1970-01-01 00:00:00',
                        date_trunc('hour', ts)) AS t,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      r AS (SELECT event_type, CAST(n AS DOUBLE) AS y,
                   row_number() OVER (PARTITION BY event_type ORDER BY t) AS i
            FROM h),
      cnt AS (SELECT event_type, count(*) AS n_obs FROM r GROUP BY 1),
      init AS (SELECT event_type, list(y ORDER BY i) AS ys
               FROM r WHERE i <= $m GROUP BY event_type),
      base AS (SELECT event_type,
                      list_reduce(ys, (a, b) -> a + b) / ${m.toDouble} AS l0,
                      ys
               FROM init),
      st AS (
        SELECT event_type, $m AS i, l0 AS l, 0.0::DOUBLE AS b,
               0.0::DOUBLE AS sae, list_transform(ys, x -> x - l0) AS s
        FROM base
        UNION ALL
        SELECT st.event_type, r.i,
               $a::DOUBLE * (r.y - st.s[1]) + $a1::DOUBLE * (st.l + st.b),
               $b::DOUBLE * (($a::DOUBLE * (r.y - st.s[1])
                   + $a1::DOUBLE * (st.l + st.b)) - st.l)
                 + $b1::DOUBLE * st.b,
               st.sae + abs(r.y - (st.l + st.b + st.s[1])),
               list_append(st.s[2:],
                 $g::DOUBLE * (r.y - (st.l + st.b)) + $g1::DOUBLE * st.s[1])
        FROM st JOIN r ON r.event_type = st.event_type AND r.i = st.i + 1)
      SELECT st.event_type, CAST(cnt.n_obs AS BIGINT) AS n_obs,
             round(st.sae / greatest(CAST(cnt.n_obs - $m AS DOUBLE),
                                     1.0::DOUBLE), 6) AS mae,
             round(st.l, 6) AS level, round(st.b, 6) AS trend,
             round(st.s[1], 6) AS seasonal_next
      FROM st JOIN cnt ON st.event_type = cnt.event_type
                      AND st.i = cnt.n_obs
      WHERE cnt.n_obs > $m"""
    },
      (spark, dir) => {
        val h = T(spark, dir, "events")
          .groupBy(col("event_type"),
            (unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
              .cast("long").as("t"))
          .agg(count(lit(1)).as("n"))
        graft.ops.Forecast.holtWintersBacktest(h, Seq("event_type"), "t", "n",
          HwAlpha, HwBeta, HwGamma, HwSeason)
      }),

    // AR(2) by Yule-Walker + one-step in-sample backtest
    // (ops.Forecast.ar2Backtest) — the autoregressive rung of the
    // forecasting ladder, and the one whose whole fit is a single
    // pass of EXACT INTEGER moment sums (Σy, Σy², lag-k pair products
    // over join-based lags) followed by a closed-form 2×2 solve: the
    // float work is a fixed expression tree over exact longs, so both
    // engines compute bit-identical φ with NO intermediate rounding
    // (the q241 exactness discipline via integer moments). Gap-honest
    // lags: a missing hour contributes no pair, never a wrong one.
    // The MAE is the only unordered float sum — rounded at 6.
    QueryDef("q244_ar2_backtest", Some("""
      WITH h AS (SELECT event_type,
                   datediff('hour', TIMESTAMP '1970-01-01 00:00:00',
                            date_trunc('hour', ts)) AS t,
                   CAST(count(*) AS BIGINT) AS y
                 FROM events GROUP BY 1, 2),
      g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS s,
                   CAST(sum(y * y) AS BIGINT) AS syy
            FROM h GROUP BY 1),
      p1 AS (SELECT a.event_type, CAST(count(*) AS BIGINT) AS n1,
                    CAST(sum(a.y * b.y) AS BIGINT) AS sxy1,
                    CAST(sum(a.y) AS BIGINT) AS sy1,
                    CAST(sum(b.y) AS BIGINT) AS sx1
             FROM h a JOIN h b ON b.event_type = a.event_type
                              AND b.t = a.t - 1
             GROUP BY 1),
      p2 AS (SELECT a.event_type, CAST(count(*) AS BIGINT) AS n2,
                    CAST(sum(a.y * b.y) AS BIGINT) AS sxy2,
                    CAST(sum(a.y) AS BIGINT) AS sy2,
                    CAST(sum(b.y) AS BIGINT) AS sx2
             FROM h a JOIN h b ON b.event_type = a.event_type
                              AND b.t = a.t - 2
             GROUP BY 1),
      m AS (SELECT g.*, p1.n1, p1.sxy1, p1.sy1, p1.sx1,
                   p2.n2, p2.sxy2, p2.sy2, p2.sx2,
                   CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean
            FROM g JOIN p1 USING (event_type) JOIN p2 USING (event_type)),
      c AS (SELECT *,
              (CAST(syy AS DOUBLE) - mean * CAST(s + s AS DOUBLE)
                 + CAST(n AS DOUBLE) * mean * mean) / CAST(n AS DOUBLE) AS c0,
              (CAST(sxy1 AS DOUBLE) - mean * CAST(sy1 + sx1 AS DOUBLE)
                 + CAST(n1 AS DOUBLE) * mean * mean) / CAST(n AS DOUBLE) AS c1,
              (CAST(sxy2 AS DOUBLE) - mean * CAST(sy2 + sx2 AS DOUBLE)
                 + CAST(n2 AS DOUBLE) * mean * mean) / CAST(n AS DOUBLE) AS c2
            FROM m),
      phi AS (SELECT *,
                CASE WHEN abs(c0 * c0 - c1 * c1) < 1e-12::DOUBLE
                     THEN 0.0::DOUBLE
                     ELSE c1 * (c0 - c2) / (c0 * c0 - c1 * c1) END AS phi1,
                CASE WHEN abs(c0 * c0 - c1 * c1) < 1e-12::DOUBLE
                     THEN 0.0::DOUBLE
                     ELSE (c0 * c2 - c1 * c1) / (c0 * c0 - c1 * c1) END AS phi2
              FROM c),
      ev AS (SELECT cur.event_type, CAST(count(*) AS BIGINT) AS n_eval,
                    avg(abs(phi.mean
                        + phi.phi1 * (CAST(l1.y AS DOUBLE) - phi.mean)
                        + phi.phi2 * (CAST(l2.y AS DOUBLE) - phi.mean)
                        - CAST(cur.y AS DOUBLE))) AS mae
             FROM h cur
             JOIN h l1 ON l1.event_type = cur.event_type AND l1.t = cur.t - 1
             JOIN h l2 ON l2.event_type = cur.event_type AND l2.t = cur.t - 2
             JOIN phi ON phi.event_type = cur.event_type
             GROUP BY 1)
      SELECT phi.event_type, phi.n AS n_obs,
             CAST(coalesce(ev.n_eval, 0) AS BIGINT) AS n_eval,
             round(phi.phi1, 6) AS phi1, round(phi.phi2, 6) AS phi2,
             round(coalesce(ev.mae, 0.0::DOUBLE), 6) AS mae
      FROM phi LEFT JOIN ev USING (event_type)"""),
      (spark, dir) => {
        val h = T(spark, dir, "events")
          .groupBy(col("event_type"),
            (unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
              .cast("long").as("t"))
          .agg(count(lit(1)).as("n"))
        graft.ops.Forecast.ar2Backtest(h, Seq("event_type"), "t", "n")
      }),

    // Classical additive decomposition (ops.Forecast.decompose — the
    // 2×24 centered-moving-average method) of the hourly counts into
    // trend + seasonal + remainder: the diagnostic face of the
    // forecasting family, and the deseasonalized residual feed q232's
    // MAD detector actually wants. COUNT semantics: an hour with no
    // events is a real observation of 0, so the series is ZERO-FILLED
    // over each type's [min, max] hour range before decomposing (at
    // sparse scale factors no 25-hour run is fully observed; for a
    // count series that's density, not missingness — the op's
    // gap-honest contract stays for series where absent ≠ 0). Trend
    // is then exact by the RANGE window + full-coverage count
    // (= season+1) contract, which also proves the row-based lag/lead
    // endpoints land on t∓12, so trend is a fixed float expression
    // over exact long sums (deterministic unrounded). Seasonal phase
    // means and their centering are the only unordered float averages
    // — seasonal rounds once at 6 after centering; remainder =
    // y − trend(unrounded) − seasonal(rounded), rounded at 6
    // (mirrored exactly here).
    QueryDef("q245_stl_decompose",
      Some(s"WITH $stlCtes SELECT * FROM stl"),
      (spark, dir) =>
        graft.ops.Forecast.decompose(hourlyDense(spark, dir),
          Seq("event_type"), "t", "n", StlSeason)),

    // First-order Markov next-event backtest (ops.Markov) — the
    // SEQUENCE rung of the prediction ladder (q224-q245 predict
    // per-key counts; this predicts the next discrete state). Pairs
    // via lead over (user, second, event_id) — the unique tie column
    // makes the sequence reproducible; the train/test split is a
    // TEMPORAL integer floor-division cutoff at 4/5 of the observed
    // range (a random split would leak the future into training);
    // the model is the per-state argmax with lexicographic
    // tie-break; accuracy is exact-integer hits/n_test divided once
    // (the q244 discipline — no unordered float accumulation).
    QueryDef("q246_markov_next", Some("""
      WITH p AS (SELECT event_type AS cur,
                   lead(event_type) OVER (PARTITION BY user_id
                     ORDER BY datediff('second',
                       TIMESTAMP '1970-01-01 00:00:00', ts), event_id) AS nxt,
                   datediff('second', TIMESTAMP '1970-01-01 00:00:00',
                            ts) AS t
                 FROM events),
      pp AS (SELECT * FROM p WHERE nxt IS NOT NULL),
      b AS (SELECT min(t) + ((max(t) - min(t)) * 4) // 5 AS cut FROM pp),
      tr AS (SELECT cur, nxt FROM pp, b WHERE t < cut),
      te AS (SELECT cur, nxt FROM pp, b WHERE t >= cut),
      c AS (SELECT cur, nxt, count(*) AS c FROM tr GROUP BY 1, 2),
      pr AS (SELECT cur, nxt AS top_next FROM (
               SELECT *, row_number() OVER (PARTITION BY cur
                 ORDER BY c DESC, nxt) AS rn FROM c) WHERE rn = 1),
      tn AS (SELECT cur, CAST(count(*) AS BIGINT) AS n_train
             FROM tr GROUP BY 1),
      sc AS (SELECT te.cur, CAST(count(*) AS BIGINT) AS n_test,
                    CAST(sum(CASE WHEN te.nxt = pr.top_next
                                  THEN 1 ELSE 0 END) AS BIGINT) AS hits
             FROM te JOIN pr ON pr.cur = te.cur GROUP BY 1)
      SELECT pr.cur AS event_type, tn.n_train,
             CAST(coalesce(sc.n_test, 0) AS BIGINT) AS n_test, pr.top_next,
             round(CAST(coalesce(sc.hits, 0) AS DOUBLE) /
                   CAST(CASE WHEN coalesce(sc.n_test, 0) = 0 THEN 1
                             ELSE sc.n_test END AS DOUBLE), 6) AS acc
      FROM pr JOIN tn USING (cur) LEFT JOIN sc USING (cur)"""),
      (spark, dir) => {
        val e = T(spark, dir, "events")
          .withColumn("t", unix_timestamp(col("ts")))
        graft.ops.Markov.firstOrderBacktest(
          e, "user_id", "t", "event_id", "event_type")
      }),

    // Incremental Holt state store (streaming.IncrementalForecast):
    // the hourly series split into 3 TIME-ordered batches (integer
    // tertile cutoffs), each folded into a versioned per-key
    // (level, trend, sae) store — and the final state is
    // CONTRACTUALLY bit-identical to q237's full-history fold (the
    // fold continues from stored unrounded doubles through the same
    // shared holtStep expression tree), so this query gates against
    // q237's recursive-CTE oracle VERBATIM.
    QueryDef("q248_incremental_holt", Some(holtOracleSql),
      (spark, dir) => {
        val h = T(spark, dir, "events")
          .groupBy(col("event_type"),
            (unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
              .cast("long").as("t"))
          .agg(count(lit(1)).as("n"))
        val cuts = h.agg(min(col("t")).as("__lo"), max(col("t")).as("__hi"))
          .select(expr("__lo + (__hi - __lo) div 3").as("__c1"),
            expr("__lo + ((__hi - __lo) * 2) div 3").as("__c2"))
        val hh = h.crossJoin(broadcast(cuts))
        def part(i: Long) = i match {
          case 0 => hh.filter(col("t") < col("__c1"))
          case 1 => hh.filter(col("t") >= col("__c1") && col("t") < col("__c2"))
          case _ => hh.filter(col("t") >= col("__c2"))
        }
        def batch(store: String, i: Long): Unit = {
          graft.streaming.IncrementalForecast.processBatch(
            part(i), i, store, Seq("event_type"), "t", "n",
            HoltAlpha, HoltBeta): Unit
        }
        val store = graft.GraftSession.steadyStateStore("q248", dir)(batch)
        graft.streaming.IncrementalForecast.backtest(
          spark, store, 2L, Seq("event_type"))
      }),

    // Seasonal anomaly detection — the composition the q245 scaladoc
    // promises: decompose the hourly counts, then run q232's MAD
    // detector on the DESEASONALIZED remainder instead of the raw
    // series (raw diurnal counts inflate the MAD threshold; residuals
    // don't). The remainder is 6dp-rounded, so ×1e6 is integer-valued
    // in a double and the round-then-cast to long is exact — the
    // whole median/MAD/threshold chain runs in the same exact long
    // arithmetic as q232, over residual micro-units.
    QueryDef("q255_seasonal_anomaly", Some(s"""
      WITH $stlCtes,
      res AS (SELECT event_type, t,
                CAST(round(remainder * 1000000.0::DOUBLE) AS BIGINT) AS r_fp
              FROM stl),
      r1 AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                          ORDER BY r_fp, t) AS rk,
                  count(*) OVER (PARTITION BY event_type) AS m FROM res),
      med AS (SELECT event_type,
                     max(CASE WHEN rk = (m + 1) // 2 THEN r_fp END) AS med
              FROM r1 GROUP BY 1),
      d AS (SELECT res.event_type, res.t, res.r_fp, med.med,
                   abs(res.r_fp - med.med) AS dev
            FROM res JOIN med USING (event_type)),
      r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                          ORDER BY dev, t) AS rk,
                  count(*) OVER (PARTITION BY event_type) AS m FROM d),
      mad AS (SELECT event_type,
                     max(CASE WHEN rk = (m + 1) // 2 THEN dev END) AS mad
              FROM r2 GROUP BY 1)
      SELECT d.event_type, d.t, d.r_fp, d.med, mad.mad
      FROM d JOIN mad USING (event_type)
      WHERE d.dev > 3 * mad.mad"""),
      (spark, dir) => {
        val dec = graft.ops.Forecast.decompose(hourlyDense(spark, dir),
          Seq("event_type"), "t", "n", StlSeason)
        val res = dec.select(col("event_type"), col("t"),
          round(col("remainder") * lit(1000000.0), 0).cast("long")
            .as("r_fp"))
        graft.ops.Robust.madOutliers(res, "event_type", "t", "r_fp", k = 3)
          .select(col("event_type"), col("t"), col("r_fp"), col("med"),
            col("mad"))
      }),

    // Windowed distinct-user sketches with a ROLLUP THAT NEVER RESCANS:
    // hourly HLL registers of user_id, then daily sketches folded from
    // the hourly ones by engine.expressions.HllMerge (elementwise max —
    // associative + idempotent, so the rollup is BIT-IDENTICAL to a
    // sketch built from the base rows, which is exactly what the oracle
    // replays with one GROUP BY at day grain). The dashboard workload
    // mergeable sketches exist for: at 100 TB the raw events are read
    // once at the finest grain and every coarser distinct-count
    // (day/week/source/global) is a register fold over sketch rows.
    // Exact counts ride alongside to expose the estimator error.
    QueryDef("q269_hll_window_rollup", Some("""
      WITH ev AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
                         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                         CAST(user_id AS VARCHAR) AS uid
                  FROM events),
      d AS (SELECT DISTINCT hour, day, uid FROM ev),
      h AS (SELECT hour, day, uid,
              ('0x' || substr(md5(uid), 1, 15))::BIGINT AS hv FROM d),
      r AS (SELECT hour, day, hv % 256 AS j,
              CASE WHEN hv // 256 = 0 THEN 53
                   ELSE CAST(round(log2((hv // 256) & (-(hv // 256))))
                        AS INTEGER) + 1
              END AS rho
            FROM h),
      lv AS (SELECT 'hour' AS level, hour AS bucket, j, rho FROM r
             UNION ALL SELECT 'day' AS level, day AS bucket, j, rho FROM r),
      reg AS (SELECT level, bucket, j, max(rho) AS mj FROM lv GROUP BY 1, 2, 3),
      grid AS (SELECT k.level, k.bucket, b.j, coalesce(reg.mj, 0) AS mj
               FROM (SELECT DISTINCT level, bucket FROM lv) k
               CROSS JOIN (SELECT unnest(range(0, 256)) AS j) b
               LEFT JOIN reg ON reg.level = k.level AND reg.bucket = k.bucket
                            AND reg.j = b.j),
      s AS (SELECT level, bucket,
              CAST(sum(CAST(1 AS BIGINT) << (53 - mj)) AS BIGINT) AS s2,
              CAST(sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS INTEGER) AS v
            FROM grid GROUP BY 1, 2),
      e AS (SELECT level, bucket, v,
              0.7213 / (1 + 1.079 / 256) * 65536 * 9007199254740992
                / CAST(s2 AS DOUBLE) AS raw
            FROM s),
      exh AS (SELECT 'hour' AS level, hour AS bucket,
                     CAST(count(DISTINCT uid) AS BIGINT) AS n_exact
              FROM ev GROUP BY 2
              UNION ALL
              SELECT 'day', day, CAST(count(DISTINCT uid) AS BIGINT)
              FROM ev GROUP BY 2)
      SELECT exh.level, exh.bucket, exh.n_exact,
             round(CASE WHEN e.raw <= 640.0 AND e.v > 0
                        THEN 256 * ln(256 / CAST(e.v AS DOUBLE))
                        ELSE e.raw END, 4) AS est
      FROM exh JOIN e ON exh.level = e.level AND exh.bucket = e.bucket"""),
      (spark, dir) => {
        import graft.engine.expressions.Hll
        Hll.register(spark)
        val ev = T(spark, dir, "events").select(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour"),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
          col("user_id").cast("string").as("uid"))
        val hourly = ev.groupBy("day", "hour").agg(
          Hll.sketch(col("uid"), 8).as("sk"),
          countDistinct(col("uid")).as("n_exact"))
        val hrows = hourly.select(lit("hour").as("level"),
          col("hour").as("bucket"), col("n_exact"),
          round(Hll.estimate(col("sk"), 8), 4).as("est"))
        // the day sketch folds from HOURLY SKETCH ROWS, never base data
        val drows = hourly.groupBy("day")
          .agg(Hll.merge(col("sk"), 8).as("sk"))
          .join(ev.groupBy("day").agg(countDistinct(col("uid")).as("n_exact")),
            "day")
          .select(lit("day").as("level"), col("day").as("bucket"),
            col("n_exact"), round(Hll.estimate(col("sk"), 8), 4).as("est"))
        hrows.unionByName(drows)
      }),

    // Windowed quantile sketches with a rollup that never rescans —
    // q269's twin for the LAST sketch axis (distributions): hourly
    // dyadic grids of the fixed-point event value (floor(value·100):
    // the multiply and floor are IEEE-identical on both engines, so
    // the quantized longs match exactly), folded to daily sketches by
    // QuantileSketchMerge (elementwise SUM — linear, so the fold is
    // BIT-IDENTICAL to a sketch built from the base rows, which is
    // exactly what the oracle replays at day grain before unrolling
    // the integer descent per day). At 100 TB the raw events are read
    // once at the finest grain and every coarser p50/p99 (day/week/
    // global) is a grid add over sketch rows. The exact rank of each
    // returned value rides alongside (the n_exact discipline).
    QueryDef("q273_quantile_window_rollup", Some(s"""
      WITH vals AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                           least(greatest(CAST(floor(value * 100) AS BIGINT), 0),
                                 65535) AS v
                    FROM events),
      ${QuantileOracle.ctes(Seq("day"), Seq(50, 99))}
      SELECT st0.day, phi_pct, n, t AS target_rank, s AS est_q,
             (SELECT CAST(count(*) AS BIGINT) FROM vals
              WHERE vals.day = st0.day AND vals.v <= st0.s) AS exact_rank_at_est
      FROM st0"""),
      (spark, dir) => {
        import graft.engine.expressions.QuantileSketch
        QuantileSketch.register(spark)
        val ev = T(spark, dir, "events").select(
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour"),
          floor(col("value") * 100).cast("long").as("v"))
        val hourly = ev.groupBy("day", "hour").agg(
          QuantileSketch.sketch(col("v")).as("sk"), count(col("v")).as("n"))
        // the day grid folds from HOURLY SKETCH ROWS, never base data
        val daily = hourly.groupBy("day").agg(
          QuantileSketch.merge(col("sk")).as("sk"), sum(col("n")).as("n"))
        val per = daily.select(col("day"), col("sk"), col("n"),
            explode(array(lit(50), lit(99))).as("phi_pct"))
          .withColumn("target_rank", expr("(phi_pct * n + 99) div 100"))
          .withColumn("est_q",
            QuantileSketch.quantile(col("sk"), col("target_rank")))
          .select("day", "phi_pct", "n", "target_rank", "est_q")
        val vals = ev.select(col("day"),
          least(greatest(col("v"), lit(0L)), lit(65535L)).as("v"))
        vals.join(broadcast(per), Seq("day"))
          .groupBy("day", "phi_pct", "n", "target_rank", "est_q")
          .agg(sum(when(col("v") <= col("est_q"), 1L).otherwise(0L))
            .as("exact_rank_at_est"))
      }),

    // q273's twin on the SECOND quantile representation: hourly
    // log-bucket histograms (ops.LogHistogram — relative error,
    // unbounded domain) folded to daily by a plain (bucket → sum)
    // re-aggregation over histogram rows, never base data. Counts are
    // linear, so the fold is bit-identical to day-grain histograms of
    // the raw rows — which is exactly what the oracle rebuilds. Both
    // mergeable quantile forms now carry the read-once/roll-up-
    // anywhere evidence (dyadic grid: q273; log buckets: here).
    QueryDef("q277_loghist_window_rollup", Some("""
      WITH vals AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                           greatest(CAST(floor(value * 100) AS BIGINT), 0) AS v
                    FROM events),
      bk AS (SELECT day, sh * 32 + (v >> sh) AS bucket
             FROM (SELECT day, v,
                          greatest(length(bin(v)) - 1 - 5, 0) AS sh
                   FROM vals)),
      h AS (SELECT day, bucket, CAST(count(*) AS BIGINT) AS cnt
            FROM bk GROUP BY 1, 2),
      cum AS (SELECT day, bucket,
                     sum(cnt) OVER (PARTITION BY day ORDER BY bucket) AS cum
              FROM h),
      nn AS (SELECT day, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY 1),
      tgt AS (SELECT nn.day, ph.phi_pct, nn.n,
                     (ph.phi_pct * nn.n + 99) // 100 AS t
              FROM nn CROSS JOIN (SELECT unnest([50, 99]) AS phi_pct) ph),
      sel AS (SELECT t.day, t.phi_pct, t.n, t.t, min(c.bucket) AS b
              FROM tgt t JOIN cum c ON c.day = t.day AND c.cum >= t.t
              GROUP BY 1, 2, 3, 4),
      est AS (SELECT day, phi_pct, n, t AS target_rank,
                     CASE WHEN greatest((b >> 5) - 1, 0) = 0 THEN b
                          ELSE (b - ((b >> 5) - 1) * 32) << ((b >> 5) - 1)
                     END AS est_q
              FROM sel)
      SELECT e.day, e.phi_pct, e.n, e.target_rank, e.est_q,
             (SELECT CAST(count(*) AS BIGINT) FROM vals
              WHERE vals.day = e.day AND vals.v <= e.est_q)
               AS exact_rank_at_est
      FROM est e"""),
      (spark, dir) => {
        import graft.ops.LogHistogram
        val ev = T(spark, dir, "events").select(
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour"),
          greatest(floor(col("value") * 100).cast("long"), lit(0L)).as("v"))
        val hourly = LogHistogram.histogram(ev, Seq("day", "hour"), "v", 5)
        // the day histogram folds from HOURLY ROWS, never base data
        val daily = hourly.groupBy("day", "bucket")
          .agg(sum(col("cnt")).as("cnt"))
        val per = LogHistogram.quantiles(daily, Seq("day"), Seq(50, 99), 5)
        val vals = ev.select(col("day"), col("v"))
        vals.join(broadcast(per), Seq("day"))
          .groupBy("day", "phi_pct", "n", "target_rank", "est_q")
          .agg(sum(when(col("v") <= col("est_q"), 1L).otherwise(0L))
            .as("exact_rank_at_est"))
      }),

    // SLIDING-window distinct users (trailing 7 days per day) from
    // daily HLL sketch rows — the q269 rollup generalized from nested
    // grains (hour→day) to OVERLAPPING windows, which no single
    // re-group can produce: each day's window merges the 7 daily
    // sketches via register max (associative + IDEMPOTENT — a user
    // active on several days of one window still counts ONCE, which no
    // additive sketch can give: the distinct-count metric itself is
    // non-additive across days). Base data is read once at day
    // grain; the window fold touches only #days × 7 sketch rows (a
    // broadcast nested-loop of the tiny day grid onto sketch rows), so
    // at 100 TB the sliding MAU/WAU dashboard never rescans events.
    // The exact window distinct rides alongside (the q269 discipline —
    // at scale you would drop it; it is the estimator-error witness).
    QueryDef("q282_sliding_hll", Some(slidingHllSql),
      (spark, dir) => {
        import graft.engine.expressions.Hll
        Hll.register(spark)
        val ev = T(spark, dir, "events").select(
          to_date(date_trunc("day", col("ts"))).as("day"),
          col("user_id").cast("string").as("uid"))
        // lazy localCheckpoint: the day grid AND the window fold both
        // consume the daily sketch rows — without it Spark re-derives
        // the grid from a third events scan instead of the (tiny)
        // aggregated frame
        val daily = ev.groupBy("day").agg(Hll.sketch(col("uid"), 8).as("sk"))
          .localCheckpoint(eager = false)
        val days = daily.select(col("day").as("gday"))
        // the 7-day window folds DAILY SKETCH ROWS, never base data
        val win = daily.join(broadcast(days),
            datediff(col("gday"), col("day")).between(0, 6))
          .groupBy("gday")
          .agg(Hll.merge(col("sk"), 8).as("sk"),
            count(lit(1)).cast("int").as("n_days"))
        val exact = ev.dropDuplicates("day", "uid")
          .join(broadcast(days), datediff(col("gday"), col("day")).between(0, 6))
          .groupBy("gday").agg(countDistinct(col("uid")).as("n_exact_7d"))
        win.join(exact, Seq("gday"))
          .select(col("gday").as("day"), col("n_days"), col("n_exact_7d"),
            round(Hll.estimate(col("sk"), 8), 4).as("est"))
      }),

    // q282's twin for DISTRIBUTIONS: trailing-7-day p50/p99 from daily
    // dyadic quantile grids. Here the SUM fold is exactly right where
    // it was wrong for distinct counts: each window's days are DISJOINT
    // row partitions, so summing the 7 daily grids IS the window's grid
    // (rank mass is additive across disjoint inputs; it was the
    // metric — distinct users — that was non-additive in q282, not the
    // fold). Daily grids are lazily localCheckpointed and the window
    // fold touches #days × 7 sketch rows via the broadcast day grid —
    // at 100 TB the trailing-week latency dashboard never rescans
    // events. Exact rank of each returned value rides alongside (the
    // q273 witness discipline).
    QueryDef("q287_sliding_quantile", Some(s"""
      WITH ev AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS sday,
                         least(greatest(CAST(floor(value * 100) AS BIGINT), 0),
                               65535) AS v
                  FROM events),
      days AS (SELECT DISTINCT sday FROM ev),
      vals AS (SELECT g.sday AS day, ev.v
               FROM days g
               JOIN ev ON ev.sday <= g.sday AND ev.sday >= g.sday - 6),
      ${QuantileOracle.ctes(Seq("day"), Seq(50, 99))}
      SELECT st0.day, phi_pct, n, t AS target_rank, s AS est_q,
             (SELECT CAST(count(*) AS BIGINT) FROM vals
              WHERE vals.day = st0.day AND vals.v <= st0.s)
               AS exact_rank_at_est
      FROM st0"""),
      (spark, dir) => {
        import graft.engine.expressions.QuantileSketch
        QuantileSketch.register(spark)
        val ev = T(spark, dir, "events").select(
          to_date(date_trunc("day", col("ts"))).as("day"),
          least(greatest(floor(col("value") * 100).cast("long"), lit(0L)),
            lit(65535L)).as("v"))
        val daily = ev.groupBy("day").agg(
            QuantileSketch.sketch(col("v")).as("sk"), count(col("v")).as("n"))
          .localCheckpoint(eager = false)
        val days = daily.select(col("day").as("gday"))
        // the trailing week folds DAILY GRID ROWS, never base data
        val win = daily.join(broadcast(days),
            datediff(col("gday"), col("day")).between(0, 6))
          .groupBy("gday")
          .agg(QuantileSketch.merge(col("sk")).as("sk"), sum(col("n")).as("n"))
        val per = win.select(col("gday"), col("sk"), col("n"),
            explode(array(lit(50), lit(99))).as("phi_pct"))
          .withColumn("target_rank", expr("(phi_pct * n + 99) div 100"))
          .withColumn("est_q",
            QuantileSketch.quantile(col("sk"), col("target_rank")))
          .select("gday", "phi_pct", "n", "target_rank", "est_q")
        ev.join(broadcast(days), datediff(col("gday"), col("day")).between(0, 6))
          .select(col("gday"), col("v"))
          .join(broadcast(per), Seq("gday"))
          .groupBy("gday", "phi_pct", "n", "target_rank", "est_q")
          .agg(sum(when(col("v") <= col("est_q"), 1L).otherwise(0L))
            .as("exact_rank_at_est"))
          .withColumnRenamed("gday", "day")
      }),

    // Streaming store → sliding dashboard, end to end: q282's
    // trailing-7-day distinct users served from the IncrementalHll
    // STORE's register rows instead of a fresh daily aggregate. The
    // events feed arrives as 3 UNORDERED event_id-mod batches; the
    // store's per-day registers are elementwise maxes (commutative +
    // row-idempotent), so the 3-batch store is bit-identical to the
    // one-shot daily sketch frame and the window fold on top of it
    // gates against q282's oracle VERBATIM — proving the ingest path
    // (incremental maintenance) and the serve path (overlapping-window
    // register fold) compose without ever touching base data at read
    // time. This is the 100 TB shape: events stream into per-day
    // sketch state once; every sliding WAU/MAU read folds stored
    // registers only.
    QueryDef("q288_sliding_hll_store", Some(slidingHllSql),
      (spark, dir) => {
        import graft.engine.expressions.Hll
        Hll.register(spark)
        val ev = T(spark, dir, "events").select(col("event_id"),
          to_date(date_trunc("day", col("ts"))).as("day"),
          col("user_id").cast("string").as("uid"))
        def batch(store: String, i: Long): Unit =
          graft.streaming.IncrementalHll.processBatch(
            ev.filter(pmod(col("event_id"), lit(3)) === i),
            i, store, Seq("day"), "uid", 8): Unit
        val store = graft.GraftSession.steadyStateStore("q288", dir)(batch)
        val daily = spark.read.parquet(s"$store/v=2")
        val days = daily.select(col("day").as("gday"))
        // the dashboard read folds STORED register rows, never events
        val win = daily.join(broadcast(days),
            datediff(col("gday"), col("day")).between(0, 6))
          .groupBy("gday")
          .agg(Hll.merge(col("sk"), 8).as("sk"),
            count(lit(1)).cast("int").as("n_days"))
        val exact = ev.dropDuplicates("day", "uid")
          .join(broadcast(days), datediff(col("gday"), col("day")).between(0, 6))
          .groupBy("gday").agg(countDistinct(col("uid")).as("n_exact_7d"))
        win.join(exact, Seq("gday"))
          .select(col("gday").as("day"), col("n_days"), col("n_exact_7d"),
            round(Hll.estimate(col("sk"), 8), 4).as("est"))
      })
  )


  /** Shared q282/q288 oracle: trailing-7-day distinct users per day —
    * window registers rebuilt from raw rows (register max over the
    * window's uids), estimator replayed float-op-for-float-op, exact
    * distinct alongside. One definition: q282 builds the daily sketches
    * in-query, q288 serves them from the IncrementalHll store — the
    * max-fold algebra makes both bit-identical to this rebuild.
    * (`def`, not `val`: defs initializes first — the Scd2Ctes note.)
    */
  private def slidingHllSql: String = """
      WITH ev AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                         CAST(user_id AS VARCHAR) AS uid
                  FROM events),
      dd AS (SELECT DISTINCT day, uid FROM ev),
      days AS (SELECT DISTINCT day FROM dd),
      win AS (SELECT g.day AS day, dd.uid
              FROM days g JOIN dd ON dd.day <= g.day AND dd.day >= g.day - 6),
      wd AS (SELECT DISTINCT day, uid FROM win),
      h AS (SELECT day, uid,
              ('0x' || substr(md5(uid), 1, 15))::BIGINT AS hv FROM wd),
      r AS (SELECT day, hv % 256 AS j,
              CASE WHEN hv // 256 = 0 THEN 53
                   ELSE CAST(round(log2((hv // 256) & (-(hv // 256))))
                        AS INTEGER) + 1
              END AS rho
            FROM h),
      reg AS (SELECT day, j, max(rho) AS mj FROM r GROUP BY 1, 2),
      grid AS (SELECT k.day, b.j, coalesce(reg.mj, 0) AS mj
               FROM days k
               CROSS JOIN (SELECT unnest(range(0, 256)) AS j) b
               LEFT JOIN reg ON reg.day = k.day AND reg.j = b.j),
      s AS (SELECT day,
              CAST(sum(CAST(1 AS BIGINT) << (53 - mj)) AS BIGINT) AS s2,
              CAST(sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS INTEGER) AS v
            FROM grid GROUP BY 1),
      e AS (SELECT day, v,
              0.7213 / (1 + 1.079 / 256) * 65536 * 9007199254740992
                / CAST(s2 AS DOUBLE) AS raw
            FROM s),
      ex AS (SELECT day, CAST(count(DISTINCT uid) AS BIGINT) AS n_exact_7d
             FROM win GROUP BY 1),
      nd AS (SELECT g.day, CAST(count(*) AS INTEGER) AS n_days
             FROM days g JOIN days s2 ON s2.day <= g.day AND s2.day >= g.day - 6
             GROUP BY 1)
      SELECT ex.day, nd.n_days, ex.n_exact_7d,
             round(CASE WHEN e.raw <= 640.0 AND e.v > 0
                        THEN 256 * ln(256 / CAST(e.v AS DOUBLE))
                        ELSE e.raw END, 4) AS est
      FROM ex JOIN e ON ex.day = e.day JOIN nd ON ex.day = nd.day"""
}
