package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ops.{Exact, Fills, Lags, Splits}
import graft.ops.Exact.{davg, dsum}

/** Ordered / time-series operator coverage (SURVEY.md §2.6 + M5/M24):
  * fills with limits, lags/differences, sliding windows, blocked CV,
  * positional splits, resampling, seasonal decomposition, and the flagship
  * proportional-disaggregation pipeline.
  *
  * The `events` table plays the hourly balance feed: [[graft.Tables.eventDay]]
  * is the day key, `event_id` the deterministic ordering key (testdata
  * event_ids are assigned in timestamp order; raw `ts` carries
  * sub-microsecond precision, so it is never used for output or
  * tie-breaking). Date-typed outputs are projected as ISO strings so the
  * compare is independent of how the reader maps DATE values.
  */
object Series {

  private val iso = "yyyy-MM-dd"

  /** Daily series: one row per day with an exact (order-invariant) mean of
    * `value` — the base table for the lag/decomposition/disaggregation
    * queries. Mirrors the reference's hourly→daily aggregation
    * (`normalization.ipynb#8`).
    */
  def dailySeries(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(eventDay.as("day"))
      .agg(davg(col("value")).as("val"), count(lit(1)).as("n_events"))

  private val dailySql =
    """SELECT CAST(ts AS DATE) AS day,
      |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(value) AS val,
      |  COUNT(*) AS n_events
      |FROM events GROUP BY 1""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- partitioned ffill/bfill with limit (W1/W2) ----
    Q("q23_ffill_limit",
      """WITH ev AS (SELECT event_id, user_id,
        |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        |  FROM events)
        |SELECT event_id, user_id,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS v_ffill,
        |  first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS v_bfill
        |FROM ev
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val ev = events(s, dir)
        .withColumn("v", when(col("event_type") === "error", lit(null).cast("double"))
          .otherwise(col("value")))
      ev.select(
          col("event_id"), col("user_id"),
          Fills.ffill(col("v"), Seq(col("user_id")), Seq(col("event_id")), Some(7)).as("v_ffill"),
          Fills.bfill(col("v"), Seq(col("user_id")), Seq(col("event_id")), Some(7)).as("v_bfill"))
        .orderBy("event_id")
    },

    // ---- month-partitioned unbounded ffill (W3: global fill made scalable) ----
    Q("q24_month_ffill",
      """WITH ev AS (SELECT event_id,
        |    STRFTIME(DATE_TRUNC('month', CAST(ts AS DATE)), '%Y-%m-%d') AS mon,
        |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        |  FROM events)
        |SELECT event_id, mon,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY mon ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        |FROM ev
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val ev = events(s, dir)
        .withColumn("mon", date_format(eventMonth, iso))
        .withColumn("v", when(col("event_type") === "error", lit(null).cast("double"))
          .otherwise(col("value")))
      ev.select(
          col("event_id"), col("mon"),
          Fills.ffill(col("v"), Seq(col("mon")), Seq(col("event_id")), None).as("v_filled"))
        .orderBy("event_id")
    },

    // ---- lag features + differencing (W5/W6) ----
    Q("q25_lags_diff",
      s"""WITH daily AS ($dailySql)
        |SELECT STRFTIME(day, '%Y-%m-%d') AS day, val,
        |  lag(val, 1) OVER w AS val_lag1,
        |  lag(val, 2) OVER w AS val_lag2,
        |  lag(val, 7) OVER w AS val_lag7,
        |  val - lag(val, 1) OVER w AS diff1
        |FROM daily
        |WINDOW w AS (ORDER BY day)
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      val daily = dailySeries(s, dir).drop("n_events")
      // diff1 reuses val_lag1: a second lag(val, 1) would add a window frame
      Lags.withLags(daily, "val", Seq("day"), Seq(1, 2, 7))
        .withColumn("diff1", col("val") - col("val_lag1"))
        .withColumn("day", date_format(col("day"), iso))
        .orderBy("day")
    },

    // ---- sliding-frame moving aggregate (W7-adjacent; M5 trend) ----
    Q("q26_sliding_mean",
      s"""WITH daily AS ($dailySql)
        |SELECT STRFTIME(day, '%Y-%m-%d') AS day, val,
        |  CAST(SUM(CAST(ROUND(val * 1000000.0, 0) AS DECIMAL(30,0))) OVER w7 AS DOUBLE)
        |    / 1000000.0 / COUNT(val) OVER w7 AS ma7,
        |  CAST(SUM(CAST(ROUND(val * 1000000.0, 0) AS DECIMAL(30,0))) OVER w7 AS DOUBLE)
        |    / 1000000.0 AS sum7,
        |  COUNT(*) OVER w7 AS n7
        |FROM daily
        |WINDOW w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      // grid-snapped capture: val is a COMPUTED daily mean (see Exact.gavgOver)
      val w7 = Window.orderBy(col("day")).rowsBetween(-6, 0)
      dailySeries(s, dir).drop("n_events")
        .select(
          col("day"), col("val"),
          Exact.gavgOver(col("val"), w7).as("ma7"),
          Exact.gsumOver(col("val"), w7).as("sum7"),
          count(lit(1)).over(w7).as("n7"))
        .withColumn("day", date_format(col("day"), iso))
        .orderBy("day")
    },

    // ---- rolling z-score anomaly detection (per-series, partitioned) ----
    // The classic ops/monitoring pass over a metric feed: per user, a
    // 24-event trailing window yields mean and E[v²] through the 1e-6
    // grid capture (order-invariant exact sums — a double window sum
    // would drift with partition recompute order), variance by the
    // textbook E[v²]−mean² with one fixed association, and |z| > 2.5
    // flags anomalies on FULL windows only. Window is partitioned by
    // series key — the scale-correct shape (q26's global frame is the
    // single-series special case).
    Q("q144_rolling_anomaly",
      """WITH e AS (SELECT user_id, event_id, value AS v, ts FROM events),
        |w AS (SELECT user_id, event_id, v,
        |    COUNT(*) OVER win AS n,
        |    CAST(SUM(CAST(ROUND(v * 1000000.0, 0) AS DECIMAL(30,0))) OVER win AS DOUBLE)
        |      / 1000000.0 / COUNT(v) OVER win AS mean,
        |    CAST(SUM(CAST(ROUND((v * v) * 1000000.0, 0) AS DECIMAL(30,0))) OVER win AS DOUBLE)
        |      / 1000000.0 / COUNT(v * v) OVER win AS msq
        |  FROM e
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, v AS value,
        |  (v - mean) / sqrt(msq - mean * mean) AS z
        |FROM w
        |WHERE n = 24 AND msq - mean * mean > 0
        |  AND abs((v - mean) / sqrt(msq - mean * mean)) > 2.5
        |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-23, 0)
      val base = events(s, dir)
        .select(col("user_id"), col("event_id"), col("value").as("v"), col("ts"))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("mean", Exact.gavgOver(col("v"), w))
        .withColumn("msq", Exact.gavgOver(col("v") * col("v"), w))
      val varc = col("msq") - col("mean") * col("mean")
      base.filter(col("n") === 24 && varc > 0)
        .withColumn("z", (col("v") - col("mean")) / sqrt(varc))
        .filter(abs(col("z")) > 2.5)
        .select(col("user_id"), col("event_id"), col("v").as("value"), col("z"))
        .orderBy("user_id", "event_id")
    },

    // ---- Holt linear-trend exponential smoothing + h-step forecast ----
    // Holt (1957), α=0.2, β=0.1, init l₁=y₁, b₁=y₂−y₁: the recursion
    // runs per series as ONE codegen'd aggregate() fold over the
    // calendar-bounded daily array (no UDF, no driver loop, no
    // per-step Catalyst replanning — the q52 series-matrix shape), so
    // 10⁶ series smooth in parallel with nothing but (key, array) in
    // flight. Every step is a fixed association of correctly-rounded
    // double ops, so the DuckDB oracle replays the identical recursion
    // as a recursive CTE — cross-algorithm, bit-for-bit.
    Q("q145_holt_forecast",
      """WITH RECURSIVE pd AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(value) AS val
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT user_id, val,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM pd),
        |nn AS (SELECT user_id, COUNT(*) AS n FROM d GROUP BY 1),
        |r AS (
        |  SELECT d1.user_id, 1 AS i, d1.val AS l, d2.val - d1.val AS b
        |  FROM d d1 JOIN d d2 ON d2.user_id = d1.user_id AND d1.rn = 1 AND d2.rn = 2
        |  UNION ALL
        |  SELECT r.user_id, r.i + 1,
        |    CAST(0.2 AS DOUBLE) * d.val + CAST(0.8 AS DOUBLE) * (r.l + r.b),
        |    CAST(0.1 AS DOUBLE) * ((CAST(0.2 AS DOUBLE) * d.val
        |        + CAST(0.8 AS DOUBLE) * (r.l + r.b)) - r.l)
        |      + CAST(0.9 AS DOUBLE) * r.b
        |  FROM r JOIN d ON d.user_id = r.user_id AND d.rn = r.i + 1),
        |fin AS (SELECT r.user_id, r.l, r.b
        |  FROM r JOIN nn ON nn.user_id = r.user_id AND r.i = nn.n)
        |SELECT user_id, CAST(h AS BIGINT) AS h, l AS level, b AS trend,
        |  l + CAST(h AS DOUBLE) * b AS yhat
        |FROM fin, range(1, 8) t(h)
        |ORDER BY user_id, h""".stripMargin) { (s, dir) =>
      val perDay = events(s, dir)
        .groupBy(col("user_id"), eventDay.as("day"))
        .agg(davg(col("value")).as("val"))
      val ser = perDay.groupBy("user_id")
        .agg(expr("transform(array_sort(collect_list(struct(day, val))), x -> x.val)")
          .as("vs"))
        .filter(size(col("vs")) >= 2)
      ser.withColumn("st", graft.ts.Smooth.holt(col("vs"), alpha = 0.2, beta = 0.1))
        .select(col("user_id"), col("st"),
          explode(sequence(lit(1L), lit(7L))).as("h"))
        .select(col("user_id"), col("h"),
          col("st.l").as("level"), col("st.b").as("trend"),
          (col("st.l") + col("h").cast("double") * col("st.b")).as("yhat"))
        .orderBy("user_id", "h")
    },

    // ---- CUSUM changepoint monitoring (per-series drift alarms) ----
    // Page (1954), two-sided, k=0.5σ allowance, h=4σ threshold: the
    // per-user daily series standardizes against its own exact
    // (grid-captured) mean/σ, then the alarm recursion runs as the
    // same codegen'd aggregate() fold as q145 — per-series sequential
    // state, corpus-parallel execution. The oracle replays mean/σ as
    // plain exact SQL aggregates and the recursion as a recursive CTE
    // carrying (hi, lo, alarm bookkeeping) — bit-for-bit.
    Q("q146_cusum_alarms",
      """WITH RECURSIVE pd AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(value) AS val
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT user_id, COUNT(*) AS n,
        |    CAST(SUM(CAST(ROUND(val * 1000000.0, 0) AS DECIMAL(30,0))) AS DOUBLE)
        |      / 1000000.0 / COUNT(val) AS mean,
        |    CAST(SUM(CAST(ROUND((val * val) * 1000000.0, 0) AS DECIMAL(30,0))) AS DOUBLE)
        |      / 1000000.0 / COUNT(val * val) AS msq
        |  FROM pd GROUP BY 1),
        |d AS (SELECT user_id, val,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM pd),
        |b AS (SELECT user_id, n, mean, sqrt(msq - mean * mean) AS stdv FROM st
        |  WHERE n >= 2 AND msq - mean * mean > 0),
        |r AS (
        |  SELECT user_id, n, mean, stdv, 0 AS i,
        |    CAST(0.0 AS DOUBLE) AS hi, CAST(0.0 AS DOUBLE) AS lo,
        |    CAST(0 AS BIGINT) AS n_alarms, CAST(-1 AS BIGINT) AS first_alarm,
        |    CAST(0.0 AS DOUBLE) AS max_stat
        |  FROM b
        |  UNION ALL
        |  SELECT q.user_id, q.n, q.mean, q.stdv, q.i, q.hi, q.lo,
        |    q.n_alarms + CASE WHEN q.hi > CAST(4.0 AS DOUBLE)
        |        OR q.lo > CAST(4.0 AS DOUBLE)
        |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END,
        |    CASE WHEN (q.hi > CAST(4.0 AS DOUBLE) OR q.lo > CAST(4.0 AS DOUBLE))
        |        AND q.first_alarm = -1
        |      THEN CAST(q.i AS BIGINT) ELSE q.first_alarm END,
        |    GREATEST(q.max_stat, q.hi, q.lo)
        |  FROM (SELECT r.user_id, r.n, r.mean, r.stdv, r.i + 1 AS i,
        |      GREATEST(CAST(0.0 AS DOUBLE),
        |        r.hi + (d.val - r.mean) / r.stdv - CAST(0.5 AS DOUBLE)) AS hi,
        |      GREATEST(CAST(0.0 AS DOUBLE),
        |        r.lo - (d.val - r.mean) / r.stdv - CAST(0.5 AS DOUBLE)) AS lo,
        |      r.n_alarms, r.first_alarm, r.max_stat
        |    FROM r JOIN d ON d.user_id = r.user_id AND d.rn = r.i + 1) q)
        |SELECT user_id, CAST(n AS BIGINT) AS n_days, n_alarms, first_alarm,
        |  max_stat
        |FROM r WHERE i = n ORDER BY user_id""".stripMargin) { (s, dir) =>
      val perDay = events(s, dir)
        .groupBy(col("user_id"), eventDay.as("day"))
        .agg(davg(col("value")).as("val"))
      val ser = perDay.groupBy("user_id").agg(
        count(lit(1)).as("n"),
        Exact.gavg(col("val")).as("mean"),
        Exact.gavg(col("val") * col("val")).as("msq"),
        expr("transform(array_sort(collect_list(struct(day, val))), x -> x.val)")
          .as("vs"))
      val varc = col("msq") - col("mean") * col("mean")
      val st = ser.filter(col("n") >= 2 && varc > 0)
        .withColumn("stdv", sqrt(varc))
        .withColumn("zs", expr("transform(vs, y -> (y - mean) / stdv)"))
        .withColumn("st", graft.ts.Smooth.cusum(col("zs"), k = 0.5, h = 4.0))
      st.select(col("user_id"), col("n").as("n_days"),
          col("st.n_alarms").as("n_alarms"),
          col("st.first_alarm").as("first_alarm"),
          col("st.max_stat").as("max_stat"))
        .orderBy("user_id")
    },

    // ---- blocked time-series CV (W8) ----
    Q("q27_blocked_cv",
      """WITH r AS (SELECT event_id,
        |    ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM events),
        |f AS (SELECT event_id, CAST(FLOOR(rn * 5 / n) AS INT) AS fold FROM r),
        |v AS (SELECT event_id, fold,
        |    ROW_NUMBER() OVER (PARTITION BY fold ORDER BY event_id) AS rnf,
        |    COUNT(*) OVER (PARTITION BY fold) AS nf
        |  FROM f)
        |SELECT fold, (rnf > nf - CEIL(nf * 0.2)) AS is_val,
        |  COUNT(*) AS n, MIN(event_id) AS min_id, MAX(event_id) AS max_id
        |FROM v
        |GROUP BY fold, is_val
        |ORDER BY fold, is_val""".stripMargin) { (s, dir) =>
      Splits.blockedFolds(events(s, dir).select("event_id"), Seq("event_id"), 5, 0.2)
        .groupBy("fold", "is_val")
        .agg(count(lit(1)).as("n"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy("fold", "is_val")
    },

    // ---- positional 85/15 split (W9) ----
    Q("q28_split",
      """WITH r AS (SELECT event_id,
        |    ROW_NUMBER() OVER (ORDER BY event_id) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM events)
        |SELECT (rn <= FLOOR(n * 0.85)) AS is_train,
        |  COUNT(*) AS n, MIN(event_id) AS min_id, MAX(event_id) AS max_id
        |FROM r
        |GROUP BY 1
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      Splits.positionalSplit(events(s, dir).select("event_id"), Seq("event_id"), 0.85)
        .groupBy("is_train")
        .agg(count(lit(1)).as("n"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy("is_train")
    },

    // ---- additive seasonal decomposition (M5) ----
    Q("q29_seasonal",
      s"""WITH daily AS ($dailySql),
        |t AS (SELECT day, val,
        |    CAST(SUM(CAST(ROUND(val * 1000000.0, 0) AS DECIMAL(30,0))) OVER wc AS DOUBLE)
        |      / 1000000.0 / COUNT(val) OVER wc AS trend,
        |    CAST(DATEDIFF('day', DATE '2024-01-01', day) % 7 AS BIGINT) AS dow
        |  FROM daily
        |  WINDOW wc AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 7 FOLLOWING)),
        |d AS (SELECT *, val - trend AS detr FROM t),
        |ss AS (SELECT *,
        |    CAST(SUM(CAST(ROUND(detr * 1000000.0, 0) AS DECIMAL(30,0))) OVER (PARTITION BY dow) AS DOUBLE)
        |      / 1000000.0 / COUNT(detr) OVER (PARTITION BY dow) AS seasonal
        |  FROM d)
        |SELECT STRFTIME(day, '%Y-%m-%d') AS day, val, trend, dow, seasonal,
        |  val - trend - seasonal AS resid
        |FROM ss
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      graft.ts.Decompose.seasonalAdditive(
          dailySeries(s, dir).drop("n_events"), "day", "val", 7, 7)
        .withColumn("day", date_format(col("day"), iso))
        .orderBy("day")
    },

    // ---- naive-forecast error metrics (A11) ----
    Q("q33_forecast_metrics",
      s"""WITH daily AS ($dailySql),
        |p AS (SELECT day, val, lag(val, 1) OVER (ORDER BY day) AS pred FROM daily)
        |SELECT COUNT(pred) AS n,
        |  CAST(SUM(CAST(ROUND(ABS(val - pred) * 1000000.0, 0) AS DECIMAL(30,0))) AS DOUBLE)
        |    / 1000000.0 / COUNT(pred) AS mae,
        |  CAST(SUM(CAST(ROUND((val - pred) * (val - pred) * 1000000.0, 0) AS DECIMAL(30,0))) AS DOUBLE)
        |    / 1000000.0 / COUNT(pred) AS mse,
        |  CAST(SUM(CASE WHEN val <> 0
        |      THEN CAST(ROUND(ABS((val - pred) / val) * 1000000.0, 0) AS DECIMAL(30,0)) END) AS DOUBLE)
        |    / 1000000.0 / COUNT(CASE WHEN val <> 0 THEN (val - pred) / val END) AS mape
        |FROM p""".stripMargin) { (s, dir) =>
      val daily = dailySeries(s, dir).drop("n_events")
      val p = Lags.withLags(daily, "val", Seq("day"), Seq(1))
        .withColumnRenamed("val_lag1", "pred")
      graft.ts.Metrics.regressionMetrics(p, "val", "pred")
    },

    // ---- month resample min/max (A5) ----
    Q("q34_resample_minmax",
      """SELECT STRFTIME(DATE_TRUNC('month', CAST(ts AS DATE)), '%Y-%m-%d') AS mon,
        |  STRFTIME(MIN(CAST(ts AS DATE)), '%Y-%m-%d') AS first_day,
        |  STRFTIME(MAX(CAST(ts AS DATE)), '%Y-%m-%d') AS last_seen,
        |  COUNT(*) AS n
        |FROM events
        |GROUP BY 1
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      events(s, dir)
        .groupBy(date_format(eventMonth, iso).as("mon"))
        .agg(
          date_format(min(eventDay), iso).as("first_day"),
          date_format(max(eventDay), iso).as("last_seen"),
          count(lit(1)).as("n"))
        .orderBy("mon")
    },

    // ---- month-end resample mean (A6) ----
    Q("q35_monthend_mean",
      """SELECT STRFTIME(LAST_DAY(CAST(ts AS DATE)), '%Y-%m-%d') AS month_end,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(value) AS avg_v,
        |  COUNT(*) AS n
        |FROM events
        |GROUP BY 1
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      events(s, dir)
        .groupBy(date_format(last_day(eventDay), iso).as("month_end"))
        .agg(davg(col("value")).as("avg_v"), count(lit(1)).as("n"))
        .orderBy("month_end")
    },

    // ---- flagship: proportional disaggregation (M24 = A2+J3+W3+F12) ----
    Q("q30_disaggregate", Disaggregate.oracleSql)(Disaggregate.query),

    // ---- many-series seasonal decomposition (M5 partitioned by key) ----
    Q("q51_seasonal_by_series",
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(value) AS val
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, day, val,
        |    CAST(SUM(CAST(ROUND(val * 1000000.0, 0) AS DECIMAL(30,0))) OVER wc AS DOUBLE)
        |      / 1000000.0 / COUNT(val) OVER wc AS trend,
        |    CAST(DATEDIFF('day', DATE '2024-01-01', day) % 7 AS BIGINT) AS dow
        |  FROM daily
        |  WINDOW wc AS (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |d AS (SELECT *, val - trend AS detr FROM t),
        |ss AS (SELECT *,
        |    CAST(SUM(CAST(ROUND(detr * 1000000.0, 0) AS DECIMAL(30,0))) OVER (PARTITION BY user_id, dow) AS DOUBLE)
        |      / 1000000.0 / COUNT(detr) OVER (PARTITION BY user_id, dow) AS seasonal
        |  FROM d)
        |SELECT user_id, STRFTIME(day, '%Y-%m-%d') AS day, val, trend, dow, seasonal,
        |  val - trend - seasonal AS resid
        |FROM ss
        |ORDER BY user_id, day""".stripMargin) { (s, dir) =>
      val perUser = events(s, dir)
        .groupBy(col("user_id"), eventDay.as("day"))
        .agg(davg(col("value")).as("val"))
      graft.ts.Decompose.seasonalAdditive(perUser, "day", "val", 3, 7,
          partition = Seq("user_id"))
        .withColumn("day", date_format(col("day"), iso))
        .orderBy("user_id", "day")
    },

    // ---- sliding-window sequence extraction (W7) ----
    Q("q64_sequences",
      s"""WITH daily AS ($dailySql),
        |r AS (SELECT day, val, ROW_NUMBER() OVER (ORDER BY day) AS rn,
        |    LAG(val, 3) OVER (ORDER BY day) AS l3,
        |    LAG(val, 2) OVER (ORDER BY day) AS l2,
        |    LAG(val, 1) OVER (ORDER BY day) AS l1,
        |    LEAD(val, 1) OVER (ORDER BY day) AS nxt
        |  FROM daily)
        |SELECT STRFTIME(day, '%Y-%m-%d') AS day,
        |  CAST(LEAST(rn, 4) AS BIGINT) AS seq_len,
        |  COALESCE(l3, l2, l1, val) AS seq_first,
        |  val AS seq_last, nxt AS next_val
        |FROM r ORDER BY 1""".stripMargin) { (s, dir) =>
      val daily = dailySeries(s, dir).drop("n_events")
      graft.ops.Lags.withSequences(daily, "val", Seq("day"), seqLen = 4)
        .select(
          date_format(col("day"), iso).as("day"),
          size(col("val_seq")).cast("long").as("seq_len"),
          element_at(col("val_seq"), 1).as("seq_first"),
          element_at(col("val_seq"), -1).as("seq_last"),
          col("val_next").as("next_val"))
        .orderBy("day")
    },

    // ---- positional (index) join (J6) ----
    Q("q65_positional_join",
      s"""WITH daily AS ($dailySql),
        |a AS (SELECT day, val, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily),
        |b AS (SELECT day AS rday, val AS rval,
        |    ROW_NUMBER() OVER (ORDER BY day DESC) AS rn FROM daily)
        |SELECT STRFTIME(a.day, '%Y-%m-%d') AS day, a.val,
        |  STRFTIME(b.rday, '%Y-%m-%d') AS rday, b.rval
        |FROM a JOIN b USING (rn)
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      val daily = dailySeries(s, dir).drop("n_events")
      val rev = daily.select(col("day").as("rday"), col("val").as("rval"))
      graft.ops.Splits.positionalJoin(
          daily, Seq(col("day")), rev, Seq(col("rday").desc))
        .select(date_format(col("day"), iso).as("day"), col("val"),
          date_format(col("rday"), iso).as("rday"), col("rval"))
        .orderBy("day")
    },

    // ---- backward as-of join (time-series extension; DuckDB native ASOF) ----
    Q("q71_asof_join",
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS rday,
        |    CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(value) AS uval
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_id, user_id, CAST(ts AS DATE) AS day FROM events
        |      WHERE event_id % 7 = 0)
        |SELECT l.event_id, l.user_id, STRFTIME(l.day, '%Y-%m-%d') AS day, d.uval
        |FROM l ASOF JOIN daily d ON l.user_id = d.user_id AND l.day >= d.rday
        |ORDER BY l.event_id""".stripMargin) { (s, dir) =>
      val perUser = events(s, dir)
        .groupBy(col("user_id"), eventDay.as("rday"))
        .agg(davg(col("value")).as("uval"))
      val l = events(s, dir).filter(col("event_id") % 7 === 0)
        .select(col("event_id"), col("user_id"), eventDay.as("day"))
      graft.ops.AsOf.asofJoin(l, perUser, "user_id", "day", "rday", Seq("uval"))
        .select(col("event_id"), col("user_id"),
          date_format(col("day"), iso).as("day"), col("uval"))
        .orderBy("event_id")
    },

    // ---- gap-based sessionization (time-series extension) ----
    Q("q72_sessionize",
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS tns FROM events),
        |s AS (SELECT *, CASE WHEN lag(tns) OVER w IS NULL THEN 0
        |        WHEN tns - lag(tns) OVER w > 3600000000000 THEN 1 ELSE 0 END AS is_new
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id)),
        |g AS (SELECT user_id, event_id,
        |        SUM(is_new) OVER (PARTITION BY user_id ORDER BY tns, event_id
        |          ROWS UNBOUNDED PRECEDING) AS session_id
        |      FROM s)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  COUNT(*) AS n_events, MIN(event_id) AS first_event, MAX(event_id) AS last_event
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      // ts is the raw nanosecond long; gap = 1h in ns
      graft.ops.AsOf.sessionize(events(s, dir), "user_id", "ts",
          gap = 3600L * 1000000000L, tieBreak = Seq("event_id"))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("first_event"),
          max(col("event_id")).as("last_event"))
        .orderBy("user_id", "session_id")
    },

    // ---- salted skew join == plain join (hot-key spreading, oracle) ----
    // The static skew fix for hot fact keys: deterministic salt from
    // event_id spreads each user over 8 subtasks, the per-user dim
    // replicates 8x, and the aggregate must equal DuckDB's PLAIN join —
    // an independent-engine proof that salting changes placement, never
    // results. (The in-suite twin is the ParSpec/TextDedupSpec equality
    // test; this pins it against a second engine on real data.)
    Q("q127_salted_join",
      """WITH dim AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS u_n
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(30,6))) AS DOUBLE) AS sum_v,
        |  CAST(SUM(d.u_n) AS BIGINT) AS sum_un
        |FROM events e JOIN dim d USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val ev = events(s, dir)
      val dim = ev.groupBy("user_id").agg(count(lit(1)).as("u_n"))
      graft.ops.Skew.saltedJoin(
          ev.select(col("event_id"), col("user_id"),
            col("event_type"), col("value")),
          dim, "user_id", salts = 8, saltExpr = Some(col("event_id")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_v"),
          sum(col("u_n")).as("sum_un"))
        .orderBy("event_type")
    },

    // ---- GLOBAL two-wave ffill/bfill (W4), oracle ----
    // The unbounded global fill that an empty-partition window would
    // funnel through ONE task, run instead as Fills.globalFill's
    // two-wave scan (range-partition + per-partition carry-outs + a
    // driver prefix scan + a narrow broadcast-carry fill — every wave
    // parallel). The oracle replays it as the single-window IGNORE
    // NULLS form, so the hash compare proves the distributed carry
    // protocol equals the semantic definition on real data. Values are
    // raw parquet doubles carried verbatim — no arithmetic, exact.
    Q("q152_global_fill",
      """WITH e AS (SELECT event_id,
        |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        |  FROM events)
        |SELECT event_id,
        |  last_value(v IGNORE NULLS) OVER (ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill,
        |  first_value(v IGNORE NULLS) OVER (ORDER BY event_id
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_bfill
        |FROM e ORDER BY event_id""".stripMargin) { (s, dir) =>
      val e = events(s, dir).select(
        col("event_id"),
        when(col("event_type") === "error", lit(null).cast("double"))
          .otherwise(col("value")).as("v_ffill"),
        when(col("event_type") === "error", lit(null).cast("double"))
          .otherwise(col("value")).as("v_bfill"))
      val ff = graft.ops.Fills.globalFill(
        e, Seq("v_ffill"), Seq(col("event_id")), backward = false)
      graft.ops.Fills.globalFill(
          ff, Seq("v_bfill"), Seq(col("event_id")), backward = true)
        .select("event_id", "v_ffill", "v_bfill")
        .orderBy("event_id")
    },

    // ---- sequential funnel (view → click → purchase) ----
    // The product-analytics staple the engine lacked: per user, the
    // FIRST view, the first click strictly after it, the first purchase
    // strictly after that — stage timestamps chain, so a click before
    // the first view never counts. Each stage is one filtered
    // aggregate + an equi-join on user_id (hash-partitioned — no
    // windows, no per-user event collection); the 4-row summary joins
    // itself for stage-over-stage conversion. Timestamp comparisons run
    // on the normalized ns longs (Spark) and raw timestamps (DuckDB) —
    // order-isomorphic, and no ts is ever output (the Tables contract).
    // Synthetic users perform every type repeatedly and all fully
    // convert, so planted drop-off users (the q149/q165 pattern)
    // exercise the chain: a click BEFORE the first view must not count
    // (-11), a purchase between view and click must not count (-12),
    // only the in-order chain reaches stage 3 (-13), a lone purchase
    // reaches no stage (-14).
    Q("q176_funnel",
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |  UNION ALL SELECT * FROM (VALUES
        |    (CAST(-11 AS BIGINT), TIMESTAMP '2024-01-05 10:00:00', 'click'),
        |    (CAST(-11 AS BIGINT), TIMESTAMP '2024-01-05 11:00:00', 'view'),
        |    (CAST(-12 AS BIGINT), TIMESTAMP '2024-01-05 10:00:00', 'view'),
        |    (CAST(-12 AS BIGINT), TIMESTAMP '2024-01-05 11:00:00', 'purchase'),
        |    (CAST(-12 AS BIGINT), TIMESTAMP '2024-01-05 12:00:00', 'click'),
        |    (CAST(-13 AS BIGINT), TIMESTAMP '2024-01-05 10:00:00', 'view'),
        |    (CAST(-13 AS BIGINT), TIMESTAMP '2024-01-05 11:00:00', 'click'),
        |    (CAST(-13 AS BIGINT), TIMESTAMP '2024-01-05 12:00:00', 'purchase'),
        |    (CAST(-14 AS BIGINT), TIMESTAMP '2024-01-05 10:00:00', 'purchase'))
        |    v(user_id, ts, event_type)),
        |a AS (SELECT user_id, MIN(ts) AS ta FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |b AS (SELECT e.user_id, MIN(e.ts) AS tb FROM e JOIN a USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > a.ta GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.ts) AS tc FROM e JOIN b USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > b.tb GROUP BY 1),
        |s AS (SELECT 0 AS stage, 'all_users' AS name,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM e
        |  UNION ALL SELECT 1, 'view', CAST(COUNT(*) AS BIGINT) FROM a
        |  UNION ALL SELECT 2, 'view>click', CAST(COUNT(*) AS BIGINT) FROM b
        |  UNION ALL SELECT 3, 'view>click>purchase', CAST(COUNT(*) AS BIGINT) FROM c)
        |SELECT CAST(s.stage AS BIGINT) AS stage, s.name, s.n_users,
        |  CASE WHEN p.n_users IS NULL THEN CAST(1.0 AS DOUBLE)
        |       WHEN p.n_users = 0 THEN CAST(0.0 AS DOUBLE)
        |       ELSE CAST(s.n_users AS DOUBLE) / CAST(p.n_users AS DOUBLE) END
        |    AS conversion
        |FROM s LEFT JOIN s p ON p.stage = s.stage - 1
        |ORDER BY stage""".stripMargin) { (s, dir) =>
      import s.implicits._
      val planted = Seq(
        (-11L, 1704448800000000000L, "click"),
        (-11L, 1704452400000000000L, "view"),
        (-12L, 1704448800000000000L, "view"),
        (-12L, 1704452400000000000L, "purchase"),
        (-12L, 1704456000000000000L, "click"),
        (-13L, 1704448800000000000L, "view"),
        (-13L, 1704452400000000000L, "click"),
        (-13L, 1704456000000000000L, "purchase"),
        (-14L, 1704448800000000000L, "purchase"))
        .toDF("user_id", "ts", "event_type")
      val e = events(s, dir).select("user_id", "ts", "event_type")
        .unionByName(planted)
      val a = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("ta"))
      val b = e.filter(col("event_type") === "click").join(a, "user_id")
        .filter(col("ts") > col("ta"))
        .groupBy("user_id").agg(min(col("ts")).as("tb"))
      val c = e.filter(col("event_type") === "purchase").join(b, "user_id")
        .filter(col("ts") > col("tb"))
        .groupBy("user_id").agg(min(col("ts")).as("tc"))
      val stages =
        e.agg(countDistinct(col("user_id")).as("n_users"))
          .select(lit(0L).as("stage"), lit("all_users").as("name"), col("n_users"))
        .unionByName(a.agg(count(lit(1)).as("n_users"))
          .select(lit(1L).as("stage"), lit("view").as("name"), col("n_users")))
        .unionByName(b.agg(count(lit(1)).as("n_users"))
          .select(lit(2L).as("stage"), lit("view>click").as("name"), col("n_users")))
        .unionByName(c.agg(count(lit(1)).as("n_users"))
          .select(lit(3L).as("stage"), lit("view>click>purchase").as("name"),
            col("n_users")))
      val prev = stages.select((col("stage") + 1).as("stage"),
        col("n_users").as("prev_users"))
      stages.join(broadcast(prev), Seq("stage"), "left")
        .withColumn("conversion",
          when(col("prev_users").isNull, lit(1.0))
            .when(col("prev_users") === 0, lit(0.0))
            .otherwise(col("n_users").cast("double")
              / col("prev_users").cast("double")))
        .select("stage", "name", "n_users", "conversion")
        .orderBy("stage")
    },

    // ---- retention cohort table ----
    // The second analytics staple: users cohorted by first-event month,
    // tracked by distinct activity in each subsequent month; retention
    // = active / cohort size. Cohort assignment is one min-aggregate
    // per user; activity is a distinct (user, month) frame; both joins
    // hash-partition on user_id and the final grid is
    // |cohorts|×|offsets| rows — the whole table is two
    // map-side-combined aggregates regardless of event volume.
    Q("q177_retention_cohorts",
      """WITH ev AS (SELECT user_id, ts FROM events
        |  UNION ALL SELECT * FROM (VALUES
        |    (CAST(-21 AS BIGINT), TIMESTAMP '2024-01-05 10:00:00'),
        |    (CAST(-21 AS BIGINT), TIMESTAMP '2024-02-15 12:00:00'),
        |    (CAST(-21 AS BIGINT), TIMESTAMP '2024-03-10 09:30:00'),
        |    (CAST(-22 AS BIGINT), TIMESTAMP '2024-02-15 12:00:00'),
        |    (CAST(-22 AS BIGINT), TIMESTAMP '2024-03-10 09:30:00'),
        |    (CAST(-23 AS BIGINT), TIMESTAMP '2024-01-05 10:00:00'),
        |    (CAST(-23 AS BIGINT), TIMESTAMP '2024-03-10 09:30:00'))
        |    v(user_id, ts)),
        |fm AS (SELECT user_id,
        |    DATE_TRUNC('month', MIN(CAST(ts AS DATE))) AS cohort FROM ev
        |  GROUP BY 1),
        |act AS (SELECT DISTINCT user_id,
        |    DATE_TRUNC('month', CAST(ts AS DATE)) AS mth FROM ev),
        |j AS (SELECT act.user_id, fm.cohort,
        |    CAST(date_diff('month', fm.cohort, act.mth) AS BIGINT) AS offset_m
        |  FROM act JOIN fm USING (user_id)),
        |g AS (SELECT cohort, offset_m,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM j GROUP BY 1, 2),
        |cs AS (SELECT cohort, n_users AS cohort_size FROM g WHERE offset_m = 0)
        |SELECT STRFTIME(g.cohort, '%Y-%m-%d') AS cohort, g.offset_m, g.n_users,
        |  CAST(g.n_users AS DOUBLE) / CAST(cs.cohort_size AS DOUBLE) AS retention
        |FROM g JOIN cs USING (cohort)
        |ORDER BY cohort, offset_m""".stripMargin) { (s, dir) =>
      import s.implicits._
      // planted multi-month users (the q176 fixture pattern): -21 fully
      // retained Jan→Mar, -22 a Feb cohort, -23 skips Feb (offsets 0, 2)
      val plantedR = Seq(
        (-21L, 1704448800000000000L), (-21L, 1707998400000000000L),
        (-21L, 1710063000000000000L),
        (-22L, 1707998400000000000L), (-22L, 1710063000000000000L),
        (-23L, 1704448800000000000L), (-23L, 1710063000000000000L))
        .toDF("user_id", "ts")
      val ev = events(s, dir).select("user_id", "ts").unionByName(plantedR)
      val fm = ev.groupBy("user_id")
        .agg(trunc(min(eventDay), "month").as("cohort"))
      val act = ev.select(col("user_id"), trunc(eventDay, "month").as("mth"))
        .distinct()
      val g = act.join(fm, "user_id")
        .withColumn("offset_m",
          months_between(col("mth"), col("cohort")).cast("long"))
        .groupBy("cohort", "offset_m")
        .agg(countDistinct(col("user_id")).as("n_users"))
      val cs = g.filter(col("offset_m") === 0)
        .select(col("cohort"), col("n_users").as("cohort_size"))
      g.join(broadcast(cs), Seq("cohort"))
        .select(date_format(col("cohort"), iso).as("cohort"),
          col("offset_m"), col("n_users"),
          (col("n_users").cast("double") / col("cohort_size").cast("double"))
            .as("retention"))
        .orderBy("cohort", "offset_m")
    }
  )
}

/** The reference's flagship multi-operator pipeline
  * (`normalization.ipynb#11-17`): disaggregate a monthly total to daily
  * granularity proportionally to each day's share of the month's demand.
  *
  * Semantics: daily agg → monthly totals placed on the month-start day
  * only (the reference's right-outer join leaves nulls elsewhere,
  * `normalization.ipynb#16`) → forward-filled within the month (W3) →
  * ratio × total (F12). A month whose first day has no events therefore
  * has null monthly figures on every day.
  *
  * Plan shape: one window over the daily rows, partitioned by month with
  * no order (a whole-partition frame), computes the month's `min(day)`
  * and its `Exact.gsumOver` of `demand` and of `n_ev`: `mon_demand` is
  * that sum where `min(day)` is the month's first day, else null, and
  * `mon_total` likewise. That is the join-plus-ffill
  * result bit for bit (`gsumOver` is `gsum`'s decimal-exact sum) without
  * the monthly aggregate, the broadcast join on the month-start day or the
  * two fill windows: one exchange for the daily aggregate, one for the
  * window, one for the final sort.
  *
  * Scale: the window partitions by month, so there is no single-partition
  * global window; each partition holds one month's days.
  */
object Disaggregate {
  import graft.ops.Exact.{davg, gsumOver}

  def query(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(eventDay.as("day"))
      .agg(davg(col("value")).as("demand"), count(lit(1)).cast("double").as("n_ev"))
      .withColumn("mon", trunc(col("day"), "month"))
    // gsumOver: demand is a COMPUTED daily mean (see Exact.gavgOver's note
    // on cross-engine .5 ties of computed doubles)
    val m = Window.partitionBy("mon")
    val totals = daily.select(col("day"), col("demand"), col("mon"),
      min(col("day")).over(m).as("first_day"),
      gsumOver(col("demand"), m).as("m_demand"), gsumOver(col("n_ev"), m).as("m_total"))
    // the month's totals count only when its month-start day has a row
    // (J3), and then hold on every day of the month (W3)
    val onMonthStart = col("first_day") === col("mon")
    val monDemand = when(onMonthStart, col("m_demand"))
    totals.select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("demand"),
        date_format(col("mon"), "yyyy-MM-dd").as("mon"),
        monDemand.as("mon_demand"),
        (col("demand") / monDemand).as("share"),
        (when(onMonthStart, col("m_total")) * (col("demand") / monDemand)).as("disagg"))
      .orderBy("day")
  }

  val oracleSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(value) AS demand,
      |    CAST(COUNT(*) AS DOUBLE) AS n_ev
      |  FROM events GROUP BY 1),
      |d2 AS (SELECT *, DATE_TRUNC('month', day) AS mon FROM daily),
      |monthly AS (
      |  SELECT mon,
      |    CAST(SUM(CAST(ROUND(demand * 1000000.0, 0) AS DECIMAL(30,0))) AS DOUBLE)
      |      / 1000000.0 AS mon_demand,
      |    CAST(SUM(CAST(ROUND(n_ev * 1000000.0, 0) AS DECIMAL(30,0))) AS DOUBLE)
      |      / 1000000.0 AS mon_total
      |  FROM d2 GROUP BY mon),
      |joined AS (
      |  SELECT d2.*, m.mon_demand AS md, m.mon_total AS mt
      |  FROM d2 LEFT JOIN monthly m ON d2.day = m.mon),
      |filled AS (
      |  SELECT day, demand, mon,
      |    last_value(md IGNORE NULLS) OVER (PARTITION BY mon ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mon_demand,
      |    last_value(mt IGNORE NULLS) OVER (PARTITION BY mon ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mon_total
      |  FROM joined)
      |SELECT STRFTIME(day, '%Y-%m-%d') AS day, demand,
      |  STRFTIME(mon, '%Y-%m-%d') AS mon, mon_demand,
      |  demand / mon_demand AS share,
      |  mon_total * (demand / mon_demand) AS disagg
      |FROM filled
      |ORDER BY 1""".stripMargin
}
