package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.batch.MinuteAggregate
import graft.ops.Exact

import Kind.Throughput
import Shared._

/** Monitoring: alarms, drift, trend and anomaly detectors over the
  * event series. */
private[queries] object MonitorQueries {
  val all: Seq[Query] = Seq(
    // MON16 — alarm EPISODE analysis (the alert-fatigue metric beside
    // a9's point alarm): maximal runs of consecutive breached hours per
    // event_type — episode count, longest incident, and a flap ratio
    // (episodes per breached hour in bp: 10000 = pure flapping, all
    // singleton alarms; low = few sustained incidents — the number that
    // decides hysteresis/"for:" durations in an alerting config). The
    // d22 islands idiom on the monitoring axis: lag-detected starts +
    // running sum over ONE per-type hourly sort (hours-sized relation).
    Query("mon16_alarm_episodes", Throughput, (s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(max(col("value")).as("mx"))
        .withColumn("breach", (col("mx") >= 18.0).cast("int"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val eps = hourly
        .withColumn("starts", (col("breach") === 1 &&
          lag(col("breach"), 1, 0).over(w) === 0).cast("long"))
        .withColumn("episode", sum(col("starts")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("breach") === 1)
        .groupBy(col("event_type"), col("episode"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_episodes"),
          max(col("len")).as("longest_episode"))
      hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          sum(col("breach")).cast("long").as("n_breach_hours"))
        .join(eps, Seq("event_type"), "left")
        .select(col("event_type"), col("n_hours"), col("n_breach_hours"),
          coalesce(col("n_episodes"), lit(0L)).as("n_episodes"),
          coalesce(col("longest_episode"), lit(0L)).as("longest_episode"))
        .withColumn("flap_bp", expr("""CASE WHEN n_breach_hours = 0 THEN NULL
          ELSE n_episodes * 10000 div n_breach_hours END"""))
    },
      // Exact KS by cross-multiplication over the pooled value grid — the
      // naive relational statement; no windowed corpus, no doubles.
      // Mirrors mon16: same hourly max/threshold, the same lag-start +
      // cumsum islands, the same left-join zeros.
      """WITH h AS (SELECT event_type,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
        |    CASE WHEN MAX(value) >= 18.0 THEN 1 ELSE 0 END AS breach
        |  FROM events GROUP BY 1, 2),
        |f AS (SELECT event_type, h, breach,
        |    CASE WHEN breach = 1 AND COALESCE(lag(breach) OVER (
        |      PARTITION BY event_type ORDER BY h), 0) = 0
        |    THEN 1 ELSE 0 END AS starts
        |  FROM h),
        |i AS (SELECT event_type, breach,
        |    SUM(starts) OVER (PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS episode
        |  FROM f),
        |e AS (SELECT event_type, episode, COUNT(*) AS len
        |      FROM i WHERE breach = 1 GROUP BY 1, 2),
        |g AS (SELECT event_type, COUNT(*) AS n_hours,
        |      CAST(SUM(breach) AS BIGINT) AS n_breach_hours FROM h GROUP BY 1),
        |a AS (SELECT event_type, COUNT(*) AS n_episodes,
        |      CAST(MAX(len) AS BIGINT) AS longest_episode FROM e GROUP BY 1)
        |SELECT g.event_type, g.n_hours, g.n_breach_hours,
        |  COALESCE(a.n_episodes, 0) AS n_episodes,
        |  COALESCE(a.longest_episode, 0) AS longest_episode,
        |  CASE WHEN g.n_breach_hours = 0 THEN NULL
        |       ELSE COALESCE(a.n_episodes, 0) * 10000 // g.n_breach_hours
        |  END AS flap_bp
        |FROM g LEFT JOIN a USING (event_type)""".stripMargin),

    // MON2 — EWMA drift metric per user (the exponential smoothing a
    // monitoring loop runs beside a9's threshold alarm): closed form of
    // y_n = α·x_n + (1−α)·y_{n−1} with α = 0.5 — chosen deliberately so
    // every coefficient is a power of two, EXACTLY representable, making
    // pow() exactly rounded on both engines (no libm-ULP exposure, unlike
    // a generic α). Per-term DECIMAL(30,10) truncation before the exact
    // sum (t9 contract) makes the reduction order-independent; ordering
    // ties break on event_id. Per-key windows are the bounded unit of
    // order — the same shape as o9's ranking.
    Query("mon2_ewma", Throughput, (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wAll = Window.partitionBy(col("user_id"))
      ev(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("coef",
          when(col("rn") === 1, pow(lit(0.5), col("n") - 1))
            .otherwise(lit(0.5) * pow(lit(0.5), col("n") - col("rn"))))
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("n_events"),
          sum((col("coef") * col("value")).cast("decimal(30,10)"))
            .cast("double").as("ewma"))
        .select(col("user_id"), col("n_events"), Exact.fmt(col("ewma"), 4).as("ewma_r"))
    },
      // α=0.5 EWMA: power-of-two coefficients make pow exactly rounded on
      // both engines; per-term decimal truncation (t9 contract) before the
      // exact sum.
      """WITH r AS (SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM events),
        |t AS (SELECT user_id, n,
        |    CASE WHEN rn = 1 THEN pow(CAST('0.5' AS DOUBLE), n - 1)
        |         ELSE CAST('0.5' AS DOUBLE) * pow(CAST('0.5' AS DOUBLE), n - rn)
        |    END * value AS term
        |  FROM r)
        |SELECT user_id, MAX(n) AS n_events,
        |  printf('%.4f', CAST(SUM(CAST(term AS DECIMAL(30,10))) AS DOUBLE)) AS ewma_r
        |FROM t GROUP BY 1""".stripMargin),

    // A18 — ordered funnel (view → click-after-view → purchase-after-
    // click): the sequential pattern query of event analytics. Each stage
    // is "min time of the next step STRICTLY AFTER the previous stage's
    // time" — three user-keyed narrow joins/aggregations, no window, no
    // per-row state; every comparison is integer micros. Users who never
    // viewed report step 0 via the left-join spine over all users.
    // MON15 — rolling-origin forecast backtest (the eval harness the
    // forecasting family plugs into): at every origin day t the
    // one-step-ahead prediction is compared against the actual, for both
    // the naive (ŷ = y_{t−1}) and seasonal-naive (ŷ = y_{t−7}) baselines.
    // Every error is an exact BIGINT |Δcents| — no doubles anywhere — and
    // the per-type relation carries fold counts and MAE NUMERATORS
    // (divide-at-read, the t34 common-denominator rule). Folds where the
    // seasonal lag has no history are excluded from BOTH models, so the
    // comparison is like-for-like. One groupBy + one lag window over the
    // bounded daily spine (the mon9 "days not events" argument).
    Query("mon15_backtest", Throughput, (s, dir) => {
      val daily = ev(s, dir).select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("y"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily
        .withColumn("p_naive", lag(col("y"), 1).over(w))
        .withColumn("p_snaive", lag(col("y"), 7).over(w))
        .filter(col("p_snaive").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_folds"),
          sum(abs(col("y") - col("p_naive"))).as("mae_naive_num"),
          sum(abs(col("y") - col("p_snaive"))).as("mae_snaive_num"))
    },
      """WITH daily AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |lagged AS (SELECT event_type, y,
        |    lag(y, 1) OVER (PARTITION BY event_type ORDER BY day) AS p_naive,
        |    lag(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS p_snaive
        |  FROM daily)
        |SELECT event_type, COUNT(*) AS n_folds,
        |  CAST(SUM(abs(y - p_naive)) AS BIGINT) AS mae_naive_num,
        |  CAST(SUM(abs(y - p_snaive)) AS BIGINT) AS mae_snaive_num
        |FROM lagged WHERE p_snaive IS NOT NULL
        |GROUP BY 1""".stripMargin),

    // MON3 — per-user linear trend (OLS slope of value over days since the
    // user's first event): the drift DIRECTION metric beside mon2's level.
    // Regression as one grouped aggregation of five decimal-exact moment
    // sums (ops/Stats) — trend over 100 TB costs one narrow exchange per
    // key, the same shape as a COUNT. x centers at the per-user first
    // observation so x² keeps decimal headroom.
    Query("mon3_trend", Throughput, (s, dir) => {
      val e = ev(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("t_us"), col("value"))
      val mins = e.groupBy(col("user_id")).agg(min(col("t_us")).as("t0"))
      val pts = e.join(mins, "user_id")
        .select(col("user_id"),
          ((col("t_us") - col("t0")).cast("double") / lit(86400000000.0)).as("x"),
          col("value").as("y"))
      graft.ops.Stats.olsByGroup(pts, col("user_id"), col("x"), col("y"))
        .select(col("grp").as("user_id"), col("n"),
          Exact.fmt(col("slope"), 6).as("slope_r"),
          Exact.fmt(col("intercept"), 4).as("icept_r"))
    },
      // mon3/t14: the five decimal-exact moment sums + the mirrored
      // closed-form slope/intercept chain (intercept recomputes the slope
      // expression inline — same doubles, same rounding).
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, value FROM events),
        |m0 AS (SELECT user_id, MIN(t_us) AS t0 FROM e GROUP BY 1),
        |p AS (SELECT e.user_id,
        |        CAST(e.t_us - t0 AS DOUBLE) / CAST('86400000000' AS DOUBLE) AS x,
        |        value AS y
        |      FROM e JOIN m0 USING (user_id)),
        |mm AS (SELECT user_id, COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        |  FROM p GROUP BY 1)
        |SELECT user_id, n,
        |  printf('%.6f', (n * sxy - sx * sy) / (n * sxx - sx * sx)) AS slope_r,
        |  printf('%.4f', (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n) AS icept_r
        |FROM mm""".stripMargin),

    // MON4 — CUSUM mean-shift statistic per user (Page 1954, the k=0
    // one-sided form): S_i = cum_i − min_{j≤i} cum_j over deviations from
    // the spec'd target level — the standard drift DETECTOR beside mon2's
    // smoothed level and mon3's trend. The recursion max(0, S+dev) is not
    // window-expressible, but its closed form (running sum minus running
    // min) is — two frames over ONE per-key sort. Every term is
    // DECIMAL(30,4)-exact, so the statistic is layout- and
    // engine-independent; ordering ties break on event_id.
    Query("mon4_cusum", Throughput, (s, dir) => {
      val target = lit(BigDecimal("10.0")).cast("decimal(30,4)")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("t"), col("event_id"),
          (col("value").cast("decimal(30,4)") - target).as("dev"))
        .withColumn("cum", sum(col("dev")).over(w))
        .withColumn("stat", col("cum") - min(col("cum")).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          Exact.fmt(max(col("stat")).cast("double"), 4).as("cusum_max_r"),
          count(when(col("stat") > lit(BigDecimal("50.0")), lit(1)))
            .as("n_breach"))
    },
      // CUSUM closed form: running sum − running min of DECIMAL(30,4)
      // deviations; integer/decimal-exact until the final render.
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id,
        |    CAST(value AS DECIMAL(30,4)) - CAST('10.0' AS DECIMAL(30,4)) AS dev
        |  FROM events),
        |c AS (SELECT user_id, t, event_id, sum(dev) OVER w AS cum
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
        |                      ROWS UNBOUNDED PRECEDING)),
        |s AS (SELECT user_id, cum - min(cum) OVER w2 AS stat
        |  FROM c WINDOW w2 AS (PARTITION BY user_id ORDER BY t, event_id
        |                       ROWS UNBOUNDED PRECEDING))
        |SELECT user_id, COUNT(*) AS n_events,
        |  printf('%.4f', CAST(MAX(stat) AS DOUBLE)) AS cusum_max_r,
        |  COUNT(*) FILTER (WHERE stat > CAST('50.0' AS DECIMAL(30,4))) AS n_breach
        |FROM s GROUP BY 1""".stripMargin),

    // MON5 — MASE forecast-skill metric (Hyndman & Koehler 2006): the
    // scale-free complement to a5's RMSE — mean absolute error of the
    // one-step naive forecast over that of the seasonal (7-step) naive,
    // per user over the daily-sum series. Values route through
    // DECIMAL(30,4) (exact sums of exact |diffs|); the two divisions and
    // the ratio are one mirrored double chain at the end. Constant series
    // (zero seasonal error) surface null, not a division blow-up. Lags
    // step over OBSERVED days (absent days carry no row — stated
    // contract, a16's gap-fill is the dense-spine alternative).
    Query("mon5_mase", Throughput, (s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"))
        .agg(sum(col("value").cast("decimal(30,4)")).as("y"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      daily
        .withColumn("e1", abs(col("y") - lag(col("y"), 1).over(w)))
        .withColumn("e7", abs(col("y") - lag(col("y"), 7).over(w)))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("e1")).as("s1"), count(col("e1")).as("n1"),
          sum(col("e7")).as("s7"), count(col("e7")).as("n7"))
        .select(col("user_id"), col("n_days"),
          Exact.fmt(col("s1").cast("double") / col("n1"), 6).as("mae1_r"),
          Exact.fmt(col("s7").cast("double") / col("n7"), 6).as("mae7_r"),
          Exact.fmt(
            when(col("s7") =!= lit(BigDecimal(0)),
              (col("s1").cast("double") / col("n1")) /
                (col("s7").cast("double") / col("n7"))),
            6).as("mase_r"))
    },
      // MASE: decimal-exact |diff| sums, one mirrored double chain at the
      // end; constant series (zero seasonal error) yield NULL on both sides.
      """WITH daily AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    SUM(CAST(value AS DECIMAL(30,4))) AS y
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT user_id, y,
        |    abs(y - lag(y, 1) OVER w) AS e1,
        |    abs(y - lag(y, 7) OVER w) AS e7
        |  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)),
        |g AS (SELECT user_id, COUNT(*) AS n_days,
        |    SUM(e1) AS s1, COUNT(e1) AS n1, SUM(e7) AS s7, COUNT(e7) AS n7
        |  FROM l GROUP BY 1)
        |SELECT user_id, n_days,
        |  printf('%.6f', CAST(s1 AS DOUBLE) / n1) AS mae1_r,
        |  printf('%.6f', CAST(s7 AS DOUBLE) / n7) AS mae7_r,
        |  CASE WHEN s7 <> 0 THEN
        |    printf('%.6f', (CAST(s1 AS DOUBLE) / n1) / (CAST(s7 AS DOUBLE) / n7))
        |  END AS mase_r
        |FROM g""".stripMargin),

    // MON6 — seasonal-baseline anomaly counts: per (event_type, hour-of-day)
    // mean/variance baseline, rows breaching 3σ flagged — the diurnal-
    // profile complement to mon4's sequential CUSUM (a level shift at 3 am
    // is an anomaly even when the global mean is calm). The 3σ test is
    // evaluated ENTIRELY in integer units (value scaled to exact 1e-4
    // ticks): (n·x − Σv)² > 9·(n·Σv² − (Σv)²) avoids every engine-specific
    // double/decimal rounding, so the breach set is bit-identical on any
    // engine. Baseline is a ~120-row broadcast join back onto the stream —
    // at 100 TB the stats pass is one narrow partial-agg and the flagging
    // pass is map-side only.
    Query("mon6_anomaly", Throughput, (s, dir) => {
      val vi = (col("value").cast("decimal(30,4)") * lit(10000))
        .cast("decimal(38,0)")
      val e = ev(s, dir)
        .select(col("event_type"), hour(col("ts")).as("hod"), vi.as("vi"))
      val st = e.groupBy(col("event_type"), col("hod"))
        .agg(count(lit(1)).as("n"), sum(col("vi")).as("sv"),
          sum(col("vi") * col("vi")).as("sq"))
      val dev = col("n") * col("vi") - col("sv")
      e.join(broadcast(st), Seq("event_type", "hod"))
        .groupBy(col("event_type"), col("hod"), col("n"), col("sv"), col("sq"))
        .agg(count(when(dev * dev > lit(9) * (col("n") * col("sq") - col("sv") * col("sv")),
          lit(1))).as("n_anomalies"))
        .select(col("event_type"), col("hod"), col("n").as("n_events"),
          col("n_anomalies"),
          // mean reported in exact micro-units (floored), NOT a formatted
          // double: sv/n is small-denominator rational, which lands on
          // %.4f midpoints where Java (shortest-repr HALF_UP) and C printf
          // (exact expansion) legitimately disagree — e.g. 18.56375 →
          // 18.5638 vs 18.5637. Integer floor-div is engine-independent.
          expr("CAST(sv AS BIGINT) * 100 div n").as("mean_e6"))
    },
      // Seasonal 3σ breach test in exact integer ticks — mirrors the Spark
      // side term-for-term so the breach set is engine-independent.
      """WITH e AS (SELECT event_type, hour(CAST(ts AS TIMESTAMP)) AS hod,
        |    CAST(CAST(value AS DECIMAL(30,4)) * 10000 AS DECIMAL(38,0)) AS vi
        |  FROM events),
        |st AS (SELECT event_type, hod, COUNT(*) AS n, SUM(vi) AS sv,
        |    SUM(vi * vi) AS sq FROM e GROUP BY 1, 2)
        |SELECT st.event_type, st.hod, st.n AS n_events,
        |  COUNT(*) FILTER (WHERE (st.n * e.vi - st.sv) * (st.n * e.vi - st.sv)
        |                         > 9 * (st.n * st.sq - st.sv * st.sv)) AS n_anomalies,
        |  CAST(sv AS BIGINT) * 100 // st.n AS mean_e6
        |FROM e JOIN st USING (event_type, hod)
        |GROUP BY st.event_type, st.hod, st.n, st.sv, st.sq""".stripMargin),

    // MON7 — SLO error-budget burn rate, multi-window (the SRE-workbook
    // paging rule): per hour bucket, the error rate vs a 25% budget in the
    // short (1 h) and long (trailing 6 h) windows; page only when BOTH
    // burn > 1 — the long window keeps a transient spike from paging, the
    // short window keeps a recovered incident from staying paged. Every
    // decision is exact integer arithmetic (e·4 > n), rates ship as
    // floored basis points. The trailing frame runs over the HOURLY
    // relation (≤ 8.8k rows/year even at 100 TB — a single-partition
    // window over a metadata-sized spine, stated contract; the raw-event
    // pass is one partial-agged groupBy).
    Query("mon7_burn_rate", Throughput, (s, dir) => {
      val hb = ev(s, dir)
        .groupBy(expr("unix_timestamp(ts) div 3600").as("h"))
        .agg(count(lit(1)).as("n"),
          count(when(col("event_type") === "error", lit(1))).as("e"))
      val w = Window.orderBy(col("h")).rangeBetween(-5, 0)
      hb.withColumn("n6", sum(col("n")).over(w))
        .withColumn("e6", sum(col("e")).over(w))
        .select(col("h"), col("n"), col("e"),
          expr("e * 10000 div n").as("rate_bp"),
          expr("e6 * 10000 div n6").as("rate6_bp"),
          when(col("e") * lit(4) > col("n") && col("e6") * lit(4) > col("n6"),
            lit(1L)).otherwise(lit(0L)).as("page"))
    },
      // Burn-rate page decision in exact integers; trailing window over the
      // hourly spine mirrors the RANGE frame.
      """WITH hb AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
        |    COUNT(*) AS n,
        |    COUNT(*) FILTER (WHERE event_type = 'error') AS e
        |  FROM events GROUP BY 1),
        |w AS (SELECT h, n, e, SUM(n) OVER win AS n6, SUM(e) OVER win AS e6
        |  FROM hb WINDOW win AS (ORDER BY h
        |    RANGE BETWEEN 5 PRECEDING AND CURRENT ROW))
        |SELECT h, n, e, e * 10000 // n AS rate_bp,
        |  CAST(e6 * 10000 // n6 AS BIGINT) AS rate6_bp,
        |  CAST(CASE WHEN e * 4 > n AND e6 * 4 > n6 THEN 1 ELSE 0 END AS BIGINT) AS page
        |FROM w""".stripMargin),

    // MON12 — hysteresis (two-threshold) alarm: enter above hi=100, leave
    // only below lo=25 — the flap-suppressed alarm every paging system
    // runs instead of a9's single threshold. The state machine is a prefix
    // scan, but its closed form is window-expressible: mark crossings
    // (≥hi → 1, ≤lo → 0, else NULL), state = LAST crossing seen
    // (last_value IGNORE NULLS over the per-user time order), entries =
    // 0→1 state transitions via lag. Two window passes over ONE per-user
    // sort, no iteration. Per-user output: entries, rows-in-alarm, rows.
    Query("mon12_hysteresis", Throughput, (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("value") >= 100.0, 1).when(col("value") <= 25.0, 0).as("marker"))
        .withColumn("state", coalesce(
          last(col("marker"), ignoreNulls = true)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
          lit(0)))
        .withColumn("entered", (col("state") === 1 &&
          coalesce(lag(col("state"), 1).over(w), lit(0)) === 0).cast("int"))
        .groupBy(col("user_id"))
        .agg(sum(col("entered")).as("n_enter"),
          sum(col("state").cast("long")).as("n_alarm_rows"),
          count(lit(1)).as("n_rows"))
    },
      // Same closed-form state machine: last crossing marker carried
      // forward, entries = 0→1 transitions.
      """WITH m AS (SELECT user_id, ts, event_id,
        |    CASE WHEN value >= 100 THEN 1 WHEN value <= 25 THEN 0 END AS marker
        |  FROM events),
        |st AS (SELECT user_id, ts, event_id,
        |    COALESCE(last_value(marker IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS state
        |  FROM m),
        |tr AS (SELECT user_id, state,
        |    CASE WHEN state = 1 AND COALESCE(lag(state) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id), 0) = 0
        |    THEN 1 ELSE 0 END AS entered
        |  FROM st)
        |SELECT user_id, CAST(SUM(entered) AS BIGINT) AS n_enter,
        |  CAST(SUM(state) AS BIGINT) AS n_alarm_rows, COUNT(*) AS n_rows
        |FROM tr GROUP BY 1""".stripMargin),

    // MON13 — rolling MEDIAN smoother (±5-row frame per user): the robust
    // denoiser a single spike can't drag, beside mon2's EWMA (which it
    // can). Exact: the frame's values are collected and sorted per row
    // (bounded 11-element arrays — frame size is the contract, cost is
    // O(frame log frame) per row, never corpus-wide), median = the middle
    // element, or for even edge frames the same (a+b)/2 double op the
    // oracle states explicitly — NOT DuckDB's median() (quantile_cont
    // interpolates as a+(b−a)/2, a different IEEE op order).
    Query("mon13_rolling_median", Throughput, (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-5, 5)
      ev(s, dir)
        .withColumn("arr", sort_array(collect_list(col("value")).over(w)))
        .withColumn("n", size(col("arr")))
        .select(col("user_id"), col("event_id"),
          Exact.fmt(when(col("n") % 2 === 1,
              element_at(col("arr"), ((col("n") + 1) / 2).cast("int")))
            .otherwise((element_at(col("arr"), (col("n") / 2).cast("int"))
              + element_at(col("arr"), (col("n") / 2 + 1).cast("int"))) / lit(2.0)),
            4).as("med_r"))
    },
      // Same frame, same explicit element picks and the same (a+b)/2 —
      // deliberately NOT DuckDB's median()/quantile_cont (different op
      // order on even frames).
      """WITH f AS (SELECT user_id, event_id,
        |    list_sort(list(value) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)) AS arr
        |  FROM events)
        |SELECT user_id, event_id,
        |  printf('%.4f', CASE WHEN len(arr) % 2 = 1
        |    THEN arr[(len(arr) + 1) // 2]
        |    ELSE (arr[len(arr) // 2] + arr[len(arr) // 2 + 1]) / CAST(2 AS DOUBLE)
        |  END) AS med_r
        |FROM f""".stripMargin),

    // MON14 — exact two-sample Kolmogorov–Smirnov drift per event_type
    // against the 'click' reference: KS = max |F_t(x) − F_ref(x)| over the
    // pooled value grid — the bin-free companion of mon11's PSI (PSI sees
    // only what its bins resolve; KS is exact at every observed point).
    // Integer-exact end to end by cross-multiplication: the sup compares
    // |cum_t·n_ref − cum_ref·n_t| (longs), and the statistic ships as basis
    // points by integral division — no double ever reaches the max or the
    // output. Scale shape: the windowed (cumulative-count) relation is the
    // DISTINCT-VALUE grid × type count — value-space-sized (≤49k
    // two-decimal cents here), CONSTANT in corpus size; the corpus itself
    // passes through one groupBy and is never windowed.
    Query("mon14_ks_drift", Throughput, (s, dir) => {
      val e = ev(s, dir)
      val counts = e.groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("c"))
      val grid = counts.select(col("value")).distinct()
      val types = counts.select(col("event_type")).distinct()
      val full = grid.crossJoin(broadcast(types))
        .join(counts, Seq("event_type", "value"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val wCum = Window.partitionBy(col("event_type")).orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = full.withColumn("cum", sum(col("c")).over(wCum))
      val totals = counts.groupBy(col("event_type")).agg(sum(col("c")).as("n"))
      val cur = cum.join(totals, "event_type")
      val ref = cur.filter(col("event_type") === "click")
        .select(col("value"), col("cum").as("cum_ref"), col("n").as("nr"))
      cur.filter(col("event_type") =!= "click")
        .join(ref, "value")
        .groupBy(col("event_type"))
        .agg(max(abs(col("cum") * col("nr") - col("cum_ref") * col("n")))
            .as("ks_num"),
          max(col("n")).as("n_cur"), max(col("nr")).as("n_ref"))
        .select(col("event_type"), col("n_cur"), col("n_ref"),
          expr("ks_num * 10000 div (n_cur * n_ref)").as("ks_bp"))
    },
      """WITH counts AS (SELECT event_type, value, count(*) AS c
        |    FROM events GROUP BY 1, 2),
        |grid AS (SELECT DISTINCT value FROM events),
        |types AS (SELECT DISTINCT event_type FROM events),
        |filled AS (SELECT t.event_type, g.value, COALESCE(c.c, 0) AS c
        |  FROM grid g CROSS JOIN types t
        |  LEFT JOIN counts c ON c.event_type = t.event_type AND c.value = g.value),
        |cum AS (SELECT event_type, value,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM filled),
        |tot AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
        |  FROM counts GROUP BY 1),
        |cur AS (SELECT cm.event_type, cm.value, cm.cum, t.n
        |  FROM cum cm JOIN tot t USING (event_type)),
        |ref AS (SELECT value, cum AS cum_ref, n AS nr FROM cur
        |  WHERE event_type = 'click')
        |SELECT event_type, max(n) AS n_cur, max(nr) AS n_ref,
        |  CAST(max(abs(cum * nr - cum_ref * n)) * 10000
        |       // (max(n) * max(nr)) AS BIGINT) AS ks_bp
        |FROM cur JOIN ref USING (value) WHERE event_type <> 'click'
        |GROUP BY 1""".stripMargin),

    // MON1 — fleet monitoring, oracle-grade: one metrics row per user_id
    // series (per-minute mean value), naive last-observation forecast over
    // the final 5 points, RMSE + mean weighted quantile loss per key — the
    // distributed form of the reference's single-metric monitoring job
    // (custom_monitoring_metrics.py:140-169), scaled past one metric via
    // groupByKey + flatMapSortedGroups with ring-buffered per-key state.
    // Metrics rounded to 4 dp: the per-key loops sum 5 doubles sequentially,
    // the oracle sums relationally — algebraically identical, ulp-different.
    Query("mon1_fleet_metrics", Throughput, (s, dir) => {
      val series = ev(s, dir)
        .groupBy(col("user_id"), MinuteAggregate.minuteKey(col("ts")).as("m"))
        .agg((Exact.sumD(col("value"), 10) / count(lit(1))).as("v"))
      graft.monitor.MonitoringJob.runFleet(
          series, "user_id", "m", "v",
          new graft.batch.NaiveForecaster, threshold = 0.1)(s)
        .filter(col("n") > 0) // series too short to score carry NaN metrics
        .select(col("series").cast("long").as("series"),
          Exact.fmt(col("rmse"), 4).as("rmse_r"),
          Exact.fmt(col("mean_wql"), 4).as("wql_r"),
          col("n"))
    },
      // Naive forecast base = series value at position n-5; truth = last 5;
      // pinball at q ∈ {0.05, 0.5, 0.95} with weight 2/Σ|truth|. Series with
      // ≤ 5 points produce no base row and drop out, matching the Spark
      // side's n > 0 filter.
      """WITH series AS (
        |  SELECT user_id, strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS m,
        |    CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) AS v
        |  FROM events GROUP BY 1, 2
        |), idx AS (
        |  SELECT user_id, v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY m) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM series
        |), base AS (
        |  SELECT user_id, v AS b FROM idx WHERE rn = n - 5
        |), truth AS (
        |  SELECT i.user_id, i.v, b.b FROM idx i JOIN base b USING (user_id)
        |  WHERE i.rn > i.n - 5
        |)
        |SELECT user_id AS series,
        |  printf('%.4f', sqrt(sum((v-b)*(v-b)) / 5)) AS rmse_r,
        |  printf('%.4f', (
        |      sum(CASE WHEN v > b THEN CAST('0.05' AS DOUBLE)*(v-b) ELSE CAST('0.95' AS DOUBLE)*(b-v) END)
        |    + sum(CASE WHEN v > b THEN CAST('0.5' AS DOUBLE)*(v-b) ELSE CAST('0.5' AS DOUBLE)*(b-v) END)
        |    + sum(CASE WHEN v > b THEN CAST('0.95' AS DOUBLE)*(v-b) ELSE CAST('0.05' AS DOUBLE)*(b-v) END)
        |  ) * (CAST(2 AS DOUBLE) / sum(abs(v))) / 3) AS wql_r,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM truth GROUP BY 1""".stripMargin),

    // MON8 — the fleet metrics under a REAL forecaster: Holt linear-trend
    // smoothing (α = β = 1/4, exact binary) in the reference's opaque-model
    // slot, per-series driver-side recurrence at the documented model
    // boundary (runFleet's flatMapSortedGroups — executor-side per key,
    // bounded ring). Every level/trend update is a fixed-order IEEE chain,
    // so the oracle's RECURSIVE CTE reproduces the forecasts bit for bit —
    // the first suite row exercising recursive SQL on the oracle side.
    Query("mon8_holt_fleet", Throughput, (s, dir) => {
      val series = ev(s, dir)
        .groupBy(col("user_id"), MinuteAggregate.minuteKey(col("ts")).as("m"))
        .agg((Exact.sumD(col("value"), 10) / count(lit(1))).as("v"))
      graft.monitor.MonitoringJob.runFleet(
          series, "user_id", "m", "v",
          new graft.batch.HoltForecaster(0.25, 0.25), threshold = 0.1)(s)
        .filter(col("n") > 0)
        .select(col("series").cast("long").as("series"),
          Exact.fmt(col("rmse"), 4).as("rmse_r"),
          Exact.fmt(col("mean_wql"), 4).as("wql_r"),
          col("n"))
    },
      // Holt recurrence replayed as a RECURSIVE CTE: same init (l₁ = x₁,
      // b₁ = x₂ − x₁), same fixed-order update chain with string-cast double
      // literals, forecasts l + h·b; histories of length 1 carry forward.
      """WITH RECURSIVE series AS (
        |  SELECT user_id, strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS m,
        |    CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) AS v
        |  FROM events GROUP BY 1, 2
        |), idx AS (
        |  SELECT user_id, v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY m) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM series
        |), hist AS (
        |  SELECT user_id, v, rn, n - 5 AS hl FROM idx WHERE rn <= n - 5
        |), rec AS (
        |  SELECT h1.user_id, 1 AS t, h1.v AS l, h2.v - h1.v AS b, h1.hl
        |  FROM hist h1 JOIN hist h2 ON h2.user_id = h1.user_id AND h2.rn = 2
        |  WHERE h1.rn = 1 AND h1.hl >= 2
        |  UNION ALL
        |  SELECT r.user_id, r.t + 1,
        |    CAST('0.25' AS DOUBLE) * h.v + CAST('0.75' AS DOUBLE) * (r.l + r.b),
        |    CAST('0.25' AS DOUBLE) *
        |      ((CAST('0.25' AS DOUBLE) * h.v + CAST('0.75' AS DOUBLE) * (r.l + r.b)) - r.l)
        |      + CAST('0.75' AS DOUBLE) * r.b,
        |    r.hl
        |  FROM rec r JOIN hist h ON h.user_id = r.user_id AND h.rn = r.t + 1
        |  WHERE r.t + 1 <= r.hl
        |), fin AS (
        |  SELECT user_id, l, b FROM rec WHERE t = hl
        |  UNION ALL
        |  SELECT user_id, v AS l, CAST('0.0' AS DOUBLE) AS b
        |  FROM hist WHERE hl = 1
        |), truth AS (
        |  SELECT i.user_id, i.v, f.l + CAST(i.rn - (i.n - 5) AS DOUBLE) * f.b AS pr
        |  FROM idx i JOIN fin f USING (user_id)
        |  WHERE i.rn > i.n - 5
        |)
        |SELECT user_id AS series,
        |  printf('%.4f', sqrt(sum((v-pr)*(v-pr)) / 5)) AS rmse_r,
        |  printf('%.4f', (
        |      sum(CASE WHEN v > pr THEN CAST('0.05' AS DOUBLE)*(v-pr) ELSE CAST('0.95' AS DOUBLE)*(pr-v) END)
        |    + sum(CASE WHEN v > pr THEN CAST('0.5' AS DOUBLE)*(v-pr) ELSE CAST('0.5' AS DOUBLE)*(pr-v) END)
        |    + sum(CASE WHEN v > pr THEN CAST('0.95' AS DOUBLE)*(v-pr) ELSE CAST('0.05' AS DOUBLE)*(pr-v) END)
        |  ) * (CAST(2 AS DOUBLE) / sum(abs(v))) / 3) AS wql_r,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM truth GROUP BY 1""".stripMargin),

    // MON10 — ROBUST outlier quarantine via MAD (median absolute
    // deviation): the mean/σ screens (mon6's 3σ) are themselves dragged by
    // the outliers they hunt; median/MAD have a 50% breakdown point. Flag
    // |x − med| > 4.4478·MAD (3σ-equivalent under normality; the constant
    // ships as ONE literal, never derived arithmetic). Both medians are
    // exact interpolated percentiles — the a14 cross-engine parity — and
    // the per-group stats relation is metadata-sized and broadcast back.
    Query("mon10_mad_outliers", Throughput, (s, dir) => {
      val e = ev(s, dir)
      val med = e.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("med"), count(lit(1)).as("n"))
      val mad = e.join(broadcast(med), "event_type")
        .groupBy(col("event_type"))
        .agg(expr("percentile(abs(value - med), 0.5)").as("mad"))
      e.join(broadcast(med), "event_type").join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(first(col("n")).as("n"),
          Exact.fmt(first(col("med")), 4).as("med_r"),
          Exact.fmt(first(col("mad")), 4).as("mad_r"),
          count(when(abs(col("value") - col("med")) >
            expr("CAST('4.4478' AS DOUBLE)") * col("mad"), lit(1)))
            .as("n_outliers"))
    },
      """WITH med AS (SELECT event_type,
        |    quantile_cont(value, CAST('0.5' AS DOUBLE)) AS med, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |mad AS (SELECT e.event_type,
        |    quantile_cont(abs(e.value - m.med), CAST('0.5' AS DOUBLE)) AS mad
        |  FROM events e JOIN med m USING (event_type) GROUP BY 1)
        |SELECT e.event_type, m.n,
        |  printf('%.4f', m.med) AS med_r,
        |  printf('%.4f', d.mad) AS mad_r,
        |  COUNT(CASE WHEN abs(e.value - m.med) > CAST('4.4478' AS DOUBLE) * d.mad
        |        THEN 1 END) AS n_outliers
        |FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
        |GROUP BY e.event_type, m.n, m.med, d.mad""".stripMargin),

    // MON11 — Population Stability Index per event type: THE standard
    // serving-vs-training drift metric an ML monitoring loop runs over
    // feature distributions. Baseline = first 15 event-time days, current
    // = the rest (day index relative to min day — no wall clock); fixed
    // 10-bin value grid (floor(value/50) clamped to [0,9] — integer
    // binning, engine-identical); Laplace +1 smoothing so empty bins
    // contribute finitely; PSI = Σ (p−q)·ln(p/q) with ln's argument
    // assembled as ONE double division of exact integer products (every
    // product < 2^53 — bit-identical across engines) and each term
    // truncated to DECIMAL(30,10) before the exact sum (the t18 ln
    // contract). The bin spine is types × 10 literal bins (broadcast,
    // metadata-sized) so zero-count bins are present on both sides.
    Query("mon11_psi", Throughput, (s, dir) => {
      val e = ev(s, dir)
        .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      val minDay = e.agg(min(col("day")).as("d0"))
      val binned = e.crossJoin(broadcast(minDay))
        .withColumn("bin", least(greatest(
          floor(col("value") / 50).cast("int"), lit(0)), lit(9)))
        .withColumn("side", when(col("day") - col("d0") < 15, lit("base"))
          .otherwise(lit("cur")))
      val counts = binned.groupBy(col("event_type"), col("bin"))
        .agg(count(when(col("side") === "base", 1)).as("cb0"),
          count(when(col("side") === "cur", 1)).as("cc0"))
      val spine = e.select(col("event_type")).distinct()
        .crossJoin(s.range(10).select(col("id").cast("int").as("bin")))
      val full = spine.join(counts, Seq("event_type", "bin"), "left")
        .select(col("event_type"), col("bin"),
          coalesce(col("cb0"), lit(0L)).as("cb"),
          coalesce(col("cc0"), lit(0L)).as("cc"))
      val wT = Window.partitionBy(col("event_type"))
      val terms = full
        .withColumn("nb", sum(col("cb")).over(wT))
        .withColumn("nc", sum(col("cc")).over(wT))
        .withColumn("p", (col("cb") + 1).cast("double") / (col("nb") + 10).cast("double"))
        .withColumn("q", (col("cc") + 1).cast("double") / (col("nc") + 10).cast("double"))
        .withColumn("term", (col("p") - col("q")) *
          log(((col("cb") + 1) * (col("nc") + 10)).cast("double") /
            ((col("cc") + 1) * (col("nb") + 10)).cast("double")))
      terms.groupBy(col("event_type"))
        .agg(first(col("nb")).as("n_base"), first(col("nc")).as("n_cur"),
          Exact.fmt(sum(col("term").cast("decimal(30,10)")).cast("double"), 4)
            .as("psi_r"))
    },
      // Same integer binning, Laplace smoothing, and one-division ln
      // argument; terms truncated DECIMAL(30,10) before the exact sum.
      """WITH e AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    LEAST(GREATEST(CAST(floor(value / 50) AS INTEGER), 0), 9) AS bin
        |  FROM events),
        |d0 AS (SELECT MIN(day) AS d0 FROM e),
        |c AS (SELECT event_type, bin,
        |    COUNT(CASE WHEN day - (SELECT d0 FROM d0) < 15 THEN 1 END) AS cb,
        |    COUNT(CASE WHEN day - (SELECT d0 FROM d0) >= 15 THEN 1 END) AS cc
        |  FROM e GROUP BY 1, 2),
        |spine AS (SELECT DISTINCT event_type FROM e),
        |bins AS (SELECT CAST(unnest(range(0, 10)) AS INTEGER) AS bin),
        |f AS (SELECT s.event_type, b.bin,
        |    COALESCE(c.cb, 0) AS cb, COALESCE(c.cc, 0) AS cc
        |  FROM spine s CROSS JOIN bins b
        |  LEFT JOIN c ON c.event_type = s.event_type AND c.bin = b.bin),
        |t AS (SELECT event_type, cb, cc,
        |    SUM(cb) OVER (PARTITION BY event_type) AS nb,
        |    SUM(cc) OVER (PARTITION BY event_type) AS nc
        |  FROM f),
        |terms AS (SELECT event_type, nb, nc,
        |    (CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE)
        |     - CAST(cc + 1 AS DOUBLE) / CAST(nc + 10 AS DOUBLE))
        |    * ln(CAST((cb + 1) * (nc + 10) AS DOUBLE)
        |         / CAST((cc + 1) * (nb + 10) AS DOUBLE)) AS term
        |  FROM t)
        |SELECT event_type, CAST(MAX(nb) AS BIGINT) AS n_base,
        |  CAST(MAX(nc) AS BIGINT) AS n_cur,
        |  printf('%.4f', CAST(SUM(CAST(term AS DECIMAL(30,10))) AS DOUBLE)) AS psi_r
        |FROM terms GROUP BY 1""".stripMargin),

    // MON9 — seasonal-trend decomposition (STL-lite) of the hourly series:
    // trend = centered 25-hour moving average (null at the edges — partial
    // frames are surfaced, not silently averaged), seasonal = per
    // hour-of-day mean deviation, residual = the rest. The determinism
    // move: the hourly value floors onto the exact 1e-10 grid ONCE (floor
    // is engine-identical; double→DECIMAL casts round ties
    // engine-specifically — the g1 lesson) and every downstream step is
    // BIGINT arithmetic with integer division — window sums over the
    // ~720-row hourly spine (bounded: hours, not events), no format tier
    // at all.
    Query("mon9_decompose", Throughput, (s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("h"))
        .agg(floor(Exact.sumD(col("value"), 10) / count(lit(1)) * lit(1e10))
          .cast("long").as("v_e10"))
      // global window over the hourly spine (≤ 8.8k rows/year) — metadata
      val w = Window.orderBy(col("h")).rowsBetween(-12, 12)
      val withTrend = hourly
        .withColumn("fcnt", count(lit(1)).over(w))
        .withColumn("fsum", sum(col("v_e10")).over(w))
        .withColumn("trend_e10",
          when(col("fcnt") === 25, expr("fsum div 25")))
        .withColumn("dev_e10", col("v_e10") - col("trend_e10"))
        .withColumn("hod", substring(col("h"), 12, 2).cast("int"))
      val seasonal = withTrend.filter(col("trend_e10").isNotNull)
        .groupBy(col("hod"))
        .agg(expr("sum(dev_e10) div count(1)").as("seasonal_e10"))
      withTrend.join(broadcast(seasonal), Seq("hod"), "left")
        .select(col("h"), col("v_e10"), col("trend_e10"),
          col("dev_e10"), col("seasonal_e10"),
          (col("dev_e10") - col("seasonal_e10")).as("resid_e10"))
    },
      // Same 1e-10 integer grid, same 25-row centered frame (COUNT-gated
      // edges), same truncating integer division (DuckDB // and Spark div
      // both truncate toward zero — probed).
      """WITH hourly AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS h,
        |    CAST(floor(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) * 1e10)
        |      AS BIGINT) AS v_e10
        |  FROM events GROUP BY 1
        |), wf AS (
        |  SELECT h, v_e10,
        |    COUNT(*) OVER fr AS fcnt,
        |    SUM(v_e10) OVER fr AS fsum
        |  FROM hourly
        |  WINDOW fr AS (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
        |), t AS (
        |  SELECT h, v_e10,
        |    CAST(CASE WHEN fcnt = 25 THEN fsum // 25 END AS BIGINT) AS trend_e10,
        |    CAST(substr(h, 12, 2) AS INTEGER) AS hod
        |  FROM wf
        |), d AS (
        |  SELECT h, v_e10, trend_e10,
        |    CAST(v_e10 - trend_e10 AS BIGINT) AS dev_e10, hod FROM t
        |), se AS (
        |  SELECT hod, CAST(SUM(dev_e10) // COUNT(*) AS BIGINT) AS seasonal_e10
        |  FROM d WHERE trend_e10 IS NOT NULL GROUP BY 1
        |)
        |SELECT d.h, d.v_e10, d.trend_e10, d.dev_e10, se.seasonal_e10,
        |  CAST(d.dev_e10 - se.seasonal_e10 AS BIGINT) AS resid_e10
        |FROM d LEFT JOIN se USING (hod)""".stripMargin)
  )
}
