package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.batch.MinuteAggregate
import graft.ops.Exact

import Kind.Throughput
import Shared._

/** Time-series and warehouse analytics: the reference's per-minute
  * aggregate, forecast evaluation, funnels, retention, changepoints. */
private[queries] object AnalyticsQueries {
  /** a31 oracle: the engine's Holt-Winters fold replayed as a DuckDB
    * recursive CTE — the same init (l₀=y₁, b₀=0, s=0⃗), the same update
    * expressions in the same operation order (bit-identical IEEE doubles),
    * the seasonal vector rebuilt positionally (DuckDB's list_transform
    * lambda has no index parameter, so the 7 slots are written out). */
  private def hwOracle: String = {
    def sCur = "r.s[(r.t % 7) + 1]"
    def lNew = s"""(CAST('0.5' AS DOUBLE) * (o.y - $sCur)
                   | + CAST('0.5' AS DOUBLE) * (r.l + r.b))""".stripMargin
    def sUpd = s"""(CAST('0.25' AS DOUBLE) * (o.y - $lNew)
                   | + CAST('0.75' AS DOUBLE) * $sCur)""".stripMargin
    val sSlots = (1 to 7).map { j =>
      s"CASE WHEN (r.t % 7) + 1 = $j THEN $sUpd ELSE r.s[$j] END"
    }.mkString("[", ",\n", "]")
    val fcast = Seq(1 -> "f1_r", 2 -> "f2_r", 7 -> "f7_r").map { case (h, nm) =>
      s"""printf('%.4f', l + $h * b + s[((n + ${h - 1}) % 7) + 1]) AS $nm"""
    }.mkString(",\n")
    s"""WITH RECURSIVE daily AS (SELECT event_type,
       |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
       |    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |ord AS (SELECT event_type, CAST(y AS DOUBLE) AS y,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
       |    COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM daily),
       |rec AS (
       |  SELECT event_type, t, n, y AS l, CAST('0.0' AS DOUBLE) AS b,
       |      [CAST('0.0' AS DOUBLE), CAST('0.0' AS DOUBLE), CAST('0.0' AS DOUBLE),
       |       CAST('0.0' AS DOUBLE), CAST('0.0' AS DOUBLE), CAST('0.0' AS DOUBLE),
       |       CAST('0.0' AS DOUBLE)] AS s
       |    FROM ord WHERE t = 1
       |  UNION ALL
       |  SELECT o.event_type, o.t, o.n,
       |    $lNew AS l,
       |    CAST('0.25' AS DOUBLE) * ($lNew - r.l) + CAST('0.75' AS DOUBLE) * r.b AS b,
       |    $sSlots AS s
       |  FROM rec r JOIN ord o ON o.event_type = r.event_type AND o.t = r.t + 1)
       |SELECT event_type, CAST(n AS INT) AS n_days,
       |  printf('%.4f', l) AS level_r,
       |  printf('%.4f', b) AS trend_r,
       |  $fcast
       |FROM rec WHERE t = n""".stripMargin
  }

  val all: Seq[Query] = Seq(
    // A29 — offline changepoint detection (AMOC binary segmentation via
    // the CUSUM statistic): per event type, the day t maximizing
    // |n·cum(t) − t·total| over the daily integer-cents series — the
    // within-type denominator n is CONSTANT, so the integer numerator
    // ranks identically to the normalized statistic and the argmax is
    // pure BIGINT (ties → earliest day). The offline complement of mon4's
    // sequential CUSUM. One groupBy(type, day), one per-type window
    // cumsum over the days-sized relation, one argmax window.
    Query("a29_changepoint", Throughput, (s, dir) => {
      val daily = ev(s, dir).select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("y"))
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("event_type"))
      val scored = daily
        .withColumn("cum", sum(col("y")).over(wOrd))
        .withColumn("t", count(lit(1)).over(wOrd))
        .withColumn("total", sum(col("y")).over(wAll))
        .withColumn("n", count(lit(1)).over(wAll))
        .filter(col("t") < col("n")) // a split needs a non-empty right side
        .withColumn("score", abs(col("n") * col("cum") - col("t") * col("total")))
      scored.withColumn("rk", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("score").desc, col("day"))))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("day").as("cp_day"),
          col("t").as("t_idx"), col("n").as("n_days"), col("score"))
    },
      // Same daily cents relation as a28; the CUSUM numerator is pure
      // BIGINT, argmax ties break earliest-day on both engines.
      """WITH daily AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, day,
        |    CAST(SUM(y) OVER w AS BIGINT) AS cum,
        |    CAST(COUNT(*) OVER w AS BIGINT) AS t,
        |    CAST(SUM(y) OVER wa AS BIGINT) AS total,
        |    CAST(COUNT(*) OVER wa AS BIGINT) AS n
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wa AS (PARTITION BY event_type)),
        |s AS (SELECT event_type, day, t, n,
        |    abs(n * cum - t * total) AS score
        |  FROM c WHERE t < n)
        |SELECT event_type, day AS cp_day, t AS t_idx, n AS n_days, score
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY score DESC, day) AS rk FROM s)
        |WHERE rk = 1""".stripMargin),

    // A28 — exact-moment OLS trend fit per event type (the q20 moment
    // discipline applied to regression): daily revenue in integer cents
    // regressed on the per-type day index (x = day − min day, a small
    // exact long). First moments are pure BIGINTs; second moments route
    // through DECIMAL(38,0) (y² at large SF exceeds long — the q22
    // overflow class, solved by accumulator width not by hoping); slope/
    // intercept/R² are then one mirrored double chain behind fixed-decimal
    // rendering, NULL-guarded when the variance denominator is zero on
    // both sides. One groupBy(type, day) + one groupBy(type) — two
    // partial-aggregated exchanges, nothing driver-side.
    Query("a28_ols_fit", Throughput, (s, dir) => {
      ev(s, dir).select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("y"))
        .createOrReplaceTempView("a28_daily")
      s.sql("""
        WITH b AS (SELECT event_type,
            day - MIN(day) OVER (PARTITION BY event_type) AS x, y
          FROM a28_daily),
        m AS (SELECT event_type, COUNT(*) AS n,
            CAST(SUM(x) AS DOUBLE) AS sx,
            CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
            CAST(SUM(x * x) AS DOUBLE) AS sxx,
            CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sxy,
            CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS syy
          FROM b GROUP BY event_type)
        SELECT event_type, n,
          CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx = CAST('0.0' AS DOUBLE) THEN NULL
               ELSE format_string('%.6f', (CAST(n AS DOUBLE) * sxy - sx * sy)
                    / (CAST(n AS DOUBLE) * sxx - sx * sx)) END AS slope_r,
          CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx = CAST('0.0' AS DOUBLE) THEN NULL
               ELSE format_string('%.4f', (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                    / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx) / CAST(n AS DOUBLE)) END AS intercept_r,
          CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)
                    = CAST('0.0' AS DOUBLE) THEN NULL
               ELSE format_string('%.6f',
                    ((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy))
                    / ((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)))
          END AS r2_r
        FROM m""")
    },
      // Mirrors a28 moment-for-moment: same integer-cents daily relation,
      // same DECIMAL(38,0) second moments, same double chain and guards.
      """WITH daily AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type,
        |    day - MIN(day) OVER (PARTITION BY event_type) AS x, y
        |  FROM daily),
        |m AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS syy
        |  FROM b GROUP BY event_type)
        |SELECT event_type, n,
        |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx = CAST('0.0' AS DOUBLE) THEN NULL
        |       ELSE printf('%.6f', (CAST(n AS DOUBLE) * sxy - sx * sy)
        |            / (CAST(n AS DOUBLE) * sxx - sx * sx)) END AS slope_r,
        |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx = CAST('0.0' AS DOUBLE) THEN NULL
        |       ELSE printf('%.4f', (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
        |            / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx) / CAST(n AS DOUBLE)) END AS intercept_r,
        |  CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)
        |            = CAST('0.0' AS DOUBLE) THEN NULL
        |       ELSE printf('%.6f',
        |            ((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy))
        |            / ((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)))
        |  END AS r2_r
        |FROM m""".stripMargin),

    // A1 — 1-min tumbling count/sum/avg (resources/flink/main.py:105-120).
    Query("a1_minute_agg", Throughput, (s, dir) => MinuteAggregate(ev(s, dir), "ts", "value"),
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |  COUNT(*) AS total_nb_trx_1min,
        |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS total_fee_1min,
        |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) / COUNT(value) AS avg_fee_1min
        |FROM events GROUP BY 1""".stripMargin),

    // A3/A4 — series bounds + row count (preprocess.py:101-105).
    Query("a3_minmax_time", Throughput, (s, dir) =>
      ev(s, dir).agg(count(lit(1)).as("n_events"),
        unix_micros(min(col("ts"))).as("min_ts_us"),
        unix_micros(max(col("ts"))).as("max_ts_us")),
      """SELECT COUNT(*) AS n_events,
        |  epoch_us(CAST(min(ts) AS TIMESTAMP)) AS min_ts_us,
        |  epoch_us(CAST(max(ts) AS TIMESTAMP)) AS max_ts_us
        |FROM events""".stripMargin),

    // A5 — RMSE of the lag-1 forecast (evaluate.py:73-77).
    Query("a5_rmse", Throughput, (s, dir) => {
      val err = col("target") - col("prediction")
      predFrame(s, dir).agg(
        sqrt(Exact.avgD(err * err, 10)).as("rmse"),
        count(lit(1)).as("n"))
    },
      s"""WITH p AS ($predSql)
         |SELECT sqrt(CAST(SUM(CAST((target - prediction) * (target - prediction)
         |    AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*)) AS rmse,
         |  COUNT(*) AS n
         |FROM p""".stripMargin),

    // A6 — elementwise pinball loss at 0.05/0.5/0.95 (evaluate.py:32-33,84-90).
    Query("a6_quantile_loss", Throughput, (s, dir) =>
      predFrame(s, dir).select(col("event_id"), col("target"), col("prediction"),
        ql(0.05).as("ql_low"), ql(0.5).as("ql_mid"), ql(0.95).as("ql_up")),
      s"""WITH p AS ($predSql)
         |SELECT event_id, target, prediction,
         |  ${qlSql(0.05)} AS ql_low, ${qlSql(0.5)} AS ql_mid, ${qlSql(0.95)} AS ql_up
         |FROM p""".stripMargin),

    // A7 — mean weighted quantile loss (evaluate.py:82-91).
    Query("a7_wql", Throughput, (s, dir) => {
      val agg = predFrame(s, dir).agg(
        Exact.sumD(abs(col("target")), 10).as("abs_sum"),
        Exact.sumD(ql(0.05), 10).as("s_low"),
        Exact.sumD(ql(0.5), 10).as("s_mid"),
        Exact.sumD(ql(0.95), 10).as("s_up"))
      agg.select(
        (lit(2.0) / col("abs_sum") * col("s_low")).as("wql_low"),
        (lit(2.0) / col("abs_sum") * col("s_mid")).as("wql_mid"),
        (lit(2.0) / col("abs_sum") * col("s_up")).as("wql_up"),
        ((lit(2.0) / col("abs_sum") * col("s_low")
          + lit(2.0) / col("abs_sum") * col("s_mid")
          + lit(2.0) / col("abs_sum") * col("s_up")) / 3.0).as("mean_wql"))
    },
      s"""WITH p AS ($predSql), agg AS (
         |  SELECT CAST(SUM(CAST(abs(target) AS DECIMAL(30,10))) AS DOUBLE) AS abs_sum,
         |    CAST(SUM(CAST(${qlSql(0.05)} AS DECIMAL(30,10))) AS DOUBLE) AS s_low,
         |    CAST(SUM(CAST(${qlSql(0.5)} AS DECIMAL(30,10))) AS DOUBLE) AS s_mid,
         |    CAST(SUM(CAST(${qlSql(0.95)} AS DECIMAL(30,10))) AS DOUBLE) AS s_up
         |  FROM p)
         |SELECT 2.0 / abs_sum * s_low AS wql_low, 2.0 / abs_sum * s_mid AS wql_mid,
         |  2.0 / abs_sum * s_up AS wql_up,
         |  (2.0 / abs_sum * s_low + 2.0 / abs_sum * s_mid + 2.0 / abs_sum * s_up) / 3.0 AS mean_wql
         |FROM agg""".stripMargin),

    // A8 — compaction sizing arithmetic: per hour-prefix byte totals and the
    // ceil(bytes / target) file count the compactor would choose
    // (FeatureStoreAggregateParquet.py:79-85; KeyedParquetTable.compact uses
    // the same formula on real file listings).
    Query("a8_compaction_sizing", Throughput, (s, dir) =>
      ev(s, dir)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour_prefix"))
        .agg(sum(octet_length(col("props")).cast("long")).as("total_bytes"),
          count(lit(1)).as("n_objects"))
        .withColumn("n_target_files", expr("(total_bytes + 16383) div 16384")),
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour_prefix,
        |  CAST(SUM(strlen(props)) AS BIGINT) AS total_bytes,
        |  COUNT(*) AS n_objects,
        |  CAST((CAST(SUM(strlen(props)) AS BIGINT) + 16383) // 16384 AS BIGINT) AS n_target_files
        |FROM events GROUP BY 1""".stripMargin),

    // A9 — hourly Maximum + k-consecutive-breach alarm
    // (model-monitor-template.yml:766-796), k=3.
    Query("a9_alarm", Throughput, (s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour_start"))
        .agg(max(col("value")).as("hourly_max"))
        .withColumn("breached", (col("hourly_max") >= 18.0).cast("int"))
      // global window over the hourly spine (≤ 8.8k rows/year) — metadata
      val w = Window.orderBy(col("hour_start")).rowsBetween(-2, 0)
      hourly.withColumn("alarm",
        (min(col("breached")).over(w) === 1 && count(lit(1)).over(w) === 3).cast("int"))
    },
      """WITH hourly AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour_start,
        |         max(value) AS hourly_max
        |  FROM events GROUP BY 1)
        |SELECT hour_start, hourly_max, breached,
        |  CASE WHEN min(breached) OVER w = 1 AND count(*) OVER w = 3 THEN 1 ELSE 0 END AS alarm
        |FROM (SELECT *, CASE WHEN hourly_max >= 18.0 THEN 1 ELSE 0 END AS breached FROM hourly)
        |WINDOW w AS (ORDER BY hour_start ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin),

    // A31 — additive Holt-Winters (level + trend + weekly seasonality —
    // the classical triple completing mon8's Holt): per event type, the
    // daily-cents series folds through the textbook recursions with
    // α=1/2, β=γ=1/4 (power-of-2 rationals — not for exactness here but
    // to keep every step a clean double op). The recursion is inherently
    // sequential per key, so it runs as ONE codegen'd higher-order
    // aggregate() fold over the sorted per-type array (bounded: days per
    // type, the mon9 "hours not events" argument) — the corpus-sized work
    // stays in the groupBy that builds the daily series. The oracle
    // replays the IDENTICAL double chain as a recursive CTE: same ops,
    // same order, bit-identical IEEE results behind %.4f rendering.
    // Contract: l₀ = y₁, b₀ = 0, s = 0⃗ (fold starts at the 2nd
    // observation); gaps in the day spine are positional (stated).
    Query("a31_holt_winters", Throughput, (s, dir) => {
      ev(s, dir).select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("y"))
        .createOrReplaceTempView("a31_daily")
      s.sql("""
        WITH ser AS (SELECT event_type,
            array_sort(collect_list(named_struct(
              'day', day, 'y', CAST(y AS DOUBLE)))) AS pts
          FROM a31_daily GROUP BY event_type),
        st AS (SELECT event_type, size(pts) AS n_days,
            aggregate(
              slice(pts, 2, size(pts) - 1),
              named_struct(
                'l', element_at(pts, 1).y, 'b', CAST(0.0 AS DOUBLE),
                's', array_repeat(CAST(0.0 AS DOUBLE), 7), 'i', 1),
              (acc, p) -> named_struct(
                'l', CAST(0.5 AS DOUBLE) * (p.y - element_at(acc.s, pmod(acc.i, 7) + 1))
                     + CAST(0.5 AS DOUBLE) * (acc.l + acc.b),
                'b', CAST(0.25 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * (p.y - element_at(acc.s, pmod(acc.i, 7) + 1))
                       + CAST(0.5 AS DOUBLE) * (acc.l + acc.b)) - acc.l)
                     + CAST(0.75 AS DOUBLE) * acc.b,
                's', transform(acc.s, (v, j) -> IF(j = pmod(acc.i, 7),
                       CAST(0.25 AS DOUBLE) * (p.y - (CAST(0.5 AS DOUBLE) * (p.y - element_at(acc.s, pmod(acc.i, 7) + 1))
                         + CAST(0.5 AS DOUBLE) * (acc.l + acc.b)))
                       + CAST(0.75 AS DOUBLE) * v, v)),
                'i', acc.i + 1)) AS fin
          FROM ser)
        SELECT event_type, n_days,
          format_string('%.4f', fin.l) AS level_r,
          format_string('%.4f', fin.b) AS trend_r,
          format_string('%.4f', fin.l + 1 * fin.b
            + element_at(fin.s, pmod(n_days, 7) + 1)) AS f1_r,
          format_string('%.4f', fin.l + 2 * fin.b
            + element_at(fin.s, pmod(n_days + 1, 7) + 1)) AS f2_r,
          format_string('%.4f', fin.l + 7 * fin.b
            + element_at(fin.s, pmod(n_days + 6, 7) + 1)) AS f7_r
        FROM st""")
    },
      hwOracle),

    // A34 — event concentration (the Pareto audit: what share of traffic
    // the top-decile users generate — a skew early-warning for both
    // product analytics and the engine's own key-skew planning). Per-user
    // counts are one partial-agg exchange; the top-k cut is the bounded
    // user relation ranked by (count, user_id) — exact integers, share in
    // basis points by integer division.
    Query("a34_concentration", Throughput, (s, dir) => {
      val perUser = ev(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
      // two-pass range-partitioned rank (ops/Ranking) — the user relation
      // is corpus-sized, so a bare ORDER BY window would be one task
      val ranked = graft.ops.Ranking.globalRowNumber(perUser,
        Seq(col("n").desc, col("user_id")), "rk")
      val stats = ranked.agg(count(lit(1)).as("n_users"),
        sum(col("n")).as("total_events"))
      ranked.crossJoin(broadcast(stats))
        .filter(col("rk") <= expr("n_users div 10"))
        .groupBy(col("n_users"), col("total_events"))
        .agg(count(lit(1)).as("n_top"), sum(col("n")).as("top_events"))
        .select(col("n_users"), col("total_events"), col("n_top"),
          col("top_events"),
          expr("top_events * 10000 div total_events").as("share_bp"))
    },
      """WITH pu AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
        |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, user_id) AS rk
        |  FROM pu),
        |st AS (SELECT COUNT(*) AS n_users, CAST(SUM(n) AS BIGINT) AS total_events
        |  FROM pu)
        |SELECT n_users, total_events, COUNT(*) AS n_top,
        |  CAST(SUM(r.n) AS BIGINT) AS top_events,
        |  CAST(SUM(r.n) AS BIGINT) * 10000 // total_events AS share_bp
        |FROM r, st WHERE rk <= n_users // 10
        |GROUP BY 1, 2""".stripMargin),

    // A36 — exact Mann–Whitney U (Wilcoxon rank-sum) with tie correction:
    // are English docs systematically longer than the rest? The
    // nonparametric two-sample location test beside mon14's KS — U doubles
    // as the AUC of "length separates the groups" (probability of
    // superiority), reported in integer basis points. Tie-corrected
    // midranks stay integer DOUBLED: rank2(v) = 2·|{x < v}| + |{x = v}| + 1
    // (twice the average rank of v's tie block), so every quantity is
    // exact on both engines. Scale shape: one corpus-sized groupBy(v)
    // reduces to the DISTINCT-VALUE relation (doc lengths — bounded,
    // metadata-sized like the s32 eigensolve input) and the single-window
    // cumsum runs there, never over corpus rows. Bounds: u2 ≤ 2·n_a·n_b
    // needs samples ≤ ~2.1e9 each in a BIGINT — past that, bucket lengths
    // first (the test is rank-based; bucketing = coarser ties).
    Query("a36_mann_whitney", Throughput, (s, dir) => {
      val d = docs(s, dir).select(col("n_chars").cast("long").as("v"),
        when(col("lang") === "en", 1L).otherwise(0L).as("is_a"))
      val byV = d.groupBy(col("v")).agg(sum(col("is_a")).as("na"),
        sum(lit(1L) - col("is_a")).as("nb"))
      // global window over the DISTINCT-VALUE relation (n_chars domain,
      // not docs) — the rank-sum needs the total order of values anyway
      val w = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      byV
        .withColumn("less", coalesce(sum(col("na") + col("nb")).over(w), lit(0L)))
        .withColumn("rank2", lit(2L) * col("less") + col("na") + col("nb") + 1L)
        .agg(sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"),
          sum(col("na") * col("rank2")).as("r2_a"))
        .select(col("n_a"), col("n_b"),
          (col("r2_a") - col("n_a") * (col("n_a") + 1L)).as("u2_a"))
        .withColumn("u2_b", lit(2L) * col("n_a") * col("n_b") - col("u2_a"))
        .withColumn("auc_bp",
          // u2_a·10⁴ overflows a BIGINT past ~1e7-row samples — route the
          // product through DECIMAL(38,0) and fold back via integer div
          expr("""(cast(u2_a as decimal(38,0)) * 10000)
                 div (cast(2 as decimal(38,0)) * n_a * n_b)"""))
    },
      // Mirrors a36: same doubled midranks (2·less + eq + 1), same HUGEINT ↔
      // DECIMAL(38,0) fold for the basis points.
      """WITH d AS (SELECT n_chars AS v,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_a FROM documents),
        |bv AS (SELECT v, CAST(SUM(is_a) AS BIGINT) AS na,
        |    CAST(SUM(1 - is_a) AS BIGINT) AS nb FROM d GROUP BY 1),
        |rk AS (SELECT v, na, nb,
        |    COALESCE(SUM(na + nb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS less
        |  FROM bv),
        |ag AS (SELECT CAST(SUM(na) AS BIGINT) AS n_a,
        |    CAST(SUM(nb) AS BIGINT) AS n_b,
        |    CAST(SUM(na * (2 * less + na + nb + 1)) AS BIGINT) AS r2_a FROM rk)
        |SELECT n_a, n_b,
        |  CAST(r2_a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
        |  CAST(2 * n_a * n_b - (r2_a - n_a * (n_a + 1)) AS BIGINT) AS u2_b,
        |  CAST((CAST(r2_a - n_a * (n_a + 1) AS HUGEINT) * 10000)
        |       // (CAST(2 AS HUGEINT) * n_a * n_b) AS BIGINT) AS auc_bp
        |FROM ag""".stripMargin),

    // A35 — day-of-week seasonality profile: exact cents mass and share
    // per weekday (the calendar complement of mon9's hour-of-day
    // decomposition). ISO weekday from the epoch-day index — pure integer
    // arithmetic, no timezone/locale surface at all.
    Query("a35_weekday_profile", Throughput, (s, dir) => {
      val daily = ev(s, dir).select(
          expr("unix_micros(ts) div 86400000000").as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
      val tot = daily.agg(sum(col("cents")).as("total"))
      daily
        // epoch day 0 = Thursday; dow 0 = Monday
        .withColumn("dow", expr("pmod(day + 3, 7)"))
        .groupBy(col("dow"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
        .crossJoin(broadcast(tot))
        .withColumn("share_bp", expr("cents * 10000 div total"))
        .drop("total")
    },
      """WITH d AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM d)
        |SELECT (day + 3) % 7 AS dow, COUNT(*) AS n_events,
        |  CAST(SUM(cents) AS BIGINT) AS cents,
        |  CAST(SUM(cents) AS BIGINT) * 10000 // total AS share_bp
        |FROM d, tot GROUP BY 1, total""".stripMargin),

    // A32 — new-vs-returning daily actives (the growth-accounting split):
    // a user's first-ever event day classifies them "new" on that day and
    // "returning" on every later active day. First-seen is one groupBy
    // min; the daily classification joins it back on the user key —
    // co-partitioned with the distinct-actives aggregate, no extra wide
    // exchange. All integers.
    Query("a32_new_returning", Throughput, (s, dir) => {
      val ud = ev(s, dir).select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day")).distinct()
      val first = ud.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
      ud.join(first, "user_id")
        .groupBy(col("day"))
        .agg(sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"),
          sum(when(col("day") > col("first_day"), 1L).otherwise(0L)).as("n_returning"))
    },
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day FROM events),
        |f AS (SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY 1)
        |SELECT day,
        |  CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(SUM(CASE WHEN day > first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
        |FROM ud JOIN f USING (user_id)
        |GROUP BY 1""".stripMargin),

    // A33 — traffic burstiness per event type: the coefficient of
    // variation of inter-arrival gaps (CV ≈ 1 Poisson, ≫ 1 bursty). Gaps
    // are exact integer microseconds; moment sums route through
    // BIGINT/DECIMAL (the a28 accumulator-width rule) and CV is one
    // mirrored double chain behind %.6f. SCALE SHAPE: a flat per-type lag
    // puts each type's full event history through ONE sort task (measured
    // 5.7 s at the 100× probe with |types| = 5 as the parallelism
    // ceiling); instead the gap MULTISET decomposes exactly into
    // within-day gaps (a (type, day)-partitioned window — types×days
    // parallel) plus day-boundary gaps off the bounded per-(type, day)
    // first/last spine — every consecutive pair is in exactly one of the
    // two sets, so the union equals the naive per-type lag the oracle
    // states. On local[32] at the 100× probe the wall-clock is unchanged
    // (~5.8 s — the exchange itself dominates there), but the sort-task
    // ceiling rises from |types|=5 to types×days=150: the difference
    // between 5 busy executors and a full cluster at 1000 executors.
    Query("a33_burstiness", Throughput, (s, dir) => {
      val e = ev(s, dir).select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_id"), unix_micros(col("ts")).as("t"))
      val wd = Window.partitionBy(col("event_type"), col("day"))
        .orderBy(col("t"), col("event_id"))
      val intra = e.withColumn("gap", col("t") - lag(col("t"), 1).over(wd))
        .filter(col("gap").isNotNull)
        .select(col("event_type"), col("gap"))
      val spine = e.groupBy(col("event_type"), col("day"))
        .agg(min(col("t")).as("first_t"), max(col("t")).as("last_t"))
      val ws = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val boundary = spine
        .withColumn("prev_last", lag(col("last_t"), 1).over(ws))
        .filter(col("prev_last").isNotNull)
        .select(col("event_type"), (col("first_t") - col("prev_last")).as("gap"))
      intra.unionByName(boundary)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("gap")).as("sg"),
          sum(col("gap").cast("decimal(19,0)") * col("gap").cast("decimal(19,0)"))
            .as("sgg"))
        .select(col("event_type"), col("n"),
          Exact.fmt(
            sqrt((col("n").cast("double") * col("sgg").cast("double")
              - col("sg").cast("double") * col("sg").cast("double"))
              / (col("n").cast("double") * (col("n").cast("double") - lit(1.0))))
              / (col("sg").cast("double") / col("n").cast("double")), 6)
            .as("cv_r"))
    },
      // Same lag/moment chain: n·Σg² − (Σg)² sample std over the mean gap,
      // moments exact (BIGINT / DECIMAL(38,0)-widened product), one mirrored
      // double expression behind %.6f.
      """WITH e AS (SELECT event_type, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
        |g AS (SELECT event_type,
        |    t - lag(t, 1) OVER (PARTITION BY event_type ORDER BY t, event_id) AS gap
        |  FROM e),
        |m AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(gap) AS BIGINT) AS sg,
        |    SUM(CAST(gap AS DECIMAL(19,0)) * CAST(gap AS DECIMAL(19,0))) AS sgg
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
        |SELECT event_type, n,
        |  printf('%.6f',
        |    sqrt((CAST(n AS DOUBLE) * CAST(sgg AS DOUBLE)
        |          - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
        |         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - CAST('1.0' AS DOUBLE))))
        |    / (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))) AS cv_r
        |FROM m""".stripMargin),

    // A30 — TIME-CONSTRAINED funnel (the product-analytics standard a18
    // leaves out): a click converts only within 1 h of the first view, a
    // purchase only within 24 h of the first qualifying click. Same
    // decorrelated min-aggregate chain as a18 — each stage is one
    // key-partitioned join + min, never a per-user scan — with the
    // conversion window as an extra integer-microsecond predicate.
    Query("a30_timed_funnel", Throughput, (s, dir) => {
      val e = ev(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
      val users = e.select(col("user_id")).distinct()
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("t")).as("t_view"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id")
        .filter(col("t") > col("t_view") && col("t") <= col("t_view") + 3600000000L)
        .groupBy(col("user_id")).agg(min(col("t")).as("t_click"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id")
        .filter(col("t") > col("t_click") && col("t") <= col("t_click") + 86400000000L)
        .groupBy(col("user_id")).agg(min(col("t")).as("t_purchase"))
      users.join(v, Seq("user_id"), "left").join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
          (when(col("t_purchase").isNotNull, 3)
            .when(col("t_click").isNotNull, 2)
            .when(col("t_view").isNotNull, 1).otherwise(0)).as("funnel_step"))
    },
      """WITH e AS (SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |v AS (SELECT user_id, MIN(t) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(t) AS t_click FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND t > t_view
        |        AND t <= t_view + 3600000000 GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(t) AS t_purchase FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND t > t_click
        |        AND t <= t_click + 86400000000 GROUP BY 1)
        |SELECT u.user_id, v.t_view, c.t_click, p.t_purchase,
        |  CASE WHEN p.t_purchase IS NOT NULL THEN 3
        |       WHEN c.t_click IS NOT NULL THEN 2
        |       WHEN v.t_view IS NOT NULL THEN 1 ELSE 0 END AS funnel_step
        |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |LEFT JOIN p USING (user_id)""".stripMargin),

    Query("a18_funnel", Throughput, (s, dir) => {
      val e = ev(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
      val users = e.select(col("user_id")).distinct()
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("t")).as("t_view"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("t") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("t")).as("t_click"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("t") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("t")).as("t_purchase"))
      users.join(v, Seq("user_id"), "left").join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
          (when(col("t_purchase").isNotNull, 3)
            .when(col("t_click").isNotNull, 2)
            .when(col("t_view").isNotNull, 1).otherwise(0)).as("funnel_step"))
    },
      """WITH e AS (SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |v AS (SELECT user_id, MIN(t) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(t) AS t_click FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND t > t_view GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(t) AS t_purchase FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND t > t_click GROUP BY 1)
        |SELECT u.user_id, v.t_view, c.t_click, p.t_purchase,
        |  CASE WHEN p.t_purchase IS NOT NULL THEN 3
        |       WHEN c.t_click IS NOT NULL THEN 2
        |       WHEN v.t_view IS NOT NULL THEN 1 ELSE 0 END AS funnel_step
        |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |LEFT JOIN p USING (user_id)""".stripMargin),

    // A19 — cohort retention: users bucketed by first-activity day, counted
    // per (cohort, day-offset) — the warehouse retention matrix. Cohort
    // assignment is one user-keyed min; offsets are integer day arithmetic;
    // the matrix is one distinct + grouped count. Two narrow exchanges.
    Query("a19_retention", Throughput, (s, dir) => {
      val e = ev(s, dir).select(col("user_id"),
        expr("unix_timestamp(ts) div 86400").as("day"))
      val cohort = e.groupBy(col("user_id")).agg(min(col("day")).as("c_day"))
      e.join(cohort, "user_id")
        .select(col("user_id"), col("c_day"), (col("day") - col("c_day")).as("day_offset"))
        .distinct()
        .groupBy(col("c_day"), col("day_offset"))
        .agg(count(lit(1)).as("n_users"))
    },
      """WITH e AS (SELECT user_id,
        |       epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day FROM events),
        |ch AS (SELECT user_id, MIN(day) AS c_day FROM e GROUP BY 1),
        |x AS (SELECT DISTINCT e.user_id, c_day, day - c_day AS day_offset
        |      FROM e JOIN ch USING (user_id))
        |SELECT c_day, day_offset, COUNT(*) AS n_users
        |FROM x GROUP BY 1, 2""".stripMargin),

    // A20 — rolling 7-day distinct actives (the WAU beside the DAU): count
    // distinct over a sliding window has no direct aggregate, and the 100
    // TB answer is NOT a window function — each distinct (user, day)
    // membership explodes to the ≤7 windows it can serve, then one
    // distinct + grouped count. The explode multiplies the (already
    // day-deduped) membership relation by 7, far smaller than re-scanning
    // events per window; exact integers throughout.
    Query("a20_rolling_active", Throughput, (s, dir) => {
      val e = ev(s, dir).select(col("user_id"),
        expr("unix_timestamp(ts) div 86400").as("day"))
      val du = e.distinct()
      val bounds = du.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val daily = du.groupBy(col("day")).agg(count(lit(1)).as("n_active_1d"))
      val weekly = du
        .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("day"))
        .crossJoin(broadcast(bounds))
        .filter(col("day") <= col("hi")).select(col("user_id"), col("day"))
        .distinct()
        .groupBy(col("day")).agg(count(lit(1)).as("n_active_7d"))
      daily.join(weekly, "day")
        .select(col("day"), col("n_active_1d"), col("n_active_7d"))
    },
      """WITH e AS (SELECT DISTINCT user_id,
        |       epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day FROM events),
        |b AS (SELECT MAX(day) AS hi FROM e),
        |daily AS (SELECT day, COUNT(*) AS n_active_1d FROM e GROUP BY 1),
        |m AS (SELECT DISTINCT user_id, wday FROM (
        |        SELECT user_id, unnest(generate_series(day, day + 6)) AS wday
        |        FROM e) x CROSS JOIN b WHERE x.wday <= b.hi),
        |weekly AS (SELECT wday AS day, COUNT(*) AS n_active_7d FROM m GROUP BY 1)
        |SELECT day, n_active_1d, n_active_7d
        |FROM daily JOIN weekly USING (day)""".stripMargin),

    // A21 — custom GROUPING SETS (the general operator rollup/cube are
    // special cases of): all four (type, day) marginals in ONE Expand pass
    // over one scan — not a union of four aggregations. grouping_id
    // disambiguates a NULL group key from an aggregated-out dimension.
    Query("a21_grouping_sets", Throughput, (s, dir) => {
      val e = ev(s, dir).select(col("event_type"),
        expr("unix_timestamp(ts) div 86400").as("day"), col("value"))
      e.groupingSets(
          Seq(Seq(col("event_type"), col("day")), Seq(col("event_type")),
            Seq(col("day")), Seq()),
          col("event_type"), col("day"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n_events"),
          Exact.sumD(col("value"), 2).as("sum_value"))
    },
      // GROUPING() bitmask matches Spark's grouping_id (leftmost key =
      // most significant bit).
      """SELECT event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |  CAST(GROUPING(event_type, day) AS BIGINT) AS gid,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY GROUPING SETS ((event_type, day), (event_type), (day), ())""".stripMargin),

    // A22 — first-order Markov transition matrix over per-user event
    // sequences: P(next event type | current), the session-model behind
    // next-action prediction and funnel simulation. One window pass
    // (lead over user_id, ordered by ts with event_id tie-break — the
    // mon4 ordering contract) produces the transition stream; counts and
    // the row-conditional probability (integer basis points: n·10⁴ div
    // n_from) are two narrow aggregates. Scale: the sort is per-user
    // within the hash-partitioned window — no global sort; transition
    // cardinality is |types|², dimension-sized.
    Query("a22_markov", Throughput, (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        // row-conditional total via a window over the |types|²-sized
        // transition relation — a groupBy+join here would re-run the
        // whole events window pass for the totals branch (Catalyst does
        // not share subtrees across self-join arms)
        .withColumn("n_from",
          sum(col("n")).over(Window.partitionBy(col("event_type"))))
        .select(col("event_type"), col("next_type"), col("n"), col("n_from"),
          expr("n * 10000 div n_from").as("p_bp"))
    },
      """WITH t AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS next_type
        |  FROM events),
        |tr AS (SELECT event_type, next_type, COUNT(*) AS n FROM t
        |       WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_from FROM tr GROUP BY 1)
        |SELECT tr.event_type, tr.next_type, tr.n, tot.n_from,
        |  tr.n * 10000 // tot.n_from AS p_bp
        |FROM tr JOIN tot ON tr.event_type = tot.event_type""".stripMargin),

    // A27 — DAU/MAU stickiness: exact daily actives over exact trailing
    // 30-day actives, in basis points — the engagement ratio product
    // analytics reports. COUNT DISTINCT over a sliding window isn't
    // window-expressible; the exact formulation explodes each distinct
    // (user, active-day) into the 30 report days it covers (bounded ×30
    // fanout of the user-day relation — at 100 TB that relation is the
    // small distinct rollup, not raw events), then one distinct count per
    // day. Report days are restricted to days with activity (the dau
    // spine). o15/o34 are the sketched siblings; this is the exact one.
    Query("a27_stickiness", Throughput, (s, dir) => {
      val ud = ev(s, dir)
        .select(expr("unix_timestamp(ts) div 86400").as("day"), col("user_id"))
        .distinct()
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val mau = ud
        .select(col("user_id"), explode(sequence(col("day"), col("day") + 29)).as("rday"))
        .distinct()
        .groupBy(col("rday").as("day")).agg(count(lit(1)).as("mau"))
      dau.join(mau, "day")
        .select(col("day"), col("dau"), col("mau"),
          expr("dau * 10000 div mau").as("stickiness_bp"))
    },
      // Exact trailing-30-day actives via the same explode-to-report-days
      // construction; report days restricted to the dau spine.
      """WITH ud AS (SELECT DISTINCT
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day, user_id
        |  FROM events),
        |dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
        |cov AS (SELECT DISTINCT user_id, rday FROM (
        |  SELECT user_id, unnest(generate_series(day, day + 29)) AS rday
        |  FROM ud)),
        |mau AS (SELECT rday AS day, COUNT(*) AS mau FROM cov GROUP BY 1)
        |SELECT dau.day, dau.dau, mau.mau,
        |  dau.dau * 10000 // mau.mau AS stickiness_bp
        |FROM dau JOIN mau ON dau.day = mau.day""".stripMargin),

    // A26 — market-share shift: per (month, brand) revenue share in exact
    // basis points (decimal-exact revenue sums, integer division against
    // the month total) plus the month-over-month share delta via lag —
    // the BI staple that composes a two-level aggregate with a window on
    // the SMALL (month × brand) relation, never re-windowing fact rows.
    Query("a26_share_shift", Throughput, (s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"), col("p_brand"))
        // q6's product-to-decimal mirror, then scaled to an exact integral
        // decimal so the share is pure integer division — engine decimal
        // DIVISION scale rules differ and never touch this plan
        .agg((sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(30,4)")) * 10000).cast("decimal(38,0)").as("rev_u"))
      val tot = Window.partitionBy(col("month"))
      val w = Window.partitionBy(col("p_brand")).orderBy(col("month"))
      rev
        .withColumn("tot_u", sum(col("rev_u")).over(tot))
        .withColumn("share_bp", expr("CAST((rev_u * 10000) div tot_u AS BIGINT)"))
        .withColumn("delta_bp",
          col("share_bp") - coalesce(lag(col("share_bp"), 1).over(w), col("share_bp")))
        .select(col("month"), col("p_brand"), col("share_bp"), col("delta_bp"))
    },
      // Same integral-decimal scaling; HUGEINT carries the ×10⁴ numerator.
      """WITH rev AS (SELECT strftime(l_shipdate, '%Y-%m') AS month, p_brand,
        |    CAST(SUM(CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
        |      AS DECIMAL(30,4))) * 10000 AS HUGEINT) AS rev_u
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |sh AS (SELECT month, p_brand,
        |    CAST(rev_u * 10000 // SUM(rev_u) OVER (PARTITION BY month) AS BIGINT)
        |      AS share_bp
        |  FROM rev)
        |SELECT month, p_brand, share_bp,
        |  share_bp - COALESCE(lag(share_bp) OVER (
        |    PARTITION BY p_brand ORDER BY month), share_bp) AS delta_bp
        |FROM sh""".stripMargin),

    // A25 — RFM segmentation: the classic customer-base slicing into
    // recency/frequency/monetary quartiles. Quartile assignment is pure
    // integer rank arithmetic — q = (rank−1)·4 div n + 1 over a total
    // (metric, user) order — so segment membership is engine-identical
    // with no percentile interpolation anywhere; monetary sums are exact
    // decimals. r14 opt (guide §2.6/§5): the three ranks ride the
    // range-partitioned two-pass ranker (ops/Ranking.scala) instead of
    // three unpartitioned row_number windows — at 100 TB those were three
    // serial single-task sorts of the ENTIRE user rollup. The quartile
    // arithmetic is reproduced exactly ((pos−1)·4 / n + 1, truncating
    // int cast over the same total order), so segment membership — and
    // the oracle hash — is unchanged. The rollup is checkpointed once so
    // the three rank passes read it instead of re-aggregating events.
    Query("a25_rfm", Throughput, (s, dir) => {
      val base = ev(s, dir).groupBy(col("user_id"))
        .agg(max(unix_micros(col("ts"))).as("r_us"),
          count(lit(1)).as("f"),
          sum(col("value").cast("decimal(30,4)")).as("m"))
        .localCheckpoint()
      val nUsers = broadcast(base.agg(count(lit(1)).as("__n")))
      val ranked = graft.ops.Ranking.globalRowNumber(
        graft.ops.Ranking.globalRowNumber(
          graft.ops.Ranking.globalRowNumber(base,
            Seq(col("r_us").desc, col("user_id")), "__rp"),
          Seq(col("f").desc, col("user_id")), "__fp"),
        Seq(col("m").desc, col("user_id")), "__mp")
      def quartile(pos: Column) =
        ((pos - 1) * 4 / col("__n") + 1).cast("int")
      ranked.crossJoin(nUsers)
        .select(quartile(col("__rp")).as("rq"), quartile(col("__fp")).as("fq"),
          quartile(col("__mp")).as("mq"))
        .groupBy(col("rq"), col("fq"), col("mq"))
        .agg(count(lit(1)).as("n_users"))
    },
      // Quartiles as integer rank arithmetic over the same total orders.
      """WITH base AS (SELECT user_id,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS r_us, COUNT(*) AS f,
        |    SUM(CAST(value AS DECIMAL(30,4))) AS m
        |  FROM events GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS n FROM base),
        |q AS (SELECT user_id,
        |    CAST((row_number() OVER (ORDER BY r_us DESC, user_id) - 1) * 4
        |         // (SELECT n FROM nn) + 1 AS INT) AS rq,
        |    CAST((row_number() OVER (ORDER BY f DESC, user_id) - 1) * 4
        |         // (SELECT n FROM nn) + 1 AS INT) AS fq,
        |    CAST((row_number() OVER (ORDER BY m DESC, user_id) - 1) * 4
        |         // (SELECT n FROM nn) + 1 AS INT) AS mq
        |  FROM base)
        |SELECT rq, fq, mq, COUNT(*) AS n_users FROM q GROUP BY 1, 2, 3""".stripMargin),

    // A24 — last-touch attribution: each purchase attributed to the
    // user's most recent PRIOR click within a 1-hour lookback — the
    // marketing-analytics join that needs NO join: one per-user window
    // pass carries the last-click timestamp forward (last_value IGNORE
    // NULLS over a strictly-preceding frame, so a click at the purchase's
    // own timestamp never self-attributes), and the lookback is integer
    // microsecond arithmetic. Same exchange profile as mon12: one
    // hash-partitioned per-user sort, then a narrow rollup.
    Query("a24_attribution", Throughput, (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      ev(s, dir)
        .withColumn("lc", last(
          when(col("event_type") === "click", unix_micros(col("ts"))),
          ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          when(col("lc").isNotNull &&
            unix_micros(col("ts")) - col("lc") <= 3600L * 1000000L, 1L)
            .otherwise(0L).as("attributed"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases"), sum(col("attributed")).as("n_attributed"))
    },
      // Same strictly-preceding frame and integer-microsecond lookback.
      """WITH o AS (SELECT user_id, event_type, ts,
        |    last_value(CASE WHEN event_type = 'click'
        |        THEN epoch_us(CAST(ts AS TIMESTAMP)) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lc
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_purchases,
        |  CAST(SUM(CASE WHEN lc IS NOT NULL
        |    AND epoch_us(CAST(ts AS TIMESTAMP)) - lc <= 3600000000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed
        |FROM o WHERE event_type = 'purchase' GROUP BY 1""".stripMargin),

    // A23 — Wilson-lower-bound rate ranking: the confidence-adjusted
    // success rate (Wilson '27) that sorts a low-n 100% above nothing but
    // below a high-n 95% — how production ranks conversion/error rates
    // instead of the raw p̂ a3-style aggregates give. One grouped aggregate
    // (n, successes), then a single fixed-order IEEE formula mirrored
    // token-for-token by the oracle (z=1.96 parsed from the same literal,
    // every +,−,×,÷,√ correctly rounded and in the same order → bit-equal,
    // the Holt/mon9 discipline), rendered at 6 dp.
    Query("a23_wilson", Throughput, (s, dir) => {
      val z = lit(1.96)
      val zz = z * z
      val nD = col("n").cast("double")
      val p = col("x").cast("double") / nD
      val lower = (p + zz / (lit(2.0) * nD)
        - z * sqrt(p * (lit(1.0) - p) / nD + zz / ((lit(4.0) * nD) * nD))) /
        (lit(1.0) + zz / nD)
      ev(s, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") > 100.0, 1L).otherwise(0L)).as("x"))
        .select(col("event_type"), col("n"), col("x"),
          Exact.fmt(lower, 6).as("wilson_r"))
    },
      // Token-for-token mirror of the engine's Wilson formula (same operand
      // order, z from the same string literal).
      """WITH g AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |w AS (SELECT event_type, n, x,
        |    CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |    CAST('1.96' AS DOUBLE) * CAST('1.96' AS DOUBLE) AS zz,
        |    CAST(n AS DOUBLE) AS nd
        |  FROM g)
        |SELECT event_type, n, x,
        |  printf('%.6f',
        |    (p + zz / (2.0 * nd)
        |     - CAST('1.96' AS DOUBLE) * sqrt(p * (1.0 - p) / nd + zz / ((4.0 * nd) * nd)))
        |    / (1.0 + zz / nd)) AS wilson_r
        |FROM w""".stripMargin),

    // A10 — sliding (hopping) event-time window: 10-min windows every 5 min.
    Query("a10_sliding_window", Throughput, (s, dir) =>
      ev(s, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"), Exact.sumD(col("value"), 2).as("sum_value"))
        .select(unix_micros(col("w.start")).as("w_start_us"),
          col("n_events"), col("sum_value")),
      // every event falls in exactly two 10-min/5-min hopping windows; window
      // starts computed in integer epoch-microseconds (Spark's origin is the
      // epoch; both engines floor identically)
      """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS t, value FROM events),
        |x AS (SELECT value, t, unnest([(t // 300000000) * 300000000,
        |                               (t // 300000000) * 300000000 - 300000000]) AS ws FROM e)
        |SELECT ws AS w_start_us, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM x WHERE t >= ws AND t < ws + 600000000 GROUP BY ws""".stripMargin),

    // A11 — session window per user: sessions close after a 30-min gap.
    Query("a11_session_window", Throughput, (s, dir) =>
      ev(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
          col("n_events")),
      // session closes when the gap reaches 30 min (Spark merges only strictly
      // overlapping [t, t+gap) intervals → >= starts a new session)
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
        |f AS (SELECT user_id, t,
        |        CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w >= 1800000000
        |             THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |g AS (SELECT user_id, t, sum(ns) OVER (PARTITION BY user_id ORDER BY t
        |                                       ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        |SELECT user_id, min(t) AS session_start_us, COUNT(*) AS n_events
        |FROM g GROUP BY user_id, sid""".stripMargin),

    // A12 — hierarchical rollup: (event_type, day) with subtotals and a
    // grand total in one pass.
    Query("a12_rollup", Throughput, (s, dir) =>
      ev(s, dir)
        .rollup(col("event_type"),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"), Exact.sumD(col("value"), 2).as("sum_value")),
      """SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY ROLLUP (event_type, strftime(date_trunc('day', ts), '%Y-%m-%d'))""".stripMargin),

    // A13 — cube over (event_type, day): all four grouping sets in one pass,
    // disambiguated by the grouping-set id (rounding out the rollup family;
    // same partial-agg shuffle shape as a12 with 4x the grouping sets).
    Query("a13_cube", Throughput, (s, dir) =>
      ev(s, dir)
        .cube(col("event_type"),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .agg(grouping_id().cast("int").as("gid"),
          count(lit(1)).as("n_events"), Exact.sumD(col("value"), 2).as("sum_value")),
      // Spark's grouping_id() packs grouping(col_i) bits MSB-first:
      // gid = grouping(event_type)*2 + grouping(day).
      """SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  CAST(GROUPING(event_type) * 2
        |       + GROUPING(strftime(date_trunc('day', ts), '%Y-%m-%d')) AS INTEGER) AS gid,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY CUBE (event_type, strftime(date_trunc('day', ts), '%Y-%m-%d'))""".stripMargin),

    // A14 — exact percentiles per group (p50/p95/p99 with linear
    // interpolation — the monitoring-dashboard rollup surface).
    Query("a14_percentiles", Throughput, (s, dir) =>
      ev(s, dir).groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.95)").as("p95"),
          expr("percentile(value, 0.99)").as("p99"),
          count(lit(1)).as("n")),
      """SELECT event_type,
        |  quantile_cont(value, CAST('0.5' AS DOUBLE)) AS p50,
        |  quantile_cont(value, CAST('0.95' AS DOUBLE)) AS p95,
        |  quantile_cont(value, CAST('0.99' AS DOUBLE)) AS p99,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type""".stripMargin),

    // A16 — gap fill / resample: the irregular event stream regularized
    // onto a dense per-type minute spine with forward fill (the ffill step
    // a fixed-frequency model like the reference's DeepAR requires), rolled
    // up per day for the checked output. Observed minute sums and the daily
    // rollup both route through the decimal accumulator, so every carried
    // cell is pinned digit-exact through the day sums; n_observed vs
    // n_carried split exposes which minutes were synthesized. The spine
    // builds from a broadcast bounds row (never a per-event explode) and
    // the fill window partitions by key — see SeriesETL.gapFillMinutes for
    // the over-long-timeline two-pass variant.
    Query("a16_gapfill", Throughput, (s, dir) =>
      graft.batch.SeriesETL.gapFillMinutes(
          ev(s, dir).select(col("event_type"), col("ts"), col("value")),
          "ts", "event_type", "value", sumScale = 2)
        .groupBy(col("event_type"), date_format(col("m"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_minutes"),
          count(col("v")).as("n_observed"),
          count(col("fv")).as("n_carried"),
          Exact.sumD(col("fv"), 2).as("sum_filled")),
      // Mirrors SeriesETL.gapFillMinutes + the daily rollup: same minute
      // truncation, same decimal accumulators, same forward-fill window.
      """WITH b AS (SELECT date_trunc('minute', min(ts)) AS lo,
        |                  date_trunc('minute', max(ts)) AS hi FROM events),
        |ty AS (SELECT DISTINCT event_type FROM events),
        |spine AS (SELECT event_type,
        |            unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS m
        |          FROM ty CROSS JOIN b),
        |obs AS (SELECT event_type, date_trunc('minute', ts) AS m,
        |          CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS v
        |        FROM events GROUP BY 1, 2),
        |f AS (SELECT s.event_type, s.m, o.v,
        |        last_value(o.v IGNORE NULLS) OVER (
        |          PARTITION BY s.event_type ORDER BY s.m
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
        |      FROM spine s LEFT JOIN obs o
        |        ON s.event_type = o.event_type AND s.m = o.m)
        |SELECT event_type, strftime(m, '%Y-%m-%d') AS day,
        |  COUNT(*) AS n_minutes, COUNT(v) AS n_observed, COUNT(fv) AS n_carried,
        |  CAST(SUM(CAST(fv AS DECIMAL(30,2))) AS DOUBLE) AS sum_filled
        |FROM f GROUP BY 1, 2""".stripMargin)
  )
}
