package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Exact

import Kind.{Maintenance, Throughput}
import Shared._

/** Joins: anti and semi, as-of, range and interval, skew and bucketed
  * joins, point-in-time features; and the geo (spatial) queries. */
private[queries] object JoinQueries {
  val all: Seq[Query] = Seq(
    // J3 — scalar threshold compare + feedback: the monitoring loop's
    // "tighten the alarm threshold when the model improves" as a 1-row query
    // (update_monitoring_threshold.py:66-101; rate 0.5).
    Query("j3_threshold_update", Throughput, (s, dir) => {
      val th = lit(0.35)
      val agg = predFrame(s, dir).agg(
        Exact.sumD(abs(col("target")), 10).as("abs_sum"),
        Exact.sumD(ql(0.05), 10).as("s_low"),
        Exact.sumD(ql(0.5), 10).as("s_mid"),
        Exact.sumD(ql(0.95), 10).as("s_up"))
      agg.select(((lit(2.0) / col("abs_sum") * col("s_low")
          + lit(2.0) / col("abs_sum") * col("s_mid")
          + lit(2.0) / col("abs_sum") * col("s_up")) / 3.0).as("mean_wql"))
        .select(col("mean_wql"), th.as("threshold"),
          graft.monitor.ThresholdUpdate.nextCol(col("mean_wql"), th, lit(0.5))
            .as("next_threshold"))
    },
      s"""WITH p AS ($predSql), agg AS (
         |  SELECT CAST(SUM(CAST(abs(target) AS DECIMAL(30,10))) AS DOUBLE) AS abs_sum,
         |    CAST(SUM(CAST(${qlSql(0.05)} AS DECIMAL(30,10))) AS DOUBLE) AS s_low,
         |    CAST(SUM(CAST(${qlSql(0.5)} AS DECIMAL(30,10))) AS DOUBLE) AS s_mid,
         |    CAST(SUM(CAST(${qlSql(0.95)} AS DECIMAL(30,10))) AS DOUBLE) AS s_up
         |  FROM p),
         |w AS (SELECT (2.0 / abs_sum * s_low + 2.0 / abs_sum * s_mid
         |              + 2.0 / abs_sum * s_up) / 3.0 AS mean_wql FROM agg)
         |SELECT mean_wql, CAST('0.35' AS DOUBLE) AS threshold,
         |  CASE WHEN mean_wql < CAST('0.35' AS DOUBLE)
         |       THEN mean_wql + abs(mean_wql - CAST('0.35' AS DOUBLE)) * CAST('0.5' AS DOUBLE)
         |       ELSE CAST('0.35' AS DOUBLE) END AS next_threshold
         |FROM w""".stripMargin),

    // J10 — SCD2 temporal enrichment (fact AS-OF dimension): purchases
    // joined to the user's click-value dimension VERSION valid at event
    // time — the warehouse shape o18's SCD2 table exists for. Spark-first
    // plan: NOT a range join (per-user interval predicates go quadratic in
    // user density) — dim-change rows and fact rows UNION into one
    // per-user timeline, one window pass carries the last dim version
    // forward (last ignoreNulls), dim sorting before fact at equal
    // timestamps gives the >= valid_from semantics exactly. Equivalent to
    // the interval-predicate join (zero-length versions at duplicate
    // timestamps match nothing in both formulations); the oracle states
    // the NAIVE predicate join to keep the equivalence honest. One sort
    // exchange on user_id — no pair blowup at any density.
    Query("j10_scd2_asof", Throughput, (s, dir) => {
      val e = ev(s, dir).select(col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("t"), col("event_id"))
      val wd = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
      val dim = e.filter(col("event_type") === "click")
        .withColumn("prev", lag(col("value"), 1).over(wd))
        .filter(col("prev").isNull || col("value") =!= col("prev"))
        .select(col("user_id"), col("t"), col("event_id"),
          col("value").as("dim_value"))
        .withColumn("version", row_number().over(wd))
      val facts = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("t"), col("event_id"))
      val uni = dim.select(col("user_id"), col("t"), lit(1).as("is_dim"),
          col("event_id"), col("dim_value"), col("version"))
        .unionByName(facts.select(col("user_id"), col("t"),
          lit(0).as("is_dim"), col("event_id"),
          lit(null).cast("double").as("dim_value"),
          lit(null).cast("int").as("version")))
      val wA = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("is_dim").desc, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      uni
        .withColumn("v", last(col("version"), ignoreNulls = true).over(wA))
        .withColumn("dv", last(col("dim_value"), ignoreNulls = true).over(wA))
        .filter(col("is_dim") === 0)
        .select(col("event_id"), col("user_id"),
          col("v").as("version"), col("dv").as("dim_value"))
    },
      // Mirrors o18_scd2: change rows via lag, intervals via lead/row_number,
      // identical (t, event_id) ordering on both engines.
      // The NAIVE interval-predicate join over the o18-style SCD2 chain —
      // deliberately independent of the engine's union+window timeline plan.
      """WITH e AS (SELECT user_id, event_type, value,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id FROM events),
        |c AS (SELECT *, lag(value) OVER (PARTITION BY user_id
        |                                 ORDER BY t, event_id) AS prev
        |      FROM e WHERE event_type = 'click'),
        |ch AS (SELECT user_id, value, t, event_id FROM c
        |       WHERE prev IS NULL OR value <> prev),
        |d AS (SELECT user_id, value AS dim_value, t AS valid_from_us,
        |    lead(t) OVER w AS valid_to_us, row_number() OVER w AS version
        |  FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |f AS (SELECT user_id, t, event_id FROM e
        |      WHERE event_type = 'purchase')
        |SELECT f.event_id, f.user_id, d.version, d.dim_value
        |FROM f LEFT JOIN d ON d.user_id = f.user_id
        |  AND f.t >= d.valid_from_us
        |  AND (d.valid_to_us IS NULL OR f.t < d.valid_to_us)""".stripMargin),

    // GEO1 — grid-blocked radius join (the spatial candidate geometry:
    // ⌊coord/g⌋ cells + 3×3 neighborhood probes turn the naive cartesian
    // "all points within ε" into one equi-join with full recall when
    // g ≥ ε). Coordinates are synthesized deterministically per customer
    // from md5 (the m*-fixture pattern — the tables carry no geo columns);
    // verification is planar squared-degree distance, pure +,×,≤
    // arithmetic so engine and oracle agree bit-for-bit (production swaps
    // haversine into the same plan; transcendentals aren't
    // correctly-rounded in either engine, so the GATE pins the geometry,
    // not libm).
    Query("geo1_radius_join", Throughput, (s, dir) => {
      val hv = (tag: String) =>
        conv(substring(md5(concat(lit(tag), col("c_custkey").cast("string"))), 1, 6),
          16, 10).cast("long")
      val pts = Tables.customer(s, dir).select(col("c_custkey").as("id"),
        ((hv("lat:") % 1600000L).cast("double") / lit(10000.0) - lit(80.0)).as("lat"),
        ((hv("lon:") % 3600000L).cast("double") / lit(10000.0) - lit(180.0)).as("lon"))
      graft.ops.GeoOps.gridRadiusJoin(pts, pts.filter(col("id") % 50 === 0),
          "id", "lat", "lon", eps = 12.0, gridSize = 12.0)
        .select(col("query_id"), col("point_id"), Exact.fmt(col("d2"), 6).as("d2_r"))
    },
      // Brute-force predicate join over the identically synthesized
      // coordinates — the grid blocking is recall-lossless (g ≥ ε), so the
      // oracle never needs cells.
      {
      def hv(tag: String) = (1 to 6).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('$tag' || CAST(c_custkey AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (6 - j))}")
        .mkString(" + ")
      s"""WITH p AS (SELECT c_custkey AS id,
         |    CAST((${hv("lat:")}) % 1600000 AS DOUBLE) / CAST(10000 AS DOUBLE)
         |      - CAST(80 AS DOUBLE) AS lat,
         |    CAST((${hv("lon:")}) % 3600000 AS DOUBLE) / CAST(10000 AS DOUBLE)
         |      - CAST(180 AS DOUBLE) AS lon
         |  FROM customer)
         |SELECT q.id AS query_id, p.id AS point_id,
         |  printf('%.6f', (q.lat - p.lat) * (q.lat - p.lat)
         |                 + (q.lon - p.lon) * (q.lon - p.lon)) AS d2_r
         |FROM p q JOIN p ON q.id % 50 = 0 AND q.id <> p.id
         |WHERE (q.lat - p.lat) * (q.lat - p.lat)
         |      + (q.lon - p.lon) * (q.lon - p.lon) <= 144.0""".stripMargin
    }),

    // GEO3 — grid-density clustering (grid-DBSCAN): the third clustering
    // family beside s8's k-means (needs k, convex cells) and d6's dup-graph
    // CC (needs a pairwise predicate) — density thresholding at cell
    // resolution, arbitrary-shape clusters via 8-adjacency CC over CORE
    // cells. minPts is corpus-derived (max(2, ⌊3N/2C⌋+1), ~1.5× the mean
    // occupied-cell load — a fixed threshold flips all-core/none-core
    // across SFs). One corpus shuffle (cell counts); all else cell-bounded.
    Query("geo3_grid_dbscan", Throughput, (s, dir) => {
      val hv = (tag: String) =>
        conv(substring(md5(concat(lit(tag), col("c_custkey").cast("string"))), 1, 6),
          16, 10).cast("long")
      val pts = Tables.customer(s, dir).select(
        ((hv("lat:") % 1600000L).cast("double") / lit(10000.0) - lit(80.0)).as("lat"),
        ((hv("lon:") % 3600000L).cast("double") / lit(10000.0) - lit(180.0)).as("lon"))
      graft.ops.GeoOps.gridDbscan(pts, "lat", "lon", cellSize = 20.0,
          latOrigin = -80.0, lonOrigin = -180.0, nx = 18L)
        .select(col("cy"), col("cx"), col("n_pts"), col("cluster_id"))
    },
      // Core cells by the corpus-derived density threshold; CC over the
      // 8-adjacency predicate (the naive form — independent of the engine's
      // neighbor-id expansion); min-label components, isolated cores label
      // themselves.
      {
      def hv(tag: String) = (1 to 6).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('$tag' || CAST(c_custkey AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (6 - j))}")
        .mkString(" + ")
      s"""WITH RECURSIVE p AS (SELECT
         |    CAST((${hv("lat:")}) % 1600000 AS DOUBLE) / CAST(10000 AS DOUBLE)
         |      - CAST(80 AS DOUBLE) AS lat,
         |    CAST((${hv("lon:")}) % 3600000 AS DOUBLE) / CAST(10000 AS DOUBLE)
         |      - CAST(180 AS DOUBLE) AS lon
         |  FROM customer),
         |cells AS (SELECT CAST(floor((lat + 80) / 20) AS BIGINT) AS cy,
         |    CAST(floor((lon + 180) / 20) AS BIGINT) AS cx,
         |    count(*) AS n_pts
         |  FROM p GROUP BY 1, 2),
         |st AS (SELECT CAST(SUM(n_pts) AS BIGINT) AS n_total,
         |    count(*) AS n_cells FROM cells),
         |core AS (SELECT cy, cx, n_pts, cy * 18 + cx AS cell_id
         |  FROM cells CROSS JOIN st
         |  WHERE n_pts >= greatest(2, 3 * n_total // (2 * n_cells) + 1)),
         |edges AS (SELECT a.cell_id AS src, b.cell_id AS dst
         |  FROM core a JOIN core b ON abs(a.cy - b.cy) <= 1
         |    AND abs(a.cx - b.cx) <= 1 AND a.cell_id <> b.cell_id),
         |reach(id, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT re.id, e.dst FROM reach re JOIN edges e ON re.r = e.src),
         |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT c.cy, c.cx, c.n_pts,
         |  COALESCE(l.cluster_id, c.cell_id) AS cluster_id
         |FROM core c LEFT JOIN lab l ON c.cell_id = l.id""".stripMargin
    }),

    // GEO2 — nearest-neighbor spatial lookup: geo1's candidate relation
    // reduced to the single closest point per query (ties → min id) — the
    // reverse-geocode/store-finder serve. Queries with NO point within ε
    // are absent (a bounded-radius NN, the production contract: beyond ε
    // you show "no results", not a continent-away match).
    Query("geo2_nearest", Throughput, (s, dir) => {
      val hv = (tag: String) =>
        conv(substring(md5(concat(lit(tag), col("c_custkey").cast("string"))), 1, 6),
          16, 10).cast("long")
      val pts = Tables.customer(s, dir).select(col("c_custkey").as("id"),
        ((hv("lat:") % 1600000L).cast("double") / lit(10000.0) - lit(80.0)).as("lat"),
        ((hv("lon:") % 3600000L).cast("double") / lit(10000.0) - lit(180.0)).as("lon"))
      // argmin as a MIN over (d2, id) structs — partial-aggregated
      // map-side, so the per-query candidate pile (which grows with point
      // density) never sorts through a window exchange; struct ordering
      // IS the (distance, id) tie-break. Measured 43.9 s → this shape at
      // 100× density.
      graft.ops.GeoOps.gridRadiusJoin(pts, pts.filter(col("id") % 50 === 0),
          "id", "lat", "lon", eps = 12.0, gridSize = 12.0)
        .groupBy(col("query_id"))
        .agg(min(struct(col("d2"), col("point_id"))).as("best"))
        .select(col("query_id"), col("best.point_id").as("point_id"),
          Exact.fmt(col("best.d2"), 6).as("d2_r"))
    },
      // geo1's brute-force predicate join reduced to the per-query argmin.
      {
      def hv(tag: String) = (1 to 6).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('$tag' || CAST(c_custkey AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (6 - j))}")
        .mkString(" + ")
      s"""WITH p AS (SELECT c_custkey AS id,
         |    CAST((${hv("lat:")}) % 1600000 AS DOUBLE) / CAST(10000 AS DOUBLE)
         |      - CAST(80 AS DOUBLE) AS lat,
         |    CAST((${hv("lon:")}) % 3600000 AS DOUBLE) / CAST(10000 AS DOUBLE)
         |      - CAST(180 AS DOUBLE) AS lon
         |  FROM customer),
         |d AS (SELECT q.id AS query_id, p.id AS point_id,
         |    (q.lat - p.lat) * (q.lat - p.lat)
         |      + (q.lon - p.lon) * (q.lon - p.lon) AS d2
         |  FROM p q JOIN p ON q.id % 50 = 0 AND q.id <> p.id
         |  WHERE (q.lat - p.lat) * (q.lat - p.lat)
         |        + (q.lon - p.lon) * (q.lon - p.lon) <= 144.0)
         |SELECT query_id, point_id, printf('%.6f', d2) AS d2_r FROM (
         |  SELECT query_id, point_id, d2, row_number() OVER (
         |    PARTITION BY query_id ORDER BY d2, point_id) AS rn FROM d)
         |WHERE rn = 1""".stripMargin
    }),

    // J1 — anti-join (the dedup admission check as a relational op,
    // stream_processing/main.py:47-58): customers with no large order.
    Query("j1_anti_join", Throughput, (s, dir) =>
      Tables.customer(s, dir).join(
          Tables.orders(s, dir).filter(col("o_totalprice") > 300000.0),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")),
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_totalprice > CAST('300000.0' AS DOUBLE))""".stripMargin),

    // J2 — positional alignment of two ordered frames (evaluate.py:60-70).
    // Each side's global position comes from the two-pass range-partitioned
    // rank (ops/Ranking), not a single-partition window.
    Query("j2_positional_align", Throughput, (s, dir) => {
      val base = ev(s, dir)
      def side(uid: Int, outCol: String): DataFrame =
        graft.ops.Ranking.globalRowNumber(
          base.filter(col("user_id") === uid)
            .select(col("ts"), col("event_id"), col("value")),
          Seq(col("ts"), col("event_id")), "pos")
          // int at the query edge (oracle schema); the operator itself is long
          .select(col("pos").cast("int").as("pos"), col("value").as(outCol))
      val t = side(1, "target"); val p = side(2, "prediction")
      t.join(p, "pos")
        .select(col("pos"), col("target"), col("prediction"),
          ((col("target") - col("prediction")) * (col("target") - col("prediction"))).as("sq_err"))
    },
      """WITH t AS (SELECT row_number() OVER (ORDER BY ts, event_id) AS pos, value AS target
        |           FROM events WHERE user_id = 1),
        |p AS (SELECT row_number() OVER (ORDER BY ts, event_id) AS pos, value AS prediction
        |      FROM events WHERE user_id = 2)
        |SELECT t.pos, target, prediction, (target - prediction) * (target - prediction) AS sq_err
        |FROM t JOIN p ON t.pos = p.pos""".stripMargin),

    // J12 — as-of join with a STALENESS TOLERANCE (the feature-store
    // serving rule: a feature older than the bound must not be used —
    // better no feature than a misleading one): j4's backward as-of with
    // the matched right timestamp carried through, then a narrow
    // post-classification — fresh (within 2 h), stale (matched but too
    // old → feature nulled), none. Same one-shuffle union-window plan as
    // j4; tolerance costs zero extra exchanges.
    Query("j12_asof_tolerance", Throughput, (s, dir) => {
      val e = ev(s, dir)
      val tolUs = 7200000000L
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("t_us"), col("value"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("user_id"), unix_micros(col("ts")).as("err_t_us"),
          col("event_id").as("err_event_id"), col("value").as("err_value"))
      graft.ops.AsOfJoin.backward(clicks, errors, Seq("user_id"),
          "t_us", "err_t_us", Seq("err_t_us", "err_event_id", "err_value"),
          rightTiebreak = Some("err_event_id"), joinType = "left")
        .select(col("user_id"), col("event_id"), col("t_us"), col("value"),
          when(col("err_t_us") >= col("t_us") - tolUs,
            col("err_event_id")).as("f_event_id"),
          when(col("err_t_us") >= col("t_us") - tolUs,
            col("err_value")).as("f_value"),
          when(col("err_t_us").isNull, lit("none"))
            .when(col("err_t_us") < col("t_us") - tolUs, lit("stale"))
            .otherwise(lit("fresh")).as("staleness"))
    },
      // Deliberately the naive inequality join + per-click rank (DuckDB
      // plans it itself) — independent of the engine's union-window as-of;
      // the (err_t_us DESC, err_event_id DESC) rank restates the backward
      // visibility + highest-tiebreak contract.
      """WITH clicks AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, value
        |  FROM events WHERE event_type = 'click'),
        |errors AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS err_t_us,
        |    event_id AS err_event_id, value AS err_value
        |  FROM events WHERE event_type = 'error'),
        |m AS (SELECT c.user_id, c.event_id, c.t_us, c.value,
        |    e.err_t_us, e.err_event_id, e.err_value,
        |    row_number() OVER (PARTITION BY c.user_id, c.event_id
        |      ORDER BY e.err_t_us DESC, e.err_event_id DESC) AS rn
        |  FROM clicks c LEFT JOIN errors e
        |    ON e.user_id = c.user_id AND e.err_t_us <= c.t_us)
        |SELECT user_id, event_id, t_us, value,
        |  CASE WHEN err_t_us >= t_us - 7200000000 THEN err_event_id END AS f_event_id,
        |  CASE WHEN err_t_us >= t_us - 7200000000 THEN err_value END AS f_value,
        |  CASE WHEN err_t_us IS NULL THEN 'none'
        |       WHEN err_t_us < t_us - 7200000000 THEN 'stale'
        |       ELSE 'fresh' END AS staleness
        |FROM m WHERE rn = 1""".stripMargin),

    // J4 — backward as-of join: for each click, the latest preceding error
    // of the same user (point-in-time-correct feature lookup).
    Query("j4_asof_join", Throughput, (s, dir) => {
      val e = ev(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t_us"), col("value"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("user_id"), unix_micros(col("ts")).as("err_t_us"),
          col("event_id").as("err_event_id"), col("value").as("err_value"))
      graft.ops.AsOfJoin.backward(clicks, errors, Seq("user_id"),
        "t_us", "err_t_us", Seq("err_event_id", "err_value"),
        rightTiebreak = Some("err_event_id"))
    },
      """WITH c AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, value
        |           FROM events WHERE event_type = 'click'),
        |e0 AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS err_t_us,
        |              event_id AS err_event_id, value AS err_value
        |       FROM events WHERE event_type = 'error'),
        |e AS (SELECT user_id, err_t_us, err_event_id, err_value FROM (
        |        SELECT *, row_number() OVER (PARTITION BY user_id, err_t_us
        |                                     ORDER BY err_event_id DESC) AS rn FROM e0)
        |      WHERE rn = 1)
        |SELECT c.user_id, c.event_id, c.t_us, c.value, e.err_event_id, e.err_value
        |FROM c ASOF JOIN e ON c.user_id = e.user_id AND c.t_us >= e.err_t_us""".stripMargin),

    // J13 — NEAREST as-of join (both directions, argmin |Δt|): the
    // sensor/tick alignment semantics j4/j4b can't express — backward-only
    // biases toward stale matches when the next reading is closer. One
    // union + ONE key-shuffled sort (both frames share the order → a
    // single Window pass), ties resolve backward, exact-time matches are
    // backward at distance 0. See AsOfJoin.nearest.
    Query("j13_nearest_asof", Throughput, (s, dir) => {
      val e = ev(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t_us"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("user_id"), unix_micros(col("ts")).as("err_t_us"),
          col("event_id").as("err_event_id"))
      graft.ops.AsOfJoin.nearest(clicks, errors, Seq("user_id"),
          "t_us", "err_t_us", Seq("err_event_id"),
          rightTiebreak = Some("err_event_id"))
        .select(col("user_id"), col("event_id"), col("err_event_id"),
          col("asof_dt").as("dt_us"), col("asof_dir").as("direction"))
    },
      // The strongest oracle form for j13: DuckDB's own ASOF joins in both
      // directions + the identical pick rule — fully independent of the
      // engine's union-window construction.
      """WITH c AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us
        |           FROM events WHERE event_type = 'click'),
        |e0 AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS err_t_us,
        |              event_id AS err_event_id
        |       FROM events WHERE event_type = 'error'),
        |e AS (SELECT user_id, err_t_us, err_event_id FROM (
        |        SELECT *, row_number() OVER (PARTITION BY user_id, err_t_us
        |                                     ORDER BY err_event_id DESC) AS rn FROM e0)
        |      WHERE rn = 1),
        |b AS (SELECT c.user_id, c.event_id, c.t_us,
        |             e.err_event_id AS b_id, e.err_t_us AS b_rt
        |      FROM c ASOF LEFT JOIN e
        |        ON c.user_id = e.user_id AND c.t_us >= e.err_t_us),
        |f AS (SELECT c.user_id, c.event_id,
        |             e.err_event_id AS f_id, e.err_t_us AS f_rt
        |      FROM c ASOF LEFT JOIN e
        |        ON c.user_id = e.user_id AND c.t_us <= e.err_t_us),
        |j AS (SELECT b.user_id, b.event_id, b.t_us, b.b_id, b.b_rt,
        |             f.f_id, f.f_rt,
        |        (b.b_id IS NOT NULL AND (f.f_id IS NULL OR
        |           (b.t_us - b.b_rt) <= (f.f_rt - b.t_us))) AS pb
        |      FROM b JOIN f ON b.user_id = f.user_id AND b.event_id = f.event_id)
        |SELECT user_id, event_id,
        |  CASE WHEN pb THEN b_id ELSE f_id END AS err_event_id,
        |  CAST(CASE WHEN pb THEN t_us - b_rt ELSE f_rt - t_us END AS BIGINT) AS dt_us,
        |  CASE WHEN pb THEN 'backward' ELSE 'forward' END AS direction
        |FROM j WHERE b_id IS NOT NULL OR f_id IS NOT NULL""".stripMargin),

    // J4b — FORWARD as-of join: for each click, the EARLIEST error of the
    // same user at-or-after it (next-event lookup — time-to-next-error
    // labels); j4's union-window composition traversed in reverse time
    // order, same one-shuffle linear-per-key cost, no range explosion.
    Query("j4b_asof_forward", Throughput, (s, dir) => {
      val e = ev(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t_us"), col("value"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("user_id"), unix_micros(col("ts")).as("err_t_us"),
          col("event_id").as("err_event_id"), col("value").as("err_value"))
      graft.ops.AsOfJoin.forward(clicks, errors, Seq("user_id"),
        "t_us", "err_t_us", Seq("err_event_id", "err_value"),
        rightTiebreak = Some("err_event_id"))
    },
      """WITH c AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, value
        |           FROM events WHERE event_type = 'click'),
        |e0 AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS err_t_us,
        |              event_id AS err_event_id, value AS err_value
        |       FROM events WHERE event_type = 'error'),
        |e AS (SELECT user_id, err_t_us, err_event_id, err_value FROM (
        |        SELECT *, row_number() OVER (PARTITION BY user_id, err_t_us
        |                                     ORDER BY err_event_id DESC) AS rn FROM e0)
        |      WHERE rn = 1)
        |SELECT c.user_id, c.event_id, c.t_us, c.value, e.err_event_id, e.err_value
        |FROM c ASOF JOIN e ON c.user_id = e.user_id AND c.t_us <= e.err_t_us""".stripMargin),

    // Multi-way dimension join + grouped revenue (broadcast the dims).
    Query("j5_region_revenue", Throughput, (s, dir) => {
      val o = Tables.orders(s, dir)
      val c = broadcast(Tables.customer(s, dir))
      val n = broadcast(Tables.nation(s, dir))
      val r = broadcast(Tables.region(s, dir))
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"), Exact.sumD(col("o_totalprice"), 2).as("revenue"))
    },
      """SELECT r_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin),

    // J7 — salted skew join (ops/Skew.saltedJoin): fact×dim where the fact's
    // key distribution may be heavy-tailed. Salting spreads each hot key over
    // n tasks; the oracle is the PLAIN join — salting must be semantically
    // invisible. Dim side replicated n×, still broadcast-small.
    Query("j7_skew_join", Throughput, (s, dir) => {
      val l = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("partkey"), col("l_quantity"))
      val p = Tables.part(s, dir)
        .select(col("p_partkey").as("partkey"), col("p_brand"))
      graft.ops.Skew.saltedJoin(l, p, "partkey", n = 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"), Exact.sumD(col("l_quantity"), 2).as("sum_qty"))
    },
      """SELECT p_brand, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin),

    // J8 — co-located (bucketed) join: both sides written bucketed by the
    // join key with the same bucket count, then joined with NO Exchange over
    // either scan (plan asserted in BucketingSpec; result asserted here
    // against the plain-join oracle). The 100 TB pattern: pay the shuffle at
    // write time once, join co-located forever after.
    Query("j8_bucketed_join", Maintenance, (s, dir) => {
      // a prior JVM's managed-table dir survives the in-memory catalog;
      // clear both catalog entry and orphan dir or saveAsTable throws
      // LOCATION_ALREADY_EXISTS
      Seq("j8_orders_bkt", "j8_customer_bkt").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new java.io.File(
          new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath, t)
        if (loc.exists()) {
          import scala.reflect.io.Directory
          new Directory(loc).deleteRecursively()
        }
      }
      val o = Tables.orders(s, dir)
        .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val c = Tables.customer(s, dir)
        .select(col("c_custkey").as("custkey"), col("c_nationkey"))
      graft.store.Bucketing.writeBucketed(o, "j8_orders_bkt", "custkey", 8)
      graft.store.Bucketing.writeBucketed(c, "j8_customer_bkt", "custkey", 8)
      graft.store.Bucketing.colocatedJoin(s, "j8_orders_bkt", "j8_customer_bkt", "custkey")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"), Exact.sumD(col("o_totalprice"), 2).as("revenue"))
    },
      """SELECT c_nationkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey""".stripMargin),

    // J11 — point-in-time-correct feature join (the feature-store op that
    // keeps training data leakage-free): for every order, the count and
    // exact cent-sum of the entity's events STRICTLY BEFORE the order
    // timestamp. Spark-first: never a correlated subquery or an inequality
    // join (which would be a per-order scan) — both relations merge into
    // ONE keyed timeline and a single running-sum window pass answers every
    // order in one exchange. Strictness is encoded in the sort: at equal
    // timestamps the order row sorts BEFORE the event rows (kind 0 < 1), so
    // the inclusive running frame sees exactly the strict past; tied order
    // rows contribute zero so intra-tie order cannot change any sum. The
    // 97-way key fold exists only to align the two synthetic id spaces —
    // with a natural shared entity key the same plan partitions by it.
    Query("j11_pit_features", Throughput, (s, dir) => {
      val e = ev(s, dir).select(
        pmod(col("user_id"), lit(97)).as("k"), col("ts"),
        lit(1).as("kind"), lit(null).cast("long").as("o_orderkey"),
        lit(1L).as("one"), floor(col("value") * 100).cast("long").as("cents"))
      val o = Tables.orders(s, dir).select(
        pmod(col("o_custkey"), lit(97)).as("k"), col("o_orderdate").as("ts"),
        lit(0).as("kind"), col("o_orderkey"),
        lit(0L).as("one"), lit(0L).as("cents"))
      val w = Window.partitionBy(col("k")).orderBy(col("ts"), col("kind"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.unionByName(o)
        .withColumn("n_prior", sum(col("one")).over(w))
        .withColumn("cents_prior", sum(col("cents")).over(w))
        .filter(col("kind") === 0)
        .select(col("o_orderkey"), col("n_prior"), col("cents_prior"))
    },
      // Deliberately the naive correlated scalar subqueries (DuckDB plans its
      // own decorrelation) — strictly-before semantics stated as ts <
      // o_orderdate, independent of the engine's merged-timeline window.
      """SELECT o_orderkey,
        |  (SELECT COUNT(*) FROM events e
        |   WHERE e.user_id % 97 = o.o_custkey % 97
        |     AND CAST(e.ts AS TIMESTAMP) < o.o_orderdate) AS n_prior,
        |  (SELECT COALESCE(CAST(SUM(CAST(floor(e.value * 100) AS BIGINT))
        |                        AS BIGINT), 0)
        |   FROM events e
        |   WHERE e.user_id % 97 = o.o_custkey % 97
        |     AND CAST(e.ts AS TIMESTAMP) < o.o_orderdate) AS cents_prior
        |FROM orders o""".stripMargin),

    // J6 — range (interval) join at scale: events matched to irregular
    // quadratic value bands [i², (i+1)²) via RangeJoin.viaBins — bands
    // expand to width-8 bins, the join is a plain equi-join on the bin
    // (shuffleable hash join, never a nested loop), the exact range
    // predicate remains as residual filter. Oracle uses the theta-join
    // formulation directly; both must agree row-for-row.
    Query("j6_range_join", Throughput, (s, dir) => {
      val bands = s.range(23).select(col("id").as("band_id"),
        (col("id") * col("id")).cast("double").as("lo"),
        ((col("id") + 1) * (col("id") + 1)).cast("double").as("hi"))
      graft.ops.RangeJoin.viaBins(
          ev(s, dir).select(col("value")), "value", bands, "lo", "hi", binWidth = 8.0)
        .groupBy(col("band_id"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n_events"), Exact.sumD(col("value"), 2).as("sum_value"))
    },
      """WITH bands AS (SELECT i AS band_id, CAST(i * i AS DOUBLE) AS lo,
        |                      CAST((i + 1) * (i + 1) AS DOUBLE) AS hi
        |               FROM range(0, 23) t(i))
        |SELECT band_id, lo, hi, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
        |GROUP BY 1, 2, 3""".stripMargin),

    // J9 — keyed interval × interval OVERLAP join (j6 is point-in-interval;
    // this is the two-sided shape behind span alignment — PII spans vs
    // chunk boundaries, impressions vs sessions). Per USER, clicks become
    // [v, v+2) and views [v, v+3) intervals on an integer-cent grid
    // (2-decimal values → exact decimal cast; overlap arithmetic in doubles
    // would put a ULP under the boundary predicate). Both sides bin-expand
    // and equi-join on (user, bin); the OWNER-BIN rule (report only in the
    // bin holding max(lo_a, lo_b), a point every overlapping pair covers)
    // makes the join dedup-free — no pair-level DISTINCT exchange. The key
    // is load-bearing at scale: unkeyed, every new interval overlaps a
    // constant fraction of an ever-denser axis (quadratic in SF); keyed,
    // per-user density is constant and the output linear. The oracle is
    // the NAIVE predicate join, deliberately independent of the binning.
    Query("j9_interval_join", Throughput, (s, dir) => {
      val e = ev(s, dir)
      def cents = (col("value").cast("decimal(12,2)") * 100).cast("long")
      val a = e.filter(col("event_type") === "click")
        .select(col("user_id").as("uid_a"), col("event_id").as("id_a"),
          cents.as("lo_a"), (cents + 200).as("hi_a"))
      val b = e.filter(col("event_type") === "view")
        .select(col("user_id").as("uid_b"), col("event_id").as("id_b"),
          cents.as("lo_b"), (cents + 300).as("hi_b"))
      graft.ops.RangeJoin.overlapViaBins(a, "lo_a", "hi_a", b, "lo_b", "hi_b",
          binWidth = 400L, keys = Seq("uid_a" -> "uid_b"))
        .select(col("uid_a").as("user_id"), col("id_a"), col("id_b"),
          (least(col("hi_a"), col("hi_b")) -
            greatest(col("lo_a"), col("lo_b"))).as("overlap_c"))
    },
      // NAIVE overlap predicate join — deliberately independent of the
      // engine's bin-expansion + owner-bin plan (the strongest oracle form:
      // it gates the SEMANTICS, not a mirrored implementation).
      """WITH a AS (SELECT user_id, event_id AS id_a,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS lo_a
        |  FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id, event_id AS id_b,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS lo_b
        |  FROM events WHERE event_type = 'view')
        |SELECT a.user_id, id_a, id_b,
        |  least(lo_a + 200, lo_b + 300) - greatest(lo_a, lo_b) AS overlap_c
        |FROM a JOIN b ON a.user_id = b.user_id
        |            AND lo_a < lo_b + 300 AND lo_b < lo_a + 200""".stripMargin)
  )
}
