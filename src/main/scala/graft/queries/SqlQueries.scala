package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Exact, SimilarityOps}

import Kind.Throughput
import Shared._

/** TPC-H shapes and the SQL surface: subqueries, set operations,
  * window functions, pivots, recursive CTEs. */
private[queries] object SqlQueries {
  val all: Seq[Query] = Seq(
    // Contract example: grouped sum over lineitem.
    Query("q1_agg", Throughput, (s, dir) =>
      Tables.lineitem(s, dir).groupBy(col("l_returnflag"))
        .agg(Exact.sumD(col("l_quantity"), 2).as("sum_qty")),
      """SELECT l_returnflag, CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // Q7 — correlated scalar subqueries through the SQL surface (TPC-H
    // Q17 shape: "small-quantity" lineitems vs their part's average):
    // TWO correlated subqueries per row, which Catalyst must de-correlate
    // (RewriteCorrelatedScalarSubquery → per-part aggregate + joins) — an
    // optimizer path nothing else in the suite exercises; left correlated,
    // this would be a per-row rescan of lineitem. The threshold
    // q < 0.2·avg is restated as the integer 5·q·cnt < Σq (quantities are
    // whole; CAST is exact in both engines), so membership is
    // engine-identical with no fp compare.
    Query("q7_small_qty", Throughput, (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("q7_lineitem")
      s.sql("""
        SELECT l_returnflag, COUNT(*) AS n_small,
          format_string('%.4f',
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)) AS rev_r
        FROM q7_lineitem l1
        WHERE CAST(l1.l_quantity AS BIGINT) * 5 *
              (SELECT COUNT(*) FROM q7_lineitem l2
               WHERE l2.l_partkey = l1.l_partkey)
            < (SELECT SUM(CAST(l2.l_quantity AS BIGINT)) FROM q7_lineitem l2
               WHERE l2.l_partkey = l1.l_partkey)
        GROUP BY l_returnflag""")
    },
      // Same correlated form — DuckDB de-correlates it with its own
      // unnesting; the integer threshold keeps membership engine-identical.
      """SELECT l_returnflag, COUNT(*) AS n_small,
        |  printf('%.4f',
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)) AS rev_r
        |FROM lineitem l1
        |WHERE CAST(l1.l_quantity AS BIGINT) * 5 *
        |      (SELECT COUNT(*) FROM lineitem l2
        |       WHERE l2.l_partkey = l1.l_partkey)
        |    < (SELECT SUM(CAST(l2.l_quantity AS BIGINT)) FROM lineitem l2
        |       WHERE l2.l_partkey = l1.l_partkey)
        |GROUP BY l_returnflag""".stripMargin),

    // Q8 — EXISTS / NOT EXISTS through the SQL surface: the predicate-
    // subquery twin of q7's scalar form. Catalyst's RewritePredicateSubquery
    // must turn the pair into one LeftSemi and one LeftAnti join (pinned in
    // PlansSpec) — correlated-left these are per-order rescans of lineitem.
    // All-integer output.
    Query("q8_exists", Throughput, (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("q8_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("q8_lineitem")
      s.sql("""
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM q8_orders o
        WHERE EXISTS (SELECT 1 FROM q8_lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
          AND NOT EXISTS (SELECT 1 FROM q8_lineitem l
                          WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        GROUP BY o_orderpriority""")
    },
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l
        |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin),

    // Q9 — NOT IN with tri-valued NULL semantics: the third subquery
    // de-correlation path after q7 (scalar) and q8 (EXISTS). `x NOT IN (S)`
    // is NOT an anti join when NULLs are involved: a NULL anywhere in S makes
    // the predicate non-TRUE for every probe row (branch 'null_list' must
    // emit ZERO groups), and a NULL probe never passes (branch 'null_probe'
    // silently drops those customers). A plain-anti-join rewrite gets both
    // branches wrong, so this is a semantics gate, not just a plan shape:
    // Spark must plan its null-aware anti join (BroadcastHashJoin … NAAJ,
    // pinned in PlansSpec) and DuckDB agrees from first principles. The
    // NULLs are injected deterministically (every 1-URGENT order's custkey
    // in 'null_list'; every custkey ≡ 0 (mod 10) probe in 'null_probe') so
    // all three SFs exercise both poisoned paths.
    Query("q9_not_in", Throughput, (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("q9_orders")
      Tables.customer(s, dir).createOrReplaceTempView("q9_customer")
      s.sql("""
        SELECT 'plain' AS branch, c_mktsegment, COUNT(*) AS n_cust
        FROM q9_customer
        WHERE c_custkey NOT IN
          (SELECT o_custkey FROM q9_orders WHERE o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment
        UNION ALL
        SELECT 'null_list', c_mktsegment, COUNT(*)
        FROM q9_customer
        WHERE c_custkey NOT IN
          (SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
                       ELSE o_custkey END
           FROM q9_orders)
        GROUP BY c_mktsegment
        UNION ALL
        SELECT 'null_probe', c_mktsegment, COUNT(*)
        FROM q9_customer
        WHERE (CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_custkey END)
          NOT IN (SELECT o_custkey FROM q9_orders
                  WHERE o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment""")
    },
      // Same tri-valued NOT IN semantics from first principles — DuckDB plans
      // its own mark join; both engines must drop ALL rows in 'null_list' and
      // the NULL probes in 'null_probe'.
      """SELECT 'plain' AS branch, c_mktsegment, COUNT(*) AS n_cust
        |FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |UNION ALL
        |SELECT 'null_list', c_mktsegment, COUNT(*)
        |FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
        |               ELSE o_custkey END
        |   FROM orders)
        |GROUP BY c_mktsegment
        |UNION ALL
        |SELECT 'null_probe', c_mktsegment, COUNT(*)
        |FROM customer
        |WHERE (CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_custkey END)
        |  NOT IN (SELECT o_custkey FROM orders
        |          WHERE o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment""".stripMargin),

    // Q10 — WITH RECURSIVE through the SQL surface (Spark 4's UnionLoop,
    // pinned in PlansSpec): g4's seed-expansion BFS restated as the
    // anchor + self-referencing-join recursion a SQL user would write.
    // UNION ALL recursion enumerates paths (bounded: dist < 4 and out-deg
    // ≤ 2k on the k-NN graph), MIN(dist) collapses them to the hop
    // distance; only reached nodes appear (g4's spine carries the −1s).
    // The edge relation is built once in the DataFrame API and handed to
    // the recursion as a temp view — recursion is the surface under test,
    // not the graph construction.
    Query("q10_recursive_bfs", Throughput, (s, dir) => {
      val e = emb(s, dir)
      val nodes = e.select(col("vec_id"),
          col("embedding").cast("array<double>").as("__v"))
        .filter(SimilarityOps.isNonZero(col("__v")))
      val edges = SimilarityOps.knnGraph(e, "vec_id", "embedding", k = 4,
          Adaptive.signDims(e.count()))
        .select(col("id").as("src"), col("nbr_id").as("dst"))
      val und = edges
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      // lineage cut: UnionLoop re-evaluates the recursive term's view each
      // iteration — uncut, every round would rebuild the k-NN graph
      und.select(col("a").as("id"), col("b").as("nb"))
        .union(und.select(col("b").as("id"), col("a").as("nb")))
        .localCheckpoint()
        .createOrReplaceTempView("q10_nbr")
      nodes.select(col("vec_id")).filter(col("vec_id") % 97 === 0)
        .createOrReplaceTempView("q10_seeds")
      s.sql("""
        WITH RECURSIVE walk(id, dist) AS (
          SELECT vec_id AS id, 0 AS dist FROM q10_seeds
          UNION ALL
          SELECT n.nb, w.dist + 1 FROM walk w JOIN q10_nbr n ON n.id = w.id
          WHERE w.dist < 4
        )
        SELECT id AS vec_id, CAST(MIN(dist) AS BIGINT) AS dist
        FROM walk GROUP BY id""")
    },
      // DuckDB's own recursive CTE over the same edge relation — path
      // enumeration bounded by dist < 4, collapsed by MIN.
      s"""WITH RECURSIVE $knnUndirectedCtes,
         |seeds AS (SELECT id FROM spine WHERE id % 97 = 0),
         |walk(id, dist) AS (
         |  SELECT id, 0 FROM seeds
         |  UNION ALL
         |  SELECT n.nb, w.dist + 1 FROM walk w JOIN nbr n ON n.id = w.id
         |  WHERE w.dist < 4)
         |SELECT id AS vec_id, CAST(MIN(dist) AS BIGINT) AS dist
         |FROM walk GROUP BY 1""".stripMargin),

    // Q11 — LATERAL correlated derived table with ORDER BY + LIMIT: the
    // "top-N per outer row" surface form. The subquery references the outer
    // customer, so a naive evaluation is one orders scan PER customer;
    // Spark must decorrelate it into a single ranked join (DomainJoin →
    // window rank over one exchange — the plan that survives 100× on both
    // sides). Semantics gates: a customer with FEWER than 2 orders emits
    // just their rows (not padded), one with none vanishes (inner lateral),
    // and the LIMIT applies per-customer, not globally. Ties broken by
    // o_orderkey so the row set is unique. o_totalprice passes through
    // unarithmeticked — raw-double exact across engines.
    Query("q11_lateral", Throughput, (s, dir) => {
      Tables.customer(s, dir).filter(col("c_mktsegment") === "MACHINERY")
        .createOrReplaceTempView("q11_cust")
      Tables.orders(s, dir).createOrReplaceTempView("q11_orders")
      s.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM q11_cust c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM q11_orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""")
    },
      // DuckDB's own LATERAL evaluation of the identical query — both
      // engines implement the published SQL semantics (per-outer-row LIMIT,
      // inner-join vanishing for order-less customers).
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY') c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""".stripMargin),

    // Q12 — UNPIVOT: four measure columns melted to (metric, val) rows —
    // the wide→long reshape every metrics store and training-feature
    // pipeline does before a per-metric aggregate. Spark plans Expand (each
    // input row fans out to 4 in-place, NO shuffle, no self-union rescan);
    // the oracle states the semantics from first principles as a 4-way
    // UNION ALL — including the default EXCLUDE NULLS contract, which the
    // explicit IS NOT NULL guard makes visible on both sides. Sums are
    // decimal-exact (Exact.sumD discipline, inline in SQL).
    Query("q12_unpivot", Throughput, (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("q12_lineitem")
      s.sql("""
        SELECT l_returnflag, metric, COUNT(*) AS n,
               CAST(SUM(CAST(val AS DECIMAL(30,4))) AS DOUBLE) AS sum_val
        FROM q12_lineitem
        UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount, l_tax))
        WHERE val IS NOT NULL
        GROUP BY l_returnflag, metric""")
    },
      // UNPIVOT semantics stated from first principles: a 4-way UNION ALL
      // with the EXCLUDE NULLS default made explicit.
      """WITH u AS (
        |  SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
        |SELECT l_returnflag, metric, COUNT(*) AS n,
        |  CAST(SUM(CAST(val AS DECIMAL(30,4))) AS DOUBLE) AS sum_val
        |FROM u WHERE val IS NOT NULL GROUP BY 1, 2""".stripMargin),

    // Q13 — PIVOT (long→wide, q12's twin): explicit value list, so Spark
    // plans ONE aggregate with conditional projections (PivotFirst) — a
    // single scan + single exchange, not one scan per pivot value; exactly
    // what survives when the fact side is 100 TB. The oracle states the
    // same reshape as conditional aggregation. Cells with no rows are NULL
    // in both engines (SUM over empty); sums decimal-exact.
    Query("q13_pivot", Throughput, (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(Exact.sumD(col("l_quantity"), 2))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")
    },
      // PIVOT restated as conditional aggregation — the canonical long→wide
      // identity; empty cells NULL on both sides.
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F'
        |                THEN CAST(l_quantity AS DECIMAL(30,2)) END) AS DOUBLE) AS qty_f,
        |  CAST(SUM(CASE WHEN l_linestatus = 'O'
        |                THEN CAST(l_quantity AS DECIMAL(30,2)) END) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY 1""".stripMargin),

    // Q14 — time-RANGE window frame: trailing-90-day revenue per customer at
    // every order. The frame is defined by the ORDER-BY VALUE (an interval
    // back from each row's o_orderdate), not a row count — the semantics
    // ROWS BETWEEN cannot express when order dates are irregular. Spark
    // plans one exchange on o_custkey + one sort; the frame sum is a
    // sliding accumulator over the sorted run (no per-row rescan), which is
    // the shape that survives 100×: cost stays O(rows per customer), not
    // O(rows²). Peers (same customer, same date) are IN the frame per the
    // SQL standard on both engines; the DECIMAL accumulator makes the
    // running sum order-independent and bit-identical to the oracle.
    Query("q14_window_range", Throughput, (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("q14_orders")
      s.sql("""
        SELECT o_custkey, o_orderkey,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate
            RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE)
            AS rev90
        FROM q14_orders""")
    },
      // Same interval-RANGE frame evaluated by DuckDB's window engine; the
      // DECIMAL accumulator makes the trailing sum bit-identical.
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate
        |    RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS rev90
        |FROM orders""".stripMargin),

    // Q15 — GROUP BY ALL (Spark 3.4+/DuckDB shared surface): the grouping
    // key set is inferred as every non-aggregate select item. Semantics
    // gate, not sugar: the inference must pick exactly {status, priority}
    // and not the aggregate; a wrong inference changes the row count.
    Query("q15_group_by_all", Throughput, (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("q15_orders")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
        FROM q15_orders GROUP BY ALL""")
    },
      // DuckDB originated GROUP BY ALL; both engines must infer the same
      // {status, priority} key set.
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY ALL""".stripMargin),

    // Q16 — calendar arithmetic surface: quarter bucketing
    // (date_trunc('quarter')), month-end (last_day), and day-granularity
    // differences — all codegen'd builtins, no UDF. Both engines implement
    // the same published proleptic-Gregorian calendar, so days-to-month-end
    // sums are integer-exact. The quarter is cast to DATE on BOTH sides so
    // the compared column renders identically (Spark's date_trunc returns a
    // timestamp, DuckDB's a date — the cast is the deliberate parity point).
    Query("q16_date_arith", Throughput, (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("q16_orders")
      s.sql("""
        SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr,
          COUNT(*) AS n,
          SUM(CAST(datediff(last_day(o_orderdate), CAST(o_orderdate AS DATE))
              AS BIGINT)) AS days_to_month_end
        FROM q16_orders GROUP BY 1""")
    },
      // Same calendar arithmetic through DuckDB's function surface
      // (date_diff/last_day); the DATE cast is the shared render point.
      """SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |      last_day(CAST(o_orderdate AS DATE))) AS BIGINT)) AS BIGINT)
        |    AS days_to_month_end
        |FROM orders GROUP BY 1""".stripMargin),

    // Q17 — ordered string aggregation: listagg ... WITHIN GROUP (ORDER BY)
    // (Spark 4.0's SQL:2016 form; DuckDB states the same contract as
    // string_agg with an ORDER BY argument). The ORDER BY inside the
    // aggregate is the gate — without it the rendered list depends on
    // partial-aggregation order and no distributed engine could hash-match.
    // Grouped on the 5-row region dim; the aggregate runs over a broadcast
    // join, one exchange for the group.
    Query("q17_listagg", Throughput, (s, dir) => {
      Tables.nation(s, dir).createOrReplaceTempView("q17_nation")
      Tables.region(s, dir).createOrReplaceTempView("q17_region")
      s.sql("""
        SELECT r.r_name, listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name)
          AS nations
        FROM q17_nation n JOIN q17_region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name""")
    },
      // string_agg with in-aggregate ORDER BY — DuckDB's spelling of the
      // same SQL:2016 ordered-listagg contract.
      """SELECT r.r_name, string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name""".stripMargin),

    // Q18 — bag-semantics set operations (INTERSECT ALL / EXCEPT ALL),
    // closing the multiset half of the o8 set-ops gate. Multiplicity is the
    // contract: a suppkey appearing m₁ times among returned lines and m₂
    // among finished lines yields max(0, m₁−m₂) EXCEPT ALL rows and
    // min(m₁, m₂) INTERSECT ALL rows (SQL standard, both engines). Spark
    // rewrites each to ONE count-aggregate per side + a replicate Generate —
    // multiplicities, not rows, cross the exchange, so a key duplicated a
    // million times at 100 TB still ships as one (key, count) pair.
    Query("q18_set_ops_all", Throughput, (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val returned = li.filter(col("l_returnflag") === "R").select(col("l_suppkey"))
      val finished = li.filter(col("l_linestatus") === "F").select(col("l_suppkey"))
      returned.exceptAll(finished).withColumn("set_op", lit("returned_minus_finished"))
        .unionByName(returned.intersectAll(finished)
          .withColumn("set_op", lit("bag_intersection")))
    },
      // SQL-standard multiset semantics: max(0, m1−m2) / min(m1, m2)
      // multiplicities per key on both engines.
      """SELECT l_suppkey, 'returned_minus_finished' AS set_op FROM (
        |  SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
        |  EXCEPT ALL
        |  SELECT l_suppkey FROM lineitem WHERE l_linestatus = 'F')
        |UNION ALL
        |SELECT l_suppkey, 'bag_intersection' AS set_op FROM (
        |  SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
        |  INTERSECT ALL
        |  SELECT l_suppkey FROM lineitem WHERE l_linestatus = 'F')""".stripMargin),

    // Q19 — analytic window-function surface: ntile, percent_rank,
    // cume_dist, first_value, nth_value. Every ORDER BY is made a TOTAL
    // order (orderkey tiebreak) — with ties, peer-group functions
    // (percent_rank/cume_dist) and ntile are engine-dependent and no
    // distributed engine could hash-match. nth_value gets an explicit
    // UNBOUNDED/UNBOUNDED frame: its default frame stops at CURRENT ROW,
    // which would yield NULL for row 1 on both engines but is the kind of
    // implicit contract worth pinning. One exchange on o_custkey serves all
    // five functions (same partition spec), one sort per ORDER BY key.
    Query("q19_window_funcs", Throughput, (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("q19_orders")
      s.sql("""
        SELECT o_orderkey, o_custkey,
          ntile(4) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS quartile,
          CAST(percent_rank() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice, o_orderkey) AS DOUBLE) AS price_pr,
          CAST(cume_dist() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice, o_orderkey) AS DOUBLE) AS price_cd,
          first_value(o_orderkey) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS first_ok,
          nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_ok
        FROM q19_orders""")
    },
      // Same five analytic functions with identical total-order ORDER BYs and
      // the same explicit nth_value frame.
      """SELECT o_orderkey, o_custkey,
        |  ntile(4) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS quartile,
        |  CAST(percent_rank() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice, o_orderkey) AS DOUBLE) AS price_pr,
        |  CAST(cume_dist() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice, o_orderkey) AS DOUBLE) AS price_cd,
        |  first_value(o_orderkey) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS first_ok,
        |  nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_ok
        |FROM orders""".stripMargin),

    // Q20 — statistical aggregates (stddev, Pearson correlation) made
    // distribution-safe: the BUILT-IN corr/stddev use Welford-style partial
    // merges whose float error depends on partition order — the same query
    // on 32 threads and 1000 executors returns different last bits, and no
    // cross-engine hash could match. Instead: moments (n, Σx, Σx², Σy, Σy²,
    // Σxy) accumulate EXACTLY (decimal for doubles — the Exact.sumD
    // contract — BIGINT for ints; per-row products are single IEEE ops,
    // deterministic), then ONE mirrored double formula per statistic. Still
    // one partial-aggregated exchange — exactness costs nothing structural.
    Query("q20_moment_stats", Throughput, (s, dir) => {
      ev(s, dir).createOrReplaceTempView("q20_events")
      s.sql("""
        WITH m AS (
          SELECT event_type, COUNT(*) AS n,
            CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sx,
            CAST(SUM(CAST(value * value AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
            CAST(SUM(user_id) AS DOUBLE) AS sy,
            CAST(SUM(user_id * user_id) AS DOUBLE) AS syy,
            CAST(SUM(CAST(value * CAST(user_id AS DOUBLE) AS DECIMAL(38,4)))
                 AS DOUBLE) AS sxy
          FROM q20_events GROUP BY event_type)
        SELECT event_type, n,
          format_string('%.4f', sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) /
            (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - CAST('1.0' AS DOUBLE)))))
            AS std_r,
          format_string('%.6f', (CAST(n AS DOUBLE) * sxy - sx * sy) /
            (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
             sqrt(CAST(n AS DOUBLE) * syy - sy * sy))) AS corr_r
        FROM m""")
    },
      """WITH m AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value * value AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
        |    CAST(SUM(user_id) AS DOUBLE) AS sy,
        |    CAST(SUM(user_id * user_id) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(value * CAST(user_id AS DOUBLE) AS DECIMAL(38,4)))
        |         AS DOUBLE) AS sxy
        |  FROM events GROUP BY event_type)
        |SELECT event_type, n,
        |  printf('%.4f', sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) /
        |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - CAST('1.0' AS DOUBLE)))))
        |    AS std_r,
        |  printf('%.6f', (CAST(n AS DOUBLE) * sxy - sx * sy) /
        |    (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
        |     sqrt(CAST(n AS DOUBLE) * syy - sy * sy))) AS corr_r
        |FROM m""".stripMargin),

    // Q21 — NULL semantics in set operations: INTERSECT/EXCEPT compare
    // rows by GROUPING equality (NULL matches NULL, per the SQL standard)
    // — the opposite of join/WHERE predicate equality, where NULL = NULL
    // is unknown. The gate feeds both sides rows with NULL keys and pins
    // that NULL-keyed rows DO intersect and DO cancel in EXCEPT; an engine
    // that lowered set ops onto a plain equi-join would silently drop
    // every NULL-keyed row. Same count-aggregate plan shape as q18.
    Query("q21_setop_nulls", Throughput, (s, dir) => {
      val e = ev(s, dir)
      val a = e.select(
        when(col("event_id") % 3 === 0, lit(null)).otherwise(col("event_type")).as("k"),
        (col("event_id") % 5).as("g"))
      val b = e.select(
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("event_type")).as("k"),
        (col("event_id") % 5).as("g"))
      a.intersect(b).withColumn("set_op", lit("intersect"))
        .unionByName(a.except(b).withColumn("set_op", lit("except")))
    },
      // Standard multiset grouping equality: NULL-keyed rows intersect and
      // cancel exactly as any other key.
      """WITH a AS (SELECT CASE WHEN event_id % 3 = 0 THEN NULL
        |                      ELSE event_type END AS k,
        |                 event_id % 5 AS g FROM events),
        |b AS (SELECT CASE WHEN event_id % 7 = 0 THEN NULL
        |                  ELSE event_type END AS k,
        |             event_id % 5 AS g FROM events)
        |SELECT k, g, 'intersect' AS set_op
        |FROM (SELECT k, g FROM a INTERSECT SELECT k, g FROM b)
        |UNION ALL
        |SELECT k, g, 'except' AS set_op
        |FROM (SELECT k, g FROM a EXCEPT SELECT k, g FROM b)""".stripMargin),

    // Q33 — "customers whose average order value beats their segment's
    // average": the aggregate-vs-PARENT-aggregate comparison, done with
    // ZERO division — n_s·sum_c > n_c·sum_s in exact integer cents (cross-
    // multiplication is legal: both counts positive), so no ratio double
    // ever exists on either engine. Per-customer partials join the
    // broadcast segment totals; one wide exchange on the customer key.
    Query("q33_above_segment_avg", Throughput, (s, dir) => {
      val oc = Tables.orders(s, dir)
        .select(col("o_custkey"), floor(col("o_totalprice") * 100)
          .cast("long").as("cents"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_c"), sum(col("cents")).as("sum_c"))
        .join(Tables.customer(s, dir).select(col("c_custkey"),
          col("c_mktsegment")), col("o_custkey") === col("c_custkey"))
      val seg = oc.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"), sum(col("n_c")).as("n_s"),
          sum(col("sum_c").cast("decimal(38,0)")).as("sum_s"))
      oc.join(broadcast(seg), "c_mktsegment")
        .filter(col("n_s").cast("decimal(38,0)") * col("sum_c") >
          col("n_c").cast("decimal(38,0)") * col("sum_s"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_above"), max(col("n_cust")).as("n_cust"))
    },
      // Same cross-multiplied comparison — no ratio exists on either side.
      """WITH oc AS (SELECT o_custkey, c_mktsegment, COUNT(*) AS n_c,
        |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_c
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |seg AS (SELECT c_mktsegment, COUNT(*) AS n_cust,
        |    CAST(SUM(n_c) AS BIGINT) AS n_s,
        |    CAST(SUM(CAST(sum_c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sum_s
        |  FROM oc GROUP BY 1)
        |SELECT oc.c_mktsegment, COUNT(*) AS n_above, MAX(n_cust) AS n_cust
        |FROM oc JOIN seg ON oc.c_mktsegment = seg.c_mktsegment
        |WHERE CAST(n_s AS DECIMAL(38,0)) * sum_c
        |      > CAST(n_c AS DECIMAL(38,0)) * sum_s
        |GROUP BY 1""".stripMargin),

    // Q34 — dominant-supplier share (the TPC-H Q20 family: who carries at
    // least a quarter of a part's shipped volume?). Two-level aggregation:
    // (part, supplier) quantities in exact integer units, part totals via
    // ONE window over the already-reduced pair relation (no second scan,
    // no self-join), dominance decided on integers (qty·4 ≥ total), then a
    // broadcast supplier join. The date filter is a plain range predicate
    // so it pushes to the parquet scan. Scale: the pair relation is the
    // only wide exchange; the window reuses its partitioning by l_partkey.
    Query("q34_dominant_supplier", Throughput, (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      val ps = li.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(expr("CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) * 100 AS BIGINT)")
          .as("qty_u"))
      val dom = ps
        .withColumn("tot_u",
          sum(col("qty_u")).over(Window.partitionBy(col("l_partkey"))))
        .filter(col("qty_u") * 4 >= col("tot_u"))
      dom.groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_dom_parts"), sum(col("qty_u")).as("dom_qty_u"))
        .join(broadcast(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_dom_parts"),
          col("dom_qty_u"))
    },
      // Mirrors q34: same integer quantity units (×100), same window-total
      // dominance predicate, same date range.
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) * 100 AS BIGINT) AS qty_u
        |  FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2),
        |dom AS (
        |  SELECT l_suppkey, qty_u
        |  FROM (SELECT l_suppkey, qty_u,
        |          SUM(qty_u) OVER (PARTITION BY l_partkey) AS tot_u
        |        FROM ps)
        |  WHERE qty_u * 4 >= tot_u)
        |SELECT s.s_suppkey, s.s_name,
        |  COUNT(*) AS n_dom_parts, CAST(SUM(qty_u) AS BIGINT) AS dom_qty_u
        |FROM dom JOIN supplier s ON dom.l_suppkey = s.s_suppkey
        |GROUP BY 1, 2""".stripMargin),

    // Q35 — sales-opportunity audit (the TPC-H Q22 shape): LAPSED
    // customers — above-average positive balance, no order since
    // 2000-01-01 — rolled up by nation. The composite plan Q22 exists to
    // exercise: one broadcast scalar threshold (exact integer cents,
    // cross-multiplied — the q33 discipline, no double threshold crosses
    // engines), one anti join on the recent order keys (the date range
    // pushes to the orders scan), one broadcast dim join. Scale: the anti
    // join is the only wide exchange; the threshold relation is one row.
    Query("q35_sales_opportunity", Throughput, (s, dir) => {
      val cust = Tables.customer(s, dir).select(col("c_custkey"),
        col("c_nationkey"), floor(col("c_acctbal") * 100).cast("long").as("cents"))
      val thr = cust.filter(col("cents") > 0)
        .agg(count(lit(1)).as("n_g"), sum(col("cents")).as("sum_g"))
      cust.join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .crossJoin(broadcast(thr))
        .filter(col("cents") * col("n_g") > col("sum_g"))
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("acctbal_cents"))
    },
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
        |thr AS (SELECT COUNT(*) AS n_g, CAST(SUM(cents) AS BIGINT) AS sum_g
        |        FROM c WHERE cents > 0)
        |SELECT n.n_name,
        |  COUNT(*) AS n_cust, CAST(SUM(c.cents) AS BIGINT) AS acctbal_cents
        |FROM c CROSS JOIN thr
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.cents * thr.n_g > thr.sum_g
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1""".stripMargin),

    // Q36 — waiting-on-one-supplier audit (TPC-H Q21 shape, lateness
    // restated on the available schema as shipdate > orderdate + 60 days):
    // per supplier, the multi-supplier orders where THEY shipped late and
    // no co-supplier did. The point is the optimizer path: one EXISTS and
    // one NOT EXISTS, both correlated on the outer lineitem's order key
    // (the NOT EXISTS additionally on the outer ORDER's date — a two-table
    // correlation), which RewritePredicateSubquery must decorrelate into a
    // left-semi plus a left-anti join against lineitem — the double-
    // correlated shape q7 (scalar), q8 (single EXISTS) and q9 (NOT IN)
    // don't reach. Both joins key on l_orderkey, broadcast only supplier.
    Query("q36_waiting_supplier", Throughput, (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("q36_lineitem")
      Tables.orders(s, dir).createOrReplaceTempView("q36_orders")
      Tables.supplier(s, dir).createOrReplaceTempView("q36_supplier")
      s.sql("""
        SELECT s_name, count(*) AS numwait
        FROM q36_supplier, q36_lineitem l1, q36_orders o
        WHERE s_suppkey = l1.l_suppkey
          AND o.o_orderkey = l1.l_orderkey
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS
          AND EXISTS (SELECT * FROM q36_lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT * FROM q36_lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS)
        GROUP BY s_name""")
    },
      // Mirrors q36 verbatim — the oracle decorrelates however DuckDB
      // pleases; the gate checks the SEMANTICS of the double-correlated
      // EXISTS / NOT EXISTS, not Spark's plan for it.
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders o
        |WHERE s_suppkey = l1.l_suppkey
        |  AND o.o_orderkey = l1.l_orderkey
        |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT * FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT * FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name""".stripMargin),

    // Q37 — top supplier by quarter revenue (TPC-H Q15 shape): the
    // max-of-an-aggregate join-back, KEEPING ties — the view + MAX(view)
    // pattern. The tie decision compares the exact DECIMAL(30,4) sums
    // (per-term double→decimal cast, the Exact.sumD discipline), never
    // the double rendering — two suppliers equal in cents must both
    // surface on both engines. Plan: one suppliers-sized aggregate off
    // the date-pruned scan, a broadcast 1-row max, and the tie set (tiny)
    // builds the supplier join's hash side under AQE.
    Query("q37_top_supplier", Throughput, (s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(30,4)")).as("total_rev"))
      rev.crossJoin(broadcast(rev.agg(max(col("total_rev")).as("mx"))))
        .filter(col("total_rev") === col("mx"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_rev").cast("double").as("total_revenue"))
    },
      // Mirrors q37: same per-term double→DECIMAL(30,4) rounding before the
      // sum, tie decision on the exact decimal (never the double), double
      // rendering only at the output edge.
      """WITH rev AS (SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4)))
        |      AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)""".stripMargin),

    // Q26 — value-share HAVING filter (TPC-H Q11 shape): brands whose
    // revenue exceeds 1/50 of the corpus total — a scalar aggregate
    // subquery inside the group filter. Threshold compared as exact
    // integers (50·brand_u > tot_u over the a26 integral-decimal scaling);
    // Catalyst plans the scalar subquery as a broadcast one-row join, so
    // the fact table scans once per side, never per group.
    Query("q26_value_share", Throughput, (s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg((sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(30,4)")) * 10000).cast("decimal(38,0)").as("rev_u"))
      val tot = rev.agg(sum(col("rev_u")).cast("decimal(38,0)").as("tot_u"))
      rev.crossJoin(broadcast(tot))
        .filter(col("rev_u") * 50 > col("tot_u"))
        .select(col("p_brand"), col("rev_u").cast("long").as("rev_u"))
    },
      // Scalar-total threshold restated as exact integer comparison.
      """WITH rev AS (SELECT p_brand,
        |    CAST(SUM(CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
        |      AS DECIMAL(30,4))) * 10000 AS HUGEINT) AS rev_u
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1)
        |SELECT p_brand, CAST(rev_u AS BIGINT) AS rev_u
        |FROM rev
        |WHERE rev_u * 50 > (SELECT SUM(rev_u) FROM rev)""".stripMargin),

    // Q24 — customer-distribution (TPC-H Q13 shape): the
    // distribution-of-a-distribution query — orders per customer (LEFT
    // join so zero-order customers keep their bucket), then customers per
    // order-count. Two narrow aggregates around one key-partitioned join;
    // COUNT(col) vs COUNT(*) null semantics is the point being pinned.
    Query("q24_order_dist", Throughput, (s, dir) => {
      Tables.customer(s, dir).select(col("c_custkey"))
        .join(Tables.orders(s, dir).select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_custkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    },
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_custkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |GROUP BY 1""".stripMargin),

    // Q22 — market-basket co-purchase mining (A-priori round 2): brand
    // pairs co-occurring in an order, with support counts and integer-bp
    // lift. The per-order distinct-brand relation joins part as a
    // BROADCAST (dimension table); the pair enumeration is a self-join on
    // l_orderkey — bounded by basket size squared per order, never
    // corpus², and hash-partitioned on the order key. The A-priori prune
    // (drop infrequent items before pairing) is plan-only here: any pair
    // with n_ab ≥ minSup necessarily has n_a, n_b ≥ minSup, so the oracle
    // states the unpruned semantics and the engine's prune is a pure
    // candidate-reduction optimization, exactly how it behaves at scale.
    Query("q22_copurchase", Throughput, (s, dir) => {
      val minSup = 5
      // SINGLE-PASS basket build (r11 sweep): the r10 form recomputed the
      // scan+broadcast-join+distinct relation THREE times (freq, n_orders,
      // baskets) — 3 full lineitem scans and 3 wide dedup shuffles were
      // ~2/3 of the 68 s 100× reading. collect_set IS the dedup, so the
      // pre-basket `.distinct()` exchange is gone entirely, and the basket
      // relation persists DISK_ONLY (serialized blocks, zero storage-memory
      // pressure — the r10 OOM came from a MEMORY cache starving the
      // aggregate's execution memory, not from persistence per se; bench's
      // clearCache() drops it between reps). freq and n_orders are then
      // cheap derived passes: explode + map-side-combinable count shuffles
      // 25 brand rows per task, not 60 M pairs. The A-priori item prune is
      // an in-array filter against a ONE-ROW broadcast of the frequent
      // set — no per-element join, sorted order (and with it the a<b pair
      // enumeration) preserved.
      val pt = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      val bs = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val nOrders = bs.agg(count(lit(1)).as("n_orders"))
      val freq = bs.select(explode(col("bs")).as("p_brand"))
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n_s"))
      val frequent = freq.filter(col("n_s") >= minSup) // A-priori item prune
        .agg(sort_array(collect_set(col("p_brand"))).as("fb"))
      // pair enumeration as an IN-ARRAY expansion over per-order brand
      // sets (baskets are bounded — ≤ |brands| per order), not an
      // order-key self-join: ONE exchange on l_orderkey and a codegen'd
      // nested-loop over a tiny sorted array, vs the join's two arms +
      // sort-merge (measured 72 s → this shape at 100× data)
      val pairs = bs.crossJoin(broadcast(frequent))
        .select(expr("filter(bs, b -> array_contains(fb, b))").as("bs"))
        .select(explode(expr(
          """flatten(transform(bs, (a, i) ->
            |  transform(slice(bs, i + 2, size(bs)), b -> struct(a, b))))"""
            .stripMargin)).as("p"))
        .groupBy(col("p.a").as("brand_a"), col("p.b").as("brand_b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= minSup)
      pairs
        .join(broadcast(freq.select(col("p_brand").as("brand_a"), col("n_s").as("n_a"))), Seq("brand_a"))
        .join(broadcast(freq.select(col("p_brand").as("brand_b"), col("n_s").as("n_b"))), Seq("brand_b"))
        .crossJoin(broadcast(nOrders))
        .select(col("brand_a"), col("brand_b"), col("n_ab"), col("n_a"), col("n_b"),
          // decimal numerator/denominator (ADVICE r10): at cluster scale
          // n_ab·n_orders·10⁴ (~2e24 at 100 TB) and n_a·n_b (~1e20) both
          // overflow Long and would wrap silently; decimal(38,0) holds
          // them exactly and `div` still yields BIGINT on both engines
          expr("""cast(n_ab as decimal(20,0)) * cast(n_orders as decimal(14,0))
                  * 10000 div (cast(n_a as decimal(19,0)) * cast(n_b as decimal(19,0)))""")
            .as("lift_bp"))
    },
      // Unpruned co-occurrence semantics: the engine's A-priori item prune
      // cannot change the output (n_ab ≤ min(n_a, n_b) makes it lossless).
      """WITH pb AS (SELECT DISTINCT l_orderkey, p_brand
        |            FROM lineitem JOIN part ON l_partkey = p_partkey),
        |n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM pb),
        |f AS (SELECT p_brand, COUNT(*) AS n_s FROM pb GROUP BY 1),
        |pr AS (SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS n_ab
        |       FROM pb a JOIN pb b
        |         ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        |       GROUP BY 1, 2)
        |SELECT brand_a, brand_b, pr.n_ab, fa.n_s AS n_a, fb.n_s AS n_b,
        |  CAST(CAST(pr.n_ab AS HUGEINT) * n.n_orders * 10000
        |       // (CAST(fa.n_s AS HUGEINT) * fb.n_s) AS BIGINT) AS lift_bp
        |FROM pr JOIN f fa ON fa.p_brand = brand_a
        |        JOIN f fb ON fb.p_brand = brand_b, n
        |WHERE pr.n_ab >= 5""".stripMargin),

    // Q22B — the SEMANTIC A-priori form (r10 verdict task 4): q22's item
    // prune is a lossless optimization (pair-level n_ab ≥ 5 implies both
    // items frequent), so basket width never shrinks with corpus growth
    // and the in-array pair expansion stays bounded by |brands|² per
    // order — 21× work at the 100× probe. Here the item-level minimum
    // support is part of the CONTRACT: only brands appearing in ≥ 1/7 of
    // all orders enter the baskets at all (the integer-exact n_s·7 ≥
    // n_orders form — no ceil, no floating threshold), so pair expansion
    // runs over frequent-item baskets only. At scale the FRACTIONAL
    // threshold is what keeps the frequent set — and with it per-order
    // basket width — bounded regardless of corpus size: the real A-priori
    // guarantee, not a constant absolute count that degenerates as
    // n_orders grows. Same one-exchange in-array expansion as q22.
    Query("q22b_copurchase_apriori", Throughput, (s, dir) => {
      // same single-pass DISK_ONLY basket build as q22 (see its comment);
      // only the item prune differs — semantic fractional support instead
      // of the lossless absolute count
      val pt = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      val bs = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val nOrders = bs.agg(count(lit(1)).as("n_orders"))
      val freq = bs.select(explode(col("bs")).as("p_brand"))
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n_s"))
        .crossJoin(broadcast(nOrders))
        .filter(col("n_s") * 7 >= col("n_orders")) // semantic item prune
      val frequent = freq.agg(sort_array(collect_set(col("p_brand"))).as("fb"))
      val pairs = bs.crossJoin(broadcast(frequent))
        .select(expr("filter(bs, b -> array_contains(fb, b))").as("bs"))
        .select(explode(expr(
          """flatten(transform(bs, (a, i) ->
            |  transform(slice(bs, i + 2, size(bs)), b -> struct(a, b))))"""
            .stripMargin)).as("p"))
        .groupBy(col("p.a").as("brand_a"), col("p.b").as("brand_b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
      pairs
        .join(broadcast(freq.select(col("p_brand").as("brand_a"), col("n_s").as("n_a"))), Seq("brand_a"))
        .join(broadcast(freq.select(col("p_brand").as("brand_b"), col("n_s").as("n_b"))), Seq("brand_b"))
        .crossJoin(broadcast(nOrders))
        .select(col("brand_a"), col("brand_b"), col("n_ab"), col("n_a"), col("n_b"),
          expr("""cast(n_ab as decimal(20,0)) * cast(n_orders as decimal(14,0))
                  * 10000 div (cast(n_a as decimal(19,0)) * cast(n_b as decimal(19,0)))""")
            .as("lift_bp"))
    },
      // The PRUNED CTE chain is the contract here: items below 1/7-of-orders
      // support never enter the baskets (contrast q22, whose prune is a
      // lossless optimization the oracle states unpruned).
      """WITH pb AS (SELECT DISTINCT l_orderkey, p_brand
        |            FROM lineitem JOIN part ON l_partkey = p_partkey),
        |n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM pb),
        |f AS (SELECT p_brand, COUNT(*) AS n_s FROM pb GROUP BY 1),
        |ff AS (SELECT p_brand, n_s FROM f, n WHERE n_s * 7 >= n.n_orders),
        |pbf AS (SELECT pb.l_orderkey, pb.p_brand FROM pb JOIN ff USING (p_brand)),
        |pr AS (SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS n_ab
        |       FROM pbf a JOIN pbf b
        |         ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        |       GROUP BY 1, 2)
        |SELECT brand_a, brand_b, pr.n_ab, fa.n_s AS n_a, fb.n_s AS n_b,
        |  CAST(CAST(pr.n_ab AS HUGEINT) * n.n_orders * 10000
        |       // (CAST(fa.n_s AS HUGEINT) * fb.n_s) AS BIGINT) AS lift_bp
        |FROM pr JOIN ff fa ON fa.p_brand = brand_a
        |        JOIN ff fb ON fb.p_brand = brand_b, n
        |WHERE pr.n_ab >= 5""".stripMargin),

    // Q30 — TPC-H Q16's shape ("suppliers who can supply parts of given
    // attributes, excluding blacklisted suppliers"): distinct-supplier
    // counts per (brand, size) with the exclusion as an ANTI join — the
    // NOT IN subquery decorrelated (legal because s_suppkey is non-null;
    // the tri-valued NOT IN hazard lives in q9's gate). Distinct-count
    // plans as Spark's two-level aggregate; the blacklist broadcasts.
    Query("q30_parts_suppliers", Throughput, (s, dir) => {
      val bad = Tables.supplier(s, dir).filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      Tables.lineitem(s, dir)
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },
      """SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_suppkey NOT IN
        |  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2""".stripMargin),

    // Semi join (EXISTS): orders having at least one high-quantity item,
    // counted per priority (TPC-H Q4 shape).
    Query("q4_semi_join", Throughput, (s, dir) =>
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir).filter(col("l_quantity") > 45),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders")),
      """SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority""".stripMargin),

    // 6-way join with a same-nation constraint (TPC-H Q5 shape): revenue per
    // ASIA nation from 1997 orders where the supplier is in the customer's
    // nation. Dims broadcast; the fact-fact join shuffles on orderkey.
    Query("q5_local_supplier", Throughput, (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, dir)
      val sup = Tables.supplier(s, dir)
      val n = broadcast(Tables.nation(s, dir))
      val r = broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(Exact.sumD(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
    },
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin),

    // Q27 — TPC-H Q2's correlated-min shape ("the supplier(s) achieving
    // the minimum supply cost for each qualifying part in a region"),
    // re-based on this schema: supply cost = MIN(l_extendedprice) per
    // (part, supplier) — pure selection over parquet doubles, zero
    // arithmetic, so engine equality is bit-exact. Spark-first
    // decorrelation: the subquery's per-part minimum is a window MIN over
    // the region-filtered pair relation, ties KEPT by the equality filter
    // (Q2 keeps all tied suppliers) — the region/nation dims broadcast, the
    // part filter lands BEFORE the window so the per-part state is
    // restricted-pairs-sized, and the only wide exchange is the one
    // hash-partition by part the window needs.
    Query("q27_min_cost_supplier", Throughput, (s, dir) => {
      val ps = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice")).as("cost"))
      val n = broadcast(Tables.nation(s, dir))
      val r = broadcast(Tables.region(s, dir).filter(col("r_name") === "EUROPE"))
      val p = Tables.part(s, dir).filter(col("p_size") <= 10)
        .select(col("p_partkey"), col("p_brand"))
      val eu = ps.join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .join(p, col("l_partkey") === col("p_partkey"))
      val wMin = Window.partitionBy(col("p_partkey"))
      eu.withColumn("min_cost", min(col("cost")).over(wMin))
        .filter(col("cost") === col("min_cost"))
        .select(col("p_partkey"), col("p_brand"), col("s_name"),
          col("n_name"), col("cost"))
    },
      // Deliberately the NAIVE correlated scalar subquery (DuckDB
      // decorrelates it itself) — independent of the engine's window-min
      // plan; ties kept by the equality predicate on both sides.
      """WITH ps AS (SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS cost
        |  FROM lineitem GROUP BY 1, 2),
        |eu AS (SELECT ps.l_partkey, ps.l_suppkey, ps.cost, s_name, n_name
        |  FROM ps
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE')
        |SELECT p_partkey, p_brand, s_name, n_name, cost
        |FROM part JOIN eu ON p_partkey = l_partkey
        |WHERE p_size <= 10
        |  AND cost = (SELECT MIN(e2.cost) FROM eu e2
        |              WHERE e2.l_partkey = p_partkey)""".stripMargin),

    // Q28 — TPC-H Q21's shape ("suppliers who kept orders waiting"),
    // re-based on this schema: the blocking supplier of a multi-supplier
    // order is the UNIQUE last shipper (its per-order max shipdate is the
    // strict order-wide max). Spark-first decorrelation of Q21's
    // EXISTS + NOT EXISTS pair, iterated to a SINGLE hash aggregate over
    // raw lineitem rows — the measured ladder at the 100× probe: window
    // over the (order, supplier) pair relation 34.1 s (partition sort);
    // max(struct) argmaxes 18.6 s (struct buffers lower to SortAggregate);
    // packed-long argmaxes over the pair relation 22 s (the 50M-row pair
    // shuffle itself dominates); THIS form 6-7 s. The collapse is two
    // identities: (a) the packed argmaxes — (epoch-day, suppkey) in one
    // long, hi with suppkey ascending, lo descending — are max-monotone,
    // so row-level max equals pair-level max and the pair relation need
    // never exist; (b) "another supplier EXISTS" is just min(suppkey) ≠
    // max(suppkey), no distinct-count. One map-side-combined exchange of
    // ~|orders| rows; the max is tied iff the two unpacked suppkeys
    // differ; the blocker's key rides out of the aggregate itself. The
    // packing contract (day-granular shipdates — TPC-H's own DATE type —
    // suppkey < 2^46, day < 2^17) is enforced per-row by a codegen'd
    // assert_true: contract-violating data fails LOUDLY, never silently
    // diverges from the oracle's full-timestamp compare.
    Query("q28_last_shipper", Throughput, (s, dir) => {
      val skSpan = 1L << 46
      val rows = Tables.lineitem(s, dir)
        // cast first: some testdata generations write shipdate as
        // TIMESTAMP_NTZ (the Tables.events lesson) and unix_micros
        // requires TIMESTAMP; session tz is pinned UTC so the cast is
        // deterministic, and the packed order is monotone either way.
        .select(col("l_orderkey"), col("l_suppkey"),
          unix_micros(col("l_shipdate").cast("timestamp")).as("us"))
        .select(col("l_orderkey"), col("l_suppkey"),
          expr(s"""us div 86400000000 * $skSpan + l_suppkey +
                   coalesce(cast(assert_true(us >= 0 and us % 86400000000 = 0
                     and l_suppkey >= 0 and l_suppkey < $skSpan
                     and us div 86400000000 < ${1L << 17},
                     'q28 pack contract violated') as bigint),
                     cast(0 as bigint))""").as("hi"),
          expr(s"us div 86400000000 * $skSpan + ${skSpan - 1} - l_suppkey")
            .as("lo"))
      val os = rows.groupBy(col("l_orderkey")).agg(
        min(col("l_suppkey")).as("sk_min"), max(col("l_suppkey")).as("sk_max"),
        max(col("hi")).as("hi"), max(col("lo")).as("lo"))
      os.filter(col("sk_min") =!= col("sk_max") &&
          expr(s"hi % $skSpan") === expr(s"${skSpan - 1} - lo % $skSpan"))
        .select(expr(s"hi % $skSpan").as("bsk"))
        .join(broadcast(Tables.supplier(s, dir)), col("bsk") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
    },
      // Deliberately Q21's NAIVE EXISTS + NOT EXISTS pair over the
      // (order, supplier) last-ship relation — independent of the engine's
      // single-window decorrelation. Unique-strict-max equivalence: "no other
      // supplier shipped at or after me" ⟺ "I am the unique max"; "another
      // supplier exists" ⟺ n_supp > 1.
      """WITH ps AS (SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS last_ship
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM ps p JOIN supplier ON p.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM ps p2
        |              WHERE p2.l_orderkey = p.l_orderkey
        |                AND p2.l_suppkey <> p.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM ps p3
        |                  WHERE p3.l_orderkey = p.l_orderkey
        |                    AND p3.l_suppkey <> p.l_suppkey
        |                    AND p3.last_ship >= p.last_ship)
        |GROUP BY s_name""".stripMargin),

    // Q31 — top-N-per-group TIES semantics: RANK admits every row tied at
    // the boundary (cardinality varies), DENSE_RANK compresses gaps,
    // ROW_NUMBER cuts arbitrarily-but-deterministically (id tiebreak).
    // The gate emits all three for the top-3 revenue days per event type
    // — an engine that lowers rank() onto row_number semantics changes
    // the row count and hash-fails. Exact integer cents ranking.
    Query("q31_topk_ties", Throughput, (s, dir) => {
      val daily = ev(s, dir).select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("y"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("y").desc, col("day"))
      val wv = Window.partitionBy(col("event_type")).orderBy(col("y").desc)
      daily
        .withColumn("rnk", rank().over(wv).cast("long"))
        .withColumn("drnk", dense_rank().over(wv).cast("long"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("event_type"), col("day"), col("y"),
          col("rnk"), col("drnk"), col("rn"))
    },
      """WITH daily AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |rk AS (SELECT event_type, day, y,
        |    rank() OVER (PARTITION BY event_type ORDER BY y DESC) AS rnk,
        |    dense_rank() OVER (PARTITION BY event_type ORDER BY y DESC) AS drnk,
        |    row_number() OVER (PARTITION BY event_type ORDER BY y DESC, day) AS rn
        |  FROM daily)
        |SELECT event_type, day, y, rnk, drnk, rn FROM rk WHERE rnk <= 3""".stripMargin),

    // Filter-pushdown aggregation (TPC-H Q6 shape): all predicates reach the
    // parquet scan; two-column projection prunes the read schema.
    Query("q6_filter_agg", Throughput, (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.02 && col("l_discount") <= 0.06 &&
          col("l_quantity") < 24)
        .agg(Exact.sumD(col("l_extendedprice") * col("l_discount"), 4).as("revenue"),
          count(lit(1)).as("n_rows")),
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= CAST('0.02' AS DOUBLE) AND l_discount <= CAST('0.06' AS DOUBLE)
        |  AND l_quantity < 24""".stripMargin),

    // Join-heavy top-n (TPC-H Q3 shape). Plan (round-13 pass on the
    // suite's worst 310× ratio): orders is semi-shrunk 5× by the
    // broadcast segment filter and projected to the BARE KEY before its
    // exchange — the fact join's build side carries one column, 1/5 the
    // rows — and the revenue aggregate runs ABOVE the join (BUILDING
    // groups only), reusing the join's l_orderkey partitioning, so the
    // whole query is two narrow exchanges + one broadcast. The eager-
    // aggregation alternative (Yan & Larson: fold lineitem per orderkey
    // BELOW the join) was measured and REJECTED at 310×: pre-aggregating
    // builds a hash table over ALL ~45 M orderkeys with decimal
    // accumulators (spill-bound) where this plan aggregates only the
    // segment's survivors — interleaved A/B: semi-shrunk 12.5 s, eager
    // 30.1 s, original join-then-agg-with-wide-orders 17.4 s
    // (docs/PLANS.md round 13). The raw-lineitem exchange itself is
    // irreducible without a runtime filter: which lineitems survive is
    // unknowable before the orderkey join.
    Query("q3_top_orders", Throughput, (s, dir) => {
      val c = broadcast(Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey")))
      val o = Tables.orders(s, dir)
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(Exact.sumD(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      """SELECT l_orderkey, revenue, n_items FROM (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE) AS revenue,
        |    COUNT(*) AS n_items
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |  GROUP BY l_orderkey)
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)
  )
}
