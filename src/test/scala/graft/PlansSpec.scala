package graft

import org.apache.spark.sql.functions._

/** Plan-shape contracts: Spark's own optimizer rewrites the gate queries
  * rely on, and the plan shapes of selected gate queries. */
class PlansSpec extends SparkSpec {

  test("correlated scalar subqueries de-correlate to aggregate + join (q7 shape)") {
    import spark.implicits._
    Seq((1L, 10L, 100.0, "A"), (1L, 2L, 50.0, "A"), (2L, 5L, 70.0, "R"))
      .toDF("l_partkey", "l_quantity", "l_extendedprice", "l_returnflag")
      .createOrReplaceTempView("plans_q7_l")
    val q = spark.sql("""
      SELECT l_returnflag, COUNT(*) AS n_small FROM plans_q7_l l1
      WHERE l_quantity * 5 *
            (SELECT COUNT(*) FROM plans_q7_l l2 WHERE l2.l_partkey = l1.l_partkey)
          < (SELECT SUM(l_quantity) FROM plans_q7_l l2 WHERE l2.l_partkey = l1.l_partkey)
      GROUP BY l_returnflag""")
    val opt = q.queryExecution.optimizedPlan.toString
    // de-correlated: no scalar-subquery survives; per-part aggregates join in
    assert(!opt.contains("scalar-subquery"), s"subquery not unnested:\n$opt")
    assert(opt.contains("Join"), s"expected de-correlated join:\n$opt")
    // part 1: avg 6, threshold 0.2*avg=1.2 → qty 2 is NOT below 5*2*2=20 vs sum 12
    // → no rows from part 1... recompute: 5*q*cnt < sum: q=2: 20 < 12 false;
    // q=10: 100 < 12 false; part 2 single row: 25 < 5 false → empty result
    assert(q.collect().isEmpty)
  }

  test("EXISTS / NOT EXISTS rewrite to semi + anti joins (q8 shape)") {
    import spark.implicits._
    Seq((1L, "H"), (2L, "H"), (3L, "L"))
      .toDF("o_orderkey", "o_orderpriority").createOrReplaceTempView("plans_q8_o")
    Seq((1L, 50L, "N"), (2L, 50L, "R"), (3L, 10L, "N"))
      .toDF("l_orderkey", "l_quantity", "l_returnflag")
      .createOrReplaceTempView("plans_q8_l")
    val q = spark.sql("""
      SELECT o_orderpriority, COUNT(*) AS n FROM plans_q8_o o
      WHERE EXISTS (SELECT 1 FROM plans_q8_l l
                    WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
        AND NOT EXISTS (SELECT 1 FROM plans_q8_l l
                        WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
      GROUP BY o_orderpriority""")
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("LeftSemi") && opt.contains("LeftAnti"),
      s"predicate subqueries not rewritten:\n$opt")
    assert(!opt.toLowerCase.contains("exists-subquery"), s"subquery survived:\n$opt")
    // order 1: qty 50 semi-pass, no 'R' → kept; order 2: has 'R' → anti-drop;
    // order 3: qty 10 → semi-drop
    assert(q.as[(String, Long)].collect().toMap === Map("H" -> 1L))
  }

  test("WITH RECURSIVE plans a UnionLoop and converges (q10 shape)") {
    import spark.implicits._
    // path 1-2-3-4 with a shortcut 1-3: MIN(dist) must pick the short way
    Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L),
      (3L, 4L), (4L, 3L)).toDF("id", "nb").createOrReplaceTempView("plans_q10_nbr")
    val q = spark.sql("""
      WITH RECURSIVE walk(id, dist) AS (
        SELECT 1L AS id, 0 AS dist
        UNION ALL
        SELECT n.nb, w.dist + 1 FROM walk w JOIN plans_q10_nbr n ON n.id = w.id
        WHERE w.dist < 3
      )
      SELECT id, MIN(dist) AS dist FROM walk GROUP BY id""")
    val phys = q.queryExecution.executedPlan.toString
    assert(phys.contains("UnionLoop"), s"expected recursive UnionLoop:\n$phys")
    assert(q.as[(Long, Int)].collect().toMap ===
      Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2))
  }

  test("NOT IN plans a null-aware anti join and honours NULL poisoning (q9 shape)") {
    import spark.implicits._
    Seq((1L, "A"), (2L, "A"), (3L, "B"), (10L, "B"))
      .toDF("c_custkey", "c_mktsegment").createOrReplaceTempView("plans_q9_c")
    Seq((Some(2L), "1-URGENT"), (Some(3L), "2-HIGH"))
      .toDF("o_custkey", "o_orderpriority").createOrReplaceTempView("plans_q9_o")
    val plain = spark.sql("""
      SELECT c_custkey FROM plans_q9_c
      WHERE c_custkey NOT IN
        (SELECT o_custkey FROM plans_q9_o WHERE o_orderpriority = '1-URGENT')""")
    // single-column NOT IN over a broadcastable subquery → Spark's
    // null-aware anti join, not a nested loop. In simpleString the NAAJ
    // flag is the trailing `true` of "LeftAnti, BuildRight, true"
    // (formatted explain spells it NAAJ).
    val phys = plain.queryExecution.executedPlan.toString
    assert(phys.contains("LeftAnti, BuildRight, true"),
      s"expected null-aware anti join:\n$phys")
    assert(plain.as[Long].collect().sorted === Array(1L, 3L, 10L))
    // a NULL in the list poisons every probe row
    val nullList = spark.sql("""
      SELECT c_custkey FROM plans_q9_c
      WHERE c_custkey NOT IN
        (SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
                     ELSE o_custkey END FROM plans_q9_o)""")
    assert(nullList.collect().isEmpty, "NULL in NOT IN list must drop all rows")
    // a NULL probe never passes
    val nullProbe = spark.sql("""
      SELECT c_custkey FROM plans_q9_c
      WHERE (CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_custkey END)
        NOT IN (SELECT o_custkey FROM plans_q9_o
                WHERE o_orderpriority = '1-URGENT')""")
    assert(nullProbe.as[Long].collect().sorted === Array(1L, 3L))
  }

  test("gate plan shapes: a22 one scan, a24 join-free, geo2 window-free") {
    // run the REGISTERED gates against a miniature testdata dir so the
    // plan properties this round's explain audit fixed stay pinned:
    //  - a22_markov: the row-conditional totals must NOT re-run the events
    //    window pass as a second join arm (one parquet scan total);
    //  - a24_attribution: the lookback needs no join at all;
    //  - geo2_nearest: the argmin is a partial aggregate, never a
    //    window sort over the candidate pile.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plans-gates").toString
    (1L to 40L).map(i => (i, new java.sql.Timestamp(1700000000000L + i * 60000),
        i % 5, Seq("click", "view", "purchase")(i.toInt % 3), (i % 7) * 30.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    (1L to 60L).map(i => (i, s"n$i", i % 3, i * 1.5, "SEG"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    def scans(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
        .split("\n").count(_.contains("Scan parquet"))
    val a22 = SparkEntry.queries("a22_markov")(spark, dir)
    assert(scans(a22) === 1, "a22 totals must ride a window, not a second scan")
    assert(a22.count() > 0)
    val a24 = SparkEntry.queries("a24_attribution")(spark, dir)
    assert(!a24.queryExecution.optimizedPlan.toString.contains("Join"),
      "a24 must not join")
    assert(a24.count() > 0)
    val geo2 = SparkEntry.queries("geo2_nearest")(spark, dir)
    assert(!geo2.queryExecution.executedPlan.toString.contains("Window"),
      "geo2 argmin must be a partial aggregate, not a window sort")
  }

  test("gate plan shapes: t29 join-free, j9 distinct-free equi-join, s26 no nested loop") {
    // the round-11 additions' load-bearing plan properties:
    //  - t29_skipgram: pair generation is in-array — no join, one scan;
    //  - j9_interval_join: the owner-bin rule means NO pair-level dedup
    //    (no Aggregate/Deduplicate at all) and the overlap predicate rides
    //    an equi-join on (user, bin), never a nested loop;
    //  - s26_margin_mining: every join is an equi-join (bucket / id keys) —
    //    a nested-loop anywhere means the LSH blocking fell out of the plan.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plans-gates2").toString
    (1L to 40L).map(i => (i, new java.sql.Timestamp(1700000000000L + i * 60000),
        i % 5, Seq("click", "view", "purchase")(i.toInt % 3), (i % 7) * 30.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    (1L to 30L).map(i => (i, s"w${i % 5} w${i % 3} w${i % 7} w${i % 2}", "en", "s0", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    (1L to 40L).map(i => (i, Array.tabulate(8)(d =>
        (((i * 31 + d * 17) % 13) - 6).toFloat / 6f), (i % 10).toInt))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val t29 = SparkEntry.queries("t29_skipgram")(spark, dir)
    val t29Plan = t29.queryExecution.executedPlan.toString
    assert(!t29Plan.contains("Join"), s"t29 must not join:\n$t29Plan")
    assert(t29Plan.split("\n").count(_.contains("Scan parquet")) === 1,
      "t29 reads the corpus once")
    assert(t29.count() > 0)
    val j9 = SparkEntry.queries("j9_interval_join")(spark, dir)
    val j9Plan = j9.queryExecution.executedPlan.toString
    assert(!j9Plan.contains("NestedLoop") && !j9Plan.contains("CartesianProduct"),
      s"j9 overlap must ride the bin equi-join:\n$j9Plan")
    assert(!j9Plan.contains("HashAggregate") && !j9Plan.contains("Deduplicate"),
      s"owner-bin rule makes j9 dedup-free:\n$j9Plan")
    assert(j9.count() > 0)
    val s26 = SparkEntry.queries("s26_margin_mining")(spark, dir)
    val s26Plan = s26.queryExecution.executedPlan.toString
    assert(!s26Plan.contains("NestedLoop") && !s26Plan.contains("CartesianProduct"),
      s"s26 candidates come from the bucket equi-join:\n$s26Plan")
  }

  test("gate plan shapes: t31 narrow scan, x18 one scan no explode, j10 no interval join, q27 pushdown+broadcast") {
    // session-3 load-bearing plan properties:
    //  - t31_gopher_rules: pure per-row rules — one scan, NO exchange;
    //  - x18_bootstrap_ci: all 24 replicas partial-aggregate in ONE events
    //    scan and the corpus is never exploded (the 78s→3s fix);
    //  - j10_scd2_asof: the as-of ride is a window timeline — never a
    //    nested-loop/cartesian interval join;
    //  - q27_min_cost_supplier: the p_size filter reaches the part scan
    //    and the dims broadcast.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plans-gates3").toString
    (1L to 40L).map(i => (i, new java.sql.Timestamp(1700000000000L + i * 60000),
        i % 5, Seq("click", "view", "purchase")(i.toInt % 3), (i % 7) * 30.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    (1L to 30L).map(i => (i, s"w${i % 5} w${i % 3} w${i % 7} w${i % 2}", "en", "s0", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    (1L to 12L).map(i => (i, s"p$i", s"B$i", "T", (i % 15).toInt, i * 2.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.parquet(s"$dir/part.parquet")
    (1L to 6L).map(i => (i, s"s$i", (i % 3).toInt, i * 1.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.parquet(s"$dir/supplier.parquet")
    (0 to 2).map(i => (i, s"N$i", i % 2))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    Seq((0, "EUROPE"), (1, "ASIA")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$dir/region.parquet")
    (1L to 40L).map(i => (i, i % 12 + 1, i % 6 + 1, 1, i % 5 + 1.0, i * 3.0, 0.1, 0.2))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .write.parquet(s"$dir/lineitem.parquet")
    def planOf(name: String) =
      SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
    val t31 = planOf("t31_gopher_rules")
    assert(!t31.contains("Exchange"), s"t31 is a narrow map:\n$t31")
    assert(t31.split("\n").count(_.contains("Scan parquet")) === 1)
    // x18 checkpoints the 48-column per-type aggregate (5 rows): the ONE
    // events scan happens inside that job, so the SERVE plan must read the
    // checkpoint only — zero parquet scans, no corpus explode anywhere.
    val x18 = planOf("x18_bootstrap_ci")
    assert(x18.split("\n").count(_.contains("Scan parquet")) === 0 &&
      x18.contains("Scan ExistingRDD"),
      s"x18 serves from the checkpointed per-type aggregate:\n$x18")
    val j10 = planOf("j10_scd2_asof")
    assert(!j10.contains("NestedLoop") && !j10.contains("CartesianProduct"),
      s"j10 rides the union+window timeline, not an interval join:\n$j10")
    val q27 = planOf("q27_min_cost_supplier")
    assert(q27.contains("BroadcastHashJoin"), s"q27 dims broadcast:\n$q27")
    assert(q27.contains("LessThanOrEqual(p_size,10)"),
      s"q27 p_size filter pushed to the part scan:\n$q27")
  }

  test("gate plan shapes: q28 single-window decorrelation, j11 join-free timeline, o41 serves from the materialized view") {
    // session-4 load-bearing plan properties:
    //  - q28_last_shipper: Q21's EXISTS + NOT EXISTS pair decorrelates to
    //    ONE window pass — no nested-loop/cartesian anywhere, supplier
    //    broadcasts, lineitem is scanned exactly once;
    //  - j11_pit_features: the point-in-time join is a union+window
    //    timeline — there must be NO join operator at all (a per-order
    //    correlated scan would appear as a join);
    //  - o41_view_delta_join: the serve plan unions the MATERIALIZED base
    //    view (a parquet read of the scratch dir) with the delta join-agg —
    //    the base fact partition is never re-joined.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plans-gates4").toString
    (1L to 40L).map(i => (i, new java.sql.Timestamp(1700000000000L + i * 60000),
        i % 5, Seq("click", "view", "purchase")(i.toInt % 3), (i % 7) * 30.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    (1L to 30L).map(i => (i, s"w${i % 5} w${i % 3} w${i % 7} w${i % 2}",
        Seq("en", "de")(i.toInt % 2), s"s${i % 4}", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    (1L to 20L).map(i => (i, i % 7 + 1, "F", i * 10.0,
        new java.sql.Timestamp(1700000000000L + i * 3600000), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    (1L to 8L).map(i => (i, s"c$i", (i % 3).toInt, Seq("BUILDING", "AUTOMOBILE")(i.toInt % 2)))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    (1L to 6L).map(i => (i, s"s$i", (i % 3).toInt, i * 1.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.parquet(s"$dir/supplier.parquet")
    (1L to 40L).map(i => (i % 10 + 1, i % 12 + 1, i % 6 + 1, 1, i % 5 + 1.0,
        i * 3.0, 0.1, 0.2, new java.sql.Timestamp(1700000000000L + i * 7200000)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    def planOf(name: String) =
      SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
    val q28 = planOf("q28_last_shipper")
    assert(!q28.contains("NestedLoop") && !q28.contains("CartesianProduct"),
      s"q28 decorrelates to hash aggregates, never a correlated scan:\n$q28")
    assert(q28.contains("BroadcastHashJoin"), s"q28 supplier broadcasts:\n$q28")
    assert(q28.split("\n").count(l => l.contains("Scan parquet") &&
      l.contains("lineitem")) === 1, s"q28 reads lineitem once:\n$q28")
    assert(!q28.contains("Window") && !q28.contains("Sort"),
      s"q28 tie detection is the dual-argmax hash agg — no window, no sort:\n$q28")
    val j11 = planOf("j11_pit_features")
    assert(!j11.contains("Join"), s"j11 is a union+window timeline, no join:\n$j11")
    assert(j11.contains("Window"), s"j11 running features ride a window:\n$j11")
    val o41 = planOf("o41_view_delta_join")
    assert(o41.split("\n").count(l => l.contains("Scan parquet") &&
      l.contains("view")) === 1,
      s"o41 serves from the materialized base view:\n$o41")
    assert(o41.split("\n").count(l => l.contains("Scan parquet") &&
      l.contains("orders.parquet")) === 1,
      s"o41 re-joins only the delta partition of orders:\n$o41")
    // q3_top_orders (round 13, the measured-and-kept shape): the revenue
    // aggregate runs ABOVE the orderkey join (BUILDING groups only — the
    // eager-agg alternative hashed ALL orderkeys and measured 2.4× worse
    // at 310×, docs/PLANS.md), the segment broadcast join sits BELOW the
    // fact join (orders reaches the wide exchange semi-shrunk and
    // key-only), and the global top-10 is a bounded TakeOrderedAndProject.
    val q3 = planOf("q3_top_orders")
    val q3Lines = q3.split("\n")
    val q3FirstAgg = q3Lines.indexWhere(_.contains("HashAggregate"))
    val q3FactJoin = q3Lines.indexWhere(l => l.contains("Join") &&
      l.contains("l_orderkey"))
    val q3SegJoin = q3Lines.indexWhere(l => l.contains("BroadcastHashJoin") &&
      l.contains("c_custkey"))
    assert(q3FirstAgg >= 0 && q3FactJoin > q3FirstAgg,
      s"q3 aggregates above the orderkey join (segment groups only):\n$q3")
    assert(q3SegJoin > q3FactJoin,
      s"q3 semi-shrinks orders below the fact join:\n$q3")
    assert(q3.contains("TakeOrderedAndProject"), s"q3 top-10 is bounded:\n$q3")
    assert(q3Lines.count(l => l.contains("Scan parquet") &&
      l.contains("lineitem")) === 1, s"q3 reads lineitem once:\n$q3")
    // x21_source_cap: the declared rank-filter must lower to the map-side
    // WindowGroupLimit(Partial) BELOW the exchange — that is the skew
    // guard: each input partition forwards ≤ K rows per source, a
    // mega-source never ships its corpus into one task.
    val x21 = planOf("x21_source_cap")
    assert(x21.contains("WindowGroupLimit") && x21.contains("Partial"),
      s"x21 caps map-side via InferWindowGroupLimit:\n$x21")
    assert(x21.split("\n").indexWhere(_.contains("Partial")) >
      x21.split("\n").indexWhere(_.contains("Exchange")),
      s"x21 partial group-limit sits below the exchange:\n$x21")
    // t34_calibration: pure per-row integer arithmetic + one 21-bin
    // exchange — a single corpus scan, no join.
    val t34 = planOf("t34_calibration")
    assert(!t34.contains("Join"), s"t34 is scan+agg only:\n$t34")
    assert(t34.split("\n").count(_.contains("Scan parquet")) === 1,
      s"t34 reads the corpus once:\n$t34")
    // o43_partition_prune: the day equality must land as a PartitionFilter
    // on the scan (1/Nth of the table read at any scale), never a post-scan
    // Filter over all partitions.
    val o43 = planOf("o43_partition_prune")
    val o43Scan = o43.split("\n").find(l => l.contains("Scan parquet") &&
      l.contains("PartitionFilters")).getOrElse("")
    assert(o43Scan.matches(""".*PartitionFilters: \[[^\]]*day[^\]]*=[^\]]*\].*"""),
      s"o43 day equality prunes partitions at the scan:\n$o43")
  }

  test("gate plan shapes: q36 semi+anti decorrelation, o47 join-free, a36 one scan one window") {
    // session-11 load-bearing plan properties:
    //  - q36_waiting_supplier: the EXISTS + NOT EXISTS pair must
    //    decorrelate to a LeftSemi and a LeftAnti hash join — a
    //    nested-loop/cartesian anywhere means the two-table correlation
    //    defeated RewritePredicateSubquery;
    //  - o47_resharding: HRW placement is a per-row array_max race —
    //    there must be NO join operator at all (a shard-table join would
    //    shuffle the key relation N_shards times);
    //  - a36_mann_whitney: the corpus reduces to the distinct-value
    //    relation BEFORE ranking — one parquet scan, one Window.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plans-gates5").toString
    (1L to 30L).map(i => (i, s"w${i % 5} w${i % 3} w${i % 7} w${i % 2}",
        Seq("en", "de")(i.toInt % 2), s"s${i % 4}", 10L + i % 9))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    (1L to 20L).map(i => (i, i % 7 + 1, "F", i * 10.0,
        new java.sql.Timestamp(820454400000L + i * 86400000), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    (1L to 6L).map(i => (i, s"s$i", (i % 3).toInt, i * 1.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.parquet(s"$dir/supplier.parquet")
    (1L to 40L).map(i => (i % 10 + 1, i % 12 + 1, i % 6 + 1, (i % 4).toInt,
        i % 5 + 1.0, i * 3.0, 0.1, 0.2,
        new java.sql.Timestamp(820454400000L + i * 10 * 86400000)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    def planOf(name: String) =
      SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
    val q36 = planOf("q36_waiting_supplier")
    assert(q36.contains("LeftSemi") && q36.contains("LeftAnti"),
      s"q36 decorrelates to semi + anti joins:\n$q36")
    assert(!q36.contains("NestedLoop") && !q36.contains("CartesianProduct"),
      s"q36 never falls back to a correlated scan:\n$q36")
    val o47 = planOf("o47_resharding")
    assert(!o47.contains("Join"),
      s"o47 HRW placement is map-only — no join anywhere:\n$o47")
    val a36 = planOf("a36_mann_whitney")
    assert(a36.split("\n").count(_.contains("Scan parquet")) === 1,
      s"a36 reads documents once:\n$a36")
    assert(a36.split("\n").count(_.trim.startsWith("+- Window")) +
      a36.split("\n").count(_.trim.startsWith("Window")) >= 1 &&
      a36.split("\n").count(_.contains("Window")) === 1,
      s"a36 ranks on the reduced distinct-value relation with one window:\n$a36")
  }
}
