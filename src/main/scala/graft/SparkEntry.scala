package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.batch.MinuteAggregate
import graft.ops.{DedupOps, Exact, Multimodal, SimilarityOps, TextOps}

/** Driver contract — one entry per implemented operator from SURVEY.md §2,
  * plus the LLM-data-pipeline operator surface (dedup / similarity / text).
  *
  * Every query here has a DuckDB-equivalent in [[SparkEntry.oracleSql]]; the
  * two are kept numerically identical by (a) routing double reductions
  * through exact DECIMAL accumulators ([[graft.ops.Exact]]) and (b) mirroring
  * per-row double arithmetic expression-for-expression.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A1 — the reference's resident per-minute aggregation
    * (ref: resources/flink/main.py:105-120) in batch form. */
  def entry(spark: SparkSession): DataFrame =
    MinuteAggregate(Tables.events(spark, "/root/testdata/sf0.001"), "ts", "value")

  // ---- helpers ----------------------------------------------------------
  private def ev(s: SparkSession, dir: String) = Tables.events(s, dir)

  /** m7/m8 shared pipeline: per-user 9×8 avatar tiles through the REAL BMP
    * round trip (encodeBmp24 → dhashBmp parses the container), banded dHash
    * candidates, exact-popcount pairs at hamming ≤ 4. See m7's registration
    * comment for the fixture design.
    *
    * HASH-CLASS FACTORED (r11 100× sweep finding): the r10 form banded the
    * per-USER hash relation, so both the band join and the candidate
    * `distinct` were quadratic in duplicate-class size — and image corpora
    * saturate (at 100× data, 150k users collapse into 365 distinct images,
    * max class 5,744, with a REQUIRED output of ~103 M pairs). Worse, AQE
    * coalesced the metadata-sized hash shuffle to ONE partition, so the
    * 100-1000× amplifying join ran single-task (measured: wedged >20 min
    * with a thrashing 2 GB agg map). Factored form: band + verify over
    * DISTINCT hashes only (bounded by image-space size, not corpus size),
    * then expand member pairs as pure partitioned output materialization —
    * no distinct over expanded pairs exists at all. Returns
    * (members(id, hi, lo, cid), classPairs(cid_a, cid_b, hamming≥1)); the
    * class id packs (hi, lo) into one collision-free long. */
  private def dhashRelations(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    import graft.ops.Multimodal
    // explicit partition count (not bare repartition(col)): AQE coalesces
    // the tiny distinct-users shuffle to ONE partition, and the 72×
    // pixel explode + collect_list agg downstream then runs single-task;
    // REPARTITION_BY_NUM is exempt from AQE coalescing
    val shufP = s.sessionState.conf.numShufflePartitions
    val users = ev(s, dir).select(col("user_id")).distinct()
      .repartition(shufP, col("user_id"))
    val base = (col("i") * 37 + pmod(col("user_id"), lit(5)) * 11) % 97 * 2
    val px = users.select(col("user_id"), explode(sequence(lit(0), lit(71))).as("i"))
      .withColumn("v",
        when(col("user_id") >= 75 &&
             pmod(col("i") + col("user_id"), lit(89)) === 0,
          lit(255) - base).otherwise(base))
      .withColumn("rgb", col("v") * 65536 + col("v") * 256 + col("v"))
    val payloads = px.groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("i"), col("rgb")))).as("pxs"))
      .select(col("user_id"),
        transform(col("pxs"), x => x.getField("rgb")).as("pxs"))
      .as[(Long, Array[Long])]
      .map { case (uid, pxs) =>
        (uid, Multimodal.encodeBmp24(pxs.map(_.toInt), 9)) }
      .toDF("id", "data")
    // checkpointed: reused by 2-3 arms (same-class, cross-class, per-class
    // stats) — and metadata-sized (one row per user, two longs)
    val members = payloads.as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val (hi, lo) = Multimodal.dhashBmp(bytes); (id, hi, lo) }
      .toDF("id", "hi", "lo")
      .withColumn("cid", expr("shiftleft(hi, 32) + lo"))
      // AQE coalesces this metadata-sized relation to ONE partition, and
      // everything downstream (the pair expansions) runs at the probe
      // side's parallelism — single-task without this. Hash by id, not
      // cid: a probe row's expansion work is its class size, so
      // id-hashing balances the skewed classes across all tasks
      .repartition(shufP, col("id"))
      .localCheckpoint()
    val classes = members.select(col("cid"), col("hi"), col("lo")).distinct()
    val bands = classes.select(col("cid"), explode(array((0 until 8).map { j =>
      val half = if (j < 4) col("hi") else col("lo")
      struct(lit(j).as("j"),
        shiftright(half, 8 * (j % 4)).bitwiseAND(lit(255L)).as("bv"))
    }: _*)).as("b"))
      .select(col("cid"), col("b.j").as("j"), col("b.bv").as("bv"))
    // banding is LOSSLESS for hamming ≤ 4: ≤4 differing bits across 8
    // bands leave ≥4 bands identical (pigeonhole)
    val candC = bands.select(col("j"), col("bv"), col("cid").as("cid_a"))
      .join(bands.select(col("j"), col("bv"), col("cid").as("cid_b")),
        Seq("j", "bv"))
      .filter(col("cid_a") < col("cid_b"))
      .select(col("cid_a"), col("cid_b")).distinct()
    val classPairs = candC
      .join(classes.select(col("cid").as("cid_a"), col("hi").as("hi_a"),
        col("lo").as("lo_a")), "cid_a")
      .join(classes.select(col("cid").as("cid_b"), col("hi").as("hi_b"),
        col("lo").as("lo_b")), "cid_b")
      .select(col("cid_a"), col("cid_b"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
         bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= 4)
    (members, classPairs)
  }

  /** m7's pair relation from the factored form: identical-hash members
    * pair at hamming 0 (per-class self-join — skew bounded by class size,
    * generation-only work); near-class members expand through the verified
    * class pairs. Both arms emit unique rows, so no distinct runs over the
    * expanded relation. */
  private def dhashPairs(s: SparkSession, dir: String): DataFrame = {
    val (members, classPairs) = dhashRelations(s, dir)
    dhashPairsFrom(members, classPairs)
  }

  /** [[dhashPairs]] over ALREADY-BUILT (members, classPairs) relations —
    * compositions that also need the relations themselves (c8) must not
    * synthesize and dHash the image corpus twice. */
  private def dhashPairsFrom(members: DataFrame, classPairs: DataFrame): DataFrame = {
    val m = members.select(col("cid"), col("id"))
    val same = m.select(col("cid"), col("id").as("id_a"))
      .join(m.select(col("cid"), col("id").as("id_b")), Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0L).as("hamming"))
    val cross = classPairs
      .join(m.select(col("cid").as("cid_a"), col("id").as("ia")), "cid_a")
      .join(m.select(col("cid").as("cid_b"), col("id").as("ib")), "cid_b")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("hamming"))
    same.unionByName(cross)
  }
  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)
  private def emb(s: SparkSession, dir: String) = Tables.embeddings(s, dir)

  /** Deterministic farthest-point (Gonzalez k-center) seeding over a
    * quantized-vector relation with columns (vec_id, q) — shared by the
    * s28 seeding gate and the s29 silhouette audit so both sit on the
    * SAME engine-identical seed sequence the oracle unrolls. Each round
    * is one partial-aggregated argmax scan (min(struct)) — k narrow scans
    * total, no corpus state on the driver (k seed vectors only).
    * Returns (round, seed_id, seed_vector, picked_d2). */
  private def gonzalezSeeds(qv: DataFrame,
      rounds: Int): Vector[(Int, Long, Array[Long], Long)] = {
    def d2To(seed: Array[Long]): Column =
      SimilarityOps.sqDistL(col("q"), array(seed.map(lit): _*))
    def vecOf(id: Long): Array[Long] =
      qv.filter(col("vec_id") === id).head().getSeq[Long](1).toArray
    val firstId = qv.agg(min(col("vec_id"))).head().getLong(0)
    var seeds = Vector((0, firstId, vecOf(firstId), 0L))
    for (r <- 1 until rounds) {
      val minD = seeds.map(t => d2To(t._3)).reduce(least(_, _))
      val pick = qv.select(col("vec_id"), minD.as("d2"))
        .agg(min(struct((-col("d2")).as("nd"), col("vec_id").as("id"))).as("m"))
        .select(col("m.nd"), col("m.id")).head()
      seeds = seeds :+ ((r, pick.getLong(1), vecOf(pick.getLong(1)), -pick.getLong(0)))
    }
    seeds
  }

  /** Per-JVM scratch root: a fresh temp directory per process (two
    * concurrent runs on one host — e.g. Verify and Bench — must never
    * clobber each other's scratch data), removed on JVM exit. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-scratch-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(root.toFile)))
    root
  }

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  /** Per-query scratch dir under the per-process root, recreated on each
    * call — repeated runs within one JVM must not accumulate temp data. */
  private def scratch(name: String): String = {
    val p = scratchRoot.resolve(name)
    rmTree(p.toFile)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Scale-adaptive scan FAN-OUT (r13 opt, guide §2.5 input skew): the local
    * single-file fixtures hand the scan ONE partition (one parquet row group
    * per file — `maxPartitionBytes`/`minPartitionNum` cannot split it, a row
    * group lands whole in one split), so CPU-heavy per-row kernels (regex
    * tokenizers, JSON/variant parsing, md5 sketch hashing) serialize on one
    * core of 32 (JobStats: t24 4.8 s / p13 1.2 s / t29 1.2 s, all ≤5 tasks).
    * When the scan already supplies at least the session parallelism — any
    * real multi-file table, so every at-scale deployment — this is the
    * IDENTITY: nothing extra is ever shuffled at 100 TB, where these
    * kernels' map-side partial aggregation is the whole scale story.
    * Hash-repartitions on a key column: keyless round-robin pays a local
    * sort (SPARK-23207) and is retry-unsafe on nondeterministic input.
    *
    * CALL ONLY ON A BARE TABLE SCAN (`docs()`/`ev()`/`emb()`): the split
    * probe reads `df.rdd.getNumPartitions`, and with AQE enabled `.rdd` on
    * a plan containing exchanges eagerly EXECUTES every upstream query
    * stage — on a derived plan this helper would silently run the query
    * once extra at construction time. On a scan it is a cheap planning
    * pass only. */
  private def fanOut(df: DataFrame, key: Column): DataFrame = {
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions >= p) df else df.repartition(p, key)
  }

  /** Corpus-adaptive scale knobs shared by the Spark queries and the DuckDB
    * oracle — the round-7 sf0.1→sf1 sweep caught two quadratic families:
    * IVF centroid sets growing linearly with the corpus (assign cost
    * N·nlist = N²/40) and sign-LSH bucketing with a FIXED 2^8 bucket space
    * (candidate pairs ~ N²/256). Both knobs now derive from the corpus size
    * so cost stays linear: nlist is pinned into (32, 64] by a power-of-2 id
    * stride, and the sign-key width grows as ceil(log2 N) so expected
    * bucket occupancy is constant.
    *
    * Parity: the Scala side computes with exact bit arithmetic; the oracle
    * SQL embeds a generated integer CASE ladder over the same COUNT(*) —
    * never float LOG2, whose rounding at exact powers of two need not agree
    * across engines. */
  private object Adaptive {
    /** ceil(log2(n)) for n >= 1 (0 for n <= 1) — exact. */
    def ceilLog2(n: Long): Int =
      if (n <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)

    /** Smallest power-of-2 id stride keeping ceil(n/stride) <= 64 centroids.
      * Floored at 2 so the centroid set is always a PROPER subset of the
      * corpus: with stride 1 (n <= 64) every vector is a centroid and the
      * s5 drift-reassign offset (stride/2 = 0) degenerates to a no-op —
      * the queries would stop exercising what they claim to test. */
    def centroidStride(n: Long): Long = {
      // [[strideSql]]'s ladder ends at ELSE 2^55 (cnt > 2^60); past 64·2^55
      // the Scala stride would keep doubling while the SQL side stays
      // pinned — fail loudly rather than let engine parity silently drift
      require(n <= (64L << 55), s"corpus of $n rows exceeds the stride ladder")
      math.max(2L, 1L << ceilLog2((n + 63) / 64))
    }

    /** Sign-LSH key width: ceil(log2 n) − 2, clamped to [4, 32] (embedding
      * dim 64 holds two non-overlapping 32-bit rotations for multi-probe).
      * The −2 targets ~4 vectors per bucket: candidates stay LINEAR (~2N)
      * while single-probe recall is materially better than occupancy-1
      * keying would give. */
    def signDims(n: Long): Int = math.min(32, math.max(4, ceilLog2(n) - 2))

    /** SQL integer CASE ladder mirroring [[centroidStride]]: stride = 2^k
      * for cnt in (64·2^(k-1), 64·2^k]; first branch folds in the lower
      * stride floor of 2. The ladder runs to 2^54 (64·2^54 = 2^60 rows ≈
      * 10^18 — beyond any physical corpus) so Spark and the oracle agree
      * unconditionally, not just below a 2^25 cap. */
    def strideSql(cntExpr: String): String =
      (1 to 54).map(k => s"WHEN $cntExpr <= ${64L << k} THEN ${1L << k}")
        .mkString("CASE ", " ", s" ELSE ${1L << 55} END")

    /** SQL integer CASE ladder mirroring [[signDims]] (k = ceil(log2 cnt)
      * for cnt in (2^(k-1), 2^k]; the k=6 branch folds in the lower clamp). */
    def signDimsSql(cntExpr: String): String =
      (6 to 34).map(k => s"WHEN $cntExpr <= ${1L << k} THEN ${math.min(32, k - 2)}")
        .mkString("CASE ", " ", " ELSE 32 END")
  }

  /** The (centroids, topCentroids) pair for the tiered IVF rows: centroids
    * at `stride`, top level at 8·stride — nlist1 = ceil(nlist/8) ∈ (4,8]
    * top cells for the ladder's nlist ∈ (32,64]. The top set is a subset of
    * the centroid set by construction (vec_id ≡ offset mod 8·stride ⇒
    * ≡ offset mod stride), satisfying the groupCentroidsByTop contract. The
    * 8× ratio is the bench-scale stand-in for sqrt(nlist): what matters is
    * that BOTH tiers stay broadcast-small while the full centroid relation
    * flows through the shuffle join (see the AssignSweep evidence in
    * docs/PLANS.md for cost vs nlist). */
  private def ivfCentroidSets(e: DataFrame, stride: Long,
                              offset: Long = 0L): (DataFrame, DataFrame) = {
    val cent = e.filter(col("vec_id") % stride === offset)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
    val top = e.filter(col("vec_id") % (stride * 8) === offset)
      .select(col("vec_id").as("top_id"), col("embedding").as("top_vec"))
    (cent, top)
  }

  /** lag-1 prediction frame used by the evaluation queries (a5/a6/a7): the
    * previous value of the same user is the "forecast" — deterministic and
    * oracle-expressible, standing in for the external DeepAR model the
    * reference treats as a black box (SURVEY.md §7.5). */
  private def predFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev(s, dir)
      .withColumn("prediction", lag(col("value"), 1).over(w))
      .filter(col("prediction").isNotNull)
      .select(col("event_id"), col("value").as("target"), col("prediction"))
  }

  private val predSql =
    """SELECT event_id, value AS target, prediction FROM (
      |  SELECT event_id, value,
      |         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prediction
      |  FROM events) WHERE prediction IS NOT NULL""".stripMargin

  /** Pinball loss mirrored in Spark and SQL: q*(t-p) / (1-q)*(p-t). */
  private def ql(q: Double): Column =
    when(col("target") > col("prediction"), lit(q) * (col("target") - col("prediction")))
      .otherwise(lit(1.0 - q) * (col("prediction") - col("target")))
  /** NB: fractional literals are written CAST('…' AS DOUBLE) — DuckDB parses
    * bare decimal literals as DECIMAL and its decimal→double conversion can be
    * 1 ULP off the correctly-rounded string→double parse (e.g.
    * 0.050000000000000044 → 0.05000000000000005). */
  private def qlSql(q: Double): String =
    s"CASE WHEN target > prediction THEN CAST('$q' AS DOUBLE) * (target - prediction) " +
      s"ELSE CAST('${1.0 - q}' AS DOUBLE) * (prediction - target) END"

  /** The keys of [[queries]] that are round trips rather than queries:
    * streaming replays (fixture render + multi-micro-batch run, dominated
    * by trigger/checkpoint overhead independent of data size), store
    * maintenance (upserts + compaction / history / retention + listing,
    * write-once bucketing), and on-disk index or codebook builds. Bench
    * times them once under "maintenance", outside query throughput. */
  val maintenance: Set[String] = Set(
    // streaming replays
    "e2e_stream_agg", "e2e_late_drop", "e2e_stream_join", "e2e_session",
    "e2e_cdc", "e2e_view_maintain", "e2e_kmv_sketch", "e2e_tws_profile",
    "e2e_stream_outer_join", "e2e_stream_enrich", "e2e_stream_dedup",
    "e2e_stream_dedup_ooo", "e2e_hysteresis", "e2e_idle", "e2e_vacuum",
    "e2e_neardup",
    // store maintenance
    "o6_compact_files", "o21_zorder_skip", "o10_version_history",
    "o24_time_travel", "o25_retention", "o31_cdc_apply", "j8_bucketed_join",
    // index and codebook builds
    "s4_ivf_index_search", "s5_ivf_reassign", "s7d_pq_index_search",
    "s7e_pq_trained_recall", "s16_mips_index")

  // ---- the queries ------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Contract example: grouped sum over lineitem.
    "q1_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir).groupBy(col("l_returnflag"))
        .agg(Exact.sumD(col("l_quantity"), 2).as("sum_qty"))),

    // Q7 — correlated scalar subqueries through the SQL surface (TPC-H
    // Q17 shape: "small-quantity" lineitems vs their part's average):
    // TWO correlated subqueries per row, which Catalyst must de-correlate
    // (RewriteCorrelatedScalarSubquery → per-part aggregate + joins) — an
    // optimizer path nothing else in the suite exercises; left correlated,
    // this would be a per-row rescan of lineitem. The threshold
    // q < 0.2·avg is restated as the integer 5·q·cnt < Σq (quantities are
    // whole; CAST is exact in both engines), so membership is
    // engine-identical with no fp compare.
    "q7_small_qty" -> ((s, dir) => {
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
    }),

    // Q8 — EXISTS / NOT EXISTS through the SQL surface: the predicate-
    // subquery twin of q7's scalar form. Catalyst's RewritePredicateSubquery
    // must turn the pair into one LeftSemi and one LeftAnti join (pinned in
    // PlansSpec) — correlated-left these are per-order rescans of lineitem.
    // All-integer output.
    "q8_exists" -> ((s, dir) => {
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
    }),

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
    "q9_not_in" -> ((s, dir) => {
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
    }),

    // Q10 — WITH RECURSIVE through the SQL surface (Spark 4's UnionLoop,
    // pinned in PlansSpec): g4's seed-expansion BFS restated as the
    // anchor + self-referencing-join recursion a SQL user would write.
    // UNION ALL recursion enumerates paths (bounded: dist < 4 and out-deg
    // ≤ 2k on the k-NN graph), MIN(dist) collapses them to the hop
    // distance; only reached nodes appear (g4's spine carries the −1s).
    // The edge relation is built once in the DataFrame API and handed to
    // the recursion as a temp view — recursion is the surface under test,
    // not the graph construction.
    "q10_recursive_bfs" -> ((s, dir) => {
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
    }),

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
    "q11_lateral" -> ((s, dir) => {
      Tables.customer(s, dir).filter(col("c_mktsegment") === "MACHINERY")
        .createOrReplaceTempView("q11_cust")
      Tables.orders(s, dir).createOrReplaceTempView("q11_orders")
      s.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM q11_cust c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM q11_orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""")
    }),

    // Q12 — UNPIVOT: four measure columns melted to (metric, val) rows —
    // the wide→long reshape every metrics store and training-feature
    // pipeline does before a per-metric aggregate. Spark plans Expand (each
    // input row fans out to 4 in-place, NO shuffle, no self-union rescan);
    // the oracle states the semantics from first principles as a 4-way
    // UNION ALL — including the default EXCLUDE NULLS contract, which the
    // explicit IS NOT NULL guard makes visible on both sides. Sums are
    // decimal-exact (Exact.sumD discipline, inline in SQL).
    "q12_unpivot" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("q12_lineitem")
      s.sql("""
        SELECT l_returnflag, metric, COUNT(*) AS n,
               CAST(SUM(CAST(val AS DECIMAL(30,4))) AS DOUBLE) AS sum_val
        FROM q12_lineitem
        UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount, l_tax))
        WHERE val IS NOT NULL
        GROUP BY l_returnflag, metric""")
    }),

    // Q13 — PIVOT (long→wide, q12's twin): explicit value list, so Spark
    // plans ONE aggregate with conditional projections (PivotFirst) — a
    // single scan + single exchange, not one scan per pivot value; exactly
    // what survives when the fact side is 100 TB. The oracle states the
    // same reshape as conditional aggregation. Cells with no rows are NULL
    // in both engines (SUM over empty); sums decimal-exact.
    "q13_pivot" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(Exact.sumD(col("l_quantity"), 2))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")
    }),

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
    "q14_window_range" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("q14_orders")
      s.sql("""
        SELECT o_custkey, o_orderkey,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate
            RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE)
            AS rev90
        FROM q14_orders""")
    }),

    // Q15 — GROUP BY ALL (Spark 3.4+/DuckDB shared surface): the grouping
    // key set is inferred as every non-aggregate select item. Semantics
    // gate, not sugar: the inference must pick exactly {status, priority}
    // and not the aggregate; a wrong inference changes the row count.
    "q15_group_by_all" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("q15_orders")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
        FROM q15_orders GROUP BY ALL""")
    }),

    // Q16 — calendar arithmetic surface: quarter bucketing
    // (date_trunc('quarter')), month-end (last_day), and day-granularity
    // differences — all codegen'd builtins, no UDF. Both engines implement
    // the same published proleptic-Gregorian calendar, so days-to-month-end
    // sums are integer-exact. The quarter is cast to DATE on BOTH sides so
    // the compared column renders identically (Spark's date_trunc returns a
    // timestamp, DuckDB's a date — the cast is the deliberate parity point).
    "q16_date_arith" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("q16_orders")
      s.sql("""
        SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr,
          COUNT(*) AS n,
          SUM(CAST(datediff(last_day(o_orderdate), CAST(o_orderdate AS DATE))
              AS BIGINT)) AS days_to_month_end
        FROM q16_orders GROUP BY 1""")
    }),

    // Q17 — ordered string aggregation: listagg ... WITHIN GROUP (ORDER BY)
    // (Spark 4.0's SQL:2016 form; DuckDB states the same contract as
    // string_agg with an ORDER BY argument). The ORDER BY inside the
    // aggregate is the gate — without it the rendered list depends on
    // partial-aggregation order and no distributed engine could hash-match.
    // Grouped on the 5-row region dim; the aggregate runs over a broadcast
    // join, one exchange for the group.
    "q17_listagg" -> ((s, dir) => {
      Tables.nation(s, dir).createOrReplaceTempView("q17_nation")
      Tables.region(s, dir).createOrReplaceTempView("q17_region")
      s.sql("""
        SELECT r.r_name, listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name)
          AS nations
        FROM q17_nation n JOIN q17_region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name""")
    }),

    // Q18 — bag-semantics set operations (INTERSECT ALL / EXCEPT ALL),
    // closing the multiset half of the o8 set-ops gate. Multiplicity is the
    // contract: a suppkey appearing m₁ times among returned lines and m₂
    // among finished lines yields max(0, m₁−m₂) EXCEPT ALL rows and
    // min(m₁, m₂) INTERSECT ALL rows (SQL standard, both engines). Spark
    // rewrites each to ONE count-aggregate per side + a replicate Generate —
    // multiplicities, not rows, cross the exchange, so a key duplicated a
    // million times at 100 TB still ships as one (key, count) pair.
    "q18_set_ops_all" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val returned = li.filter(col("l_returnflag") === "R").select(col("l_suppkey"))
      val finished = li.filter(col("l_linestatus") === "F").select(col("l_suppkey"))
      returned.exceptAll(finished).withColumn("set_op", lit("returned_minus_finished"))
        .unionByName(returned.intersectAll(finished)
          .withColumn("set_op", lit("bag_intersection")))
    }),

    // Q19 — analytic window-function surface: ntile, percent_rank,
    // cume_dist, first_value, nth_value. Every ORDER BY is made a TOTAL
    // order (orderkey tiebreak) — with ties, peer-group functions
    // (percent_rank/cume_dist) and ntile are engine-dependent and no
    // distributed engine could hash-match. nth_value gets an explicit
    // UNBOUNDED/UNBOUNDED frame: its default frame stops at CURRENT ROW,
    // which would yield NULL for row 1 on both engines but is the kind of
    // implicit contract worth pinning. One exchange on o_custkey serves all
    // five functions (same partition spec), one sort per ORDER BY key.
    "q19_window_funcs" -> ((s, dir) => {
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
    }),

    // Q20 — statistical aggregates (stddev, Pearson correlation) made
    // distribution-safe: the BUILT-IN corr/stddev use Welford-style partial
    // merges whose float error depends on partition order — the same query
    // on 32 threads and 1000 executors returns different last bits, and no
    // cross-engine hash could match. Instead: moments (n, Σx, Σx², Σy, Σy²,
    // Σxy) accumulate EXACTLY (decimal for doubles — the Exact.sumD
    // contract — BIGINT for ints; per-row products are single IEEE ops,
    // deterministic), then ONE mirrored double formula per statistic. Still
    // one partial-aggregated exchange — exactness costs nothing structural.
    "q20_moment_stats" -> ((s, dir) => {
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
    }),

    // A29 — offline changepoint detection (AMOC binary segmentation via
    // the CUSUM statistic): per event type, the day t maximizing
    // |n·cum(t) − t·total| over the daily integer-cents series — the
    // within-type denominator n is CONSTANT, so the integer numerator
    // ranks identically to the normalized statistic and the argmax is
    // pure BIGINT (ties → earliest day). The offline complement of mon4's
    // sequential CUSUM. One groupBy(type, day), one per-type window
    // cumsum over the days-sized relation, one argmax window.
    "a29_changepoint" -> ((s, dir) => {
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
    }),

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
    "a28_ols_fit" -> ((s, dir) => {
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
    }),

    // Q21 — NULL semantics in set operations: INTERSECT/EXCEPT compare
    // rows by GROUPING equality (NULL matches NULL, per the SQL standard)
    // — the opposite of join/WHERE predicate equality, where NULL = NULL
    // is unknown. The gate feeds both sides rows with NULL keys and pins
    // that NULL-keyed rows DO intersect and DO cancel in EXCEPT; an engine
    // that lowered set ops onto a plain equi-join would silently drop
    // every NULL-keyed row. Same count-aggregate plan shape as q18.
    "q21_setop_nulls" -> ((s, dir) => {
      val e = ev(s, dir)
      val a = e.select(
        when(col("event_id") % 3 === 0, lit(null)).otherwise(col("event_type")).as("k"),
        (col("event_id") % 5).as("g"))
      val b = e.select(
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("event_type")).as("k"),
        (col("event_id") % 5).as("g"))
      a.intersect(b).withColumn("set_op", lit("intersect"))
        .unionByName(a.except(b).withColumn("set_op", lit("except")))
    }),

    // A1 — 1-min tumbling count/sum/avg (resources/flink/main.py:105-120).
    "a1_minute_agg" -> ((s, dir) => MinuteAggregate(ev(s, dir), "ts", "value")),

    // P1 — schema-on-read JSON extraction (envelope flattening analog,
    // source-schema.json:44-117).
    "p1_json_extract" -> ((s, dir) =>
      ev(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          Exact.sumD(col("value"), 2).as("sum_value"))),

    // P13 — semi-structured ingestion through Spark 4's VARIANT type. The
    // open-content envelope (reference: source-schema.json's free-form
    // detail payload) is parsed ONCE into the binary variant encoding, then
    // four typed extractions read the parsed tree — vs p1's
    // get_json_object, which re-parses the JSON string per extraction.
    // Exercised semantics: nested path ($.meta.type), array index
    // ($.meta.ids[1]), explicit JSON null vs MISSING path (both surface as
    // SQL NULL from variant_get, counted separately against exact
    // expectations). The nested document is synthesized deterministically
    // from typed columns (integers + enum strings only — no float
    // formatting), so the DuckDB oracle states the same truth directly
    // from the source columns, blind to the variant machinery.
    "p13_variant" -> ((s, dir) =>
      // fanOut: the parse_json/variant_get kernel is the whole query cost
      // and ran single-task on the one-split local scan (r13 opt)
      fanOut(ev(s, dir), col("event_id"))
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .withColumn("j", format_string(
          """{"k": %s, "meta": {"type": "%s", "ids": [%s, %s]}, "opt": %s}""",
          col("k"), col("event_type"), col("user_id"), col("event_id"),
          when(col("k") % 7 === 0, lit("null")).otherwise(col("k").cast("string"))))
        .withColumn("v", parse_json(col("j")))
        .select(
          expr("variant_get(v, '$.meta.type', 'string')").as("mtype"),
          expr("variant_get(v, '$.k', 'int')").as("vk"),
          expr("variant_get(v, '$.meta.ids[1]', 'bigint')").as("id1"),
          expr("variant_get(v, '$.opt', 'int')").as("opt"),
          expr("variant_get(v, '$.absent', 'int')").as("absent"))
        .groupBy(col("mtype"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("vk")).as("sum_k"),
          sum(col("id1")).as("sum_id1"),
          count(when(col("opt").isNull, 1)).as("n_opt_null"),
          count(when(col("absent").isNull, 1)).as("n_absent_null"))),

    // P2/S8 — keyed latest-wins dedup (online-store get_record semantics,
    // read_feature_store.ipynb; latest event per key).
    "p2_dedup_latest" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      ev(s, dir).withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"),
          col("event_id").as("last_event_id"), col("value").as("last_value"))
    }),

    // A3/A4 — series bounds + row count (preprocess.py:101-105).
    "a3_minmax_time" -> ((s, dir) =>
      ev(s, dir).agg(count(lit(1)).as("n_events"),
        unix_micros(min(col("ts"))).as("min_ts_us"),
        unix_micros(max(col("ts"))).as("max_ts_us"))),

    // A5 — RMSE of the lag-1 forecast (evaluate.py:73-77).
    "a5_rmse" -> ((s, dir) => {
      val err = col("target") - col("prediction")
      predFrame(s, dir).agg(
        sqrt(Exact.avgD(err * err, 10)).as("rmse"),
        count(lit(1)).as("n"))
    }),

    // A6 — elementwise pinball loss at 0.05/0.5/0.95 (evaluate.py:32-33,84-90).
    "a6_quantile_loss" -> ((s, dir) =>
      predFrame(s, dir).select(col("event_id"), col("target"), col("prediction"),
        ql(0.05).as("ql_low"), ql(0.5).as("ql_mid"), ql(0.95).as("ql_up"))),

    // A7 — mean weighted quantile loss (evaluate.py:82-91).
    "a7_wql" -> ((s, dir) => {
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
    }),

    // A8 — compaction sizing arithmetic: per hour-prefix byte totals and the
    // ceil(bytes / target) file count the compactor would choose
    // (FeatureStoreAggregateParquet.py:79-85; KeyedParquetTable.compact uses
    // the same formula on real file listings).
    "a8_compaction_sizing" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour_prefix"))
        .agg(sum(octet_length(col("props")).cast("long")).as("total_bytes"),
          count(lit(1)).as("n_objects"))
        .withColumn("n_target_files", expr("(total_bytes + 16383) div 16384"))),

    // J3 — scalar threshold compare + feedback: the monitoring loop's
    // "tighten the alarm threshold when the model improves" as a 1-row query
    // (update_monitoring_threshold.py:66-101; rate 0.5).
    "j3_threshold_update" -> ((s, dir) => {
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
    }),

    // O6/S9 — compaction end-to-end: two upsert versions per hour partition,
    // compact to one file per hour, then report the ACTUAL on-disk file
    // count alongside a content rollup. The oracle pins n_files = 1 and
    // recomputes the content from events — a superseded version surviving
    // compaction, a lost row, or a split partition all hash-mismatch.
    "o6_compact_files" -> ((s, dir) => {
      val work = scratch("o6")
      val table = new graft.store.KeyedParquetTable(s"$work/table", "tx_minute")
      def minuteAgg(df: DataFrame, v: Double) =
        MinuteAggregate(df, "ts", "value").withColumn("event_time", lit(v))
      table.upsert(minuteAgg(ev(s, dir).filter(pmod(col("event_id"), lit(2)) === 0), 0.0), 0, bulk = true)
      table.upsert(minuteAgg(ev(s, dir), 1.0), 1, bulk = true)
      table.compact(s, targetFileBytes = Long.MaxValue)
      val files = s.createDataFrame(table.hourPrefixFileCounts(s))
        .toDF("hour_prefix", "n_files")
      val content = table.readLatest(s)
        .groupBy(substring(col("tx_minute"), 1, 13).as("hour_prefix"))
        .agg(count(lit(1)).as("n_minutes"), sum(col("total_nb_trx_1min")).as("total_trx"))
      files.join(content, "hour_prefix")
        .select(col("hour_prefix"), col("n_files"), col("n_minutes"), col("total_trx"))
    }),

    // P5 — string→timestamp cast round-trip + per-series sort index
    // (preprocess.py:31-38: feature-store strings parsed back to timestamps,
    // then position-indexed per series).
    "p5_cast_sort" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_parsed"), col("event_id"))
      ev(s, dir)
        .withColumn("ts_str", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .withColumn("ts_parsed", to_timestamp(col("ts_str"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .withColumn("sort_idx", row_number().over(w))
        .select(col("event_id"), col("user_id"), col("ts_str"), col("sort_idx"))
    }),

    // P6 — typed→string casts at the sink edge (the reference stores every
    // feature ValueAsString, delivery_stream_to_featurestore/main.py:54-62).
    "p6_value_as_string" -> ((s, dir) =>
      ev(s, dir).select(
        col("event_id"),
        col("event_id").cast("string").as("id_str"),
        col("user_id").cast("string").as("user_str"),
        format_string("%.4f", col("value")).as("value_str"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))),

    // A9 — hourly Maximum + k-consecutive-breach alarm
    // (model-monitor-template.yml:766-796), k=3.
    "a9_alarm" -> ((s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour_start"))
        .agg(max(col("value")).as("hourly_max"))
        .withColumn("breached", (col("hourly_max") >= 18.0).cast("int"))
      // global window over the hourly spine (≤ 8.8k rows/year) — metadata
      val w = Window.orderBy(col("hour_start")).rowsBetween(-2, 0)
      hourly.withColumn("alarm",
        (min(col("breached")).over(w) === 1 && count(lit(1)).over(w) === 3).cast("int"))
    }),

    // MON16 — alarm EPISODE analysis (the alert-fatigue metric beside
    // a9's point alarm): maximal runs of consecutive breached hours per
    // event_type — episode count, longest incident, and a flap ratio
    // (episodes per breached hour in bp: 10000 = pure flapping, all
    // singleton alarms; low = few sustained incidents — the number that
    // decides hysteresis/"for:" durations in an alerting config). The
    // d22 islands idiom on the monitoring axis: lag-detected starts +
    // running sum over ONE per-type hourly sort (hours-sized relation).
    "mon16_alarm_episodes" -> ((s, dir) => {
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
    }),

    // MON2 — EWMA drift metric per user (the exponential smoothing a
    // monitoring loop runs beside a9's threshold alarm): closed form of
    // y_n = α·x_n + (1−α)·y_{n−1} with α = 0.5 — chosen deliberately so
    // every coefficient is a power of two, EXACTLY representable, making
    // pow() exactly rounded on both engines (no libm-ULP exposure, unlike
    // a generic α). Per-term DECIMAL(30,10) truncation before the exact
    // sum (t9 contract) makes the reduction order-independent; ordering
    // ties break on event_id. Per-key windows are the bounded unit of
    // order — the same shape as o9's ranking.
    "mon2_ewma" -> ((s, dir) => {
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
    }),

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
    "mon15_backtest" -> ((s, dir) => {
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
    }),

    // X25 — temporal train/test split with a leakage EMBARGO (the
    // financial-ML splitting rule): windowed features computed near the
    // boundary leak future information, so a one-day gap on each side of
    // the 4/5 cutoff is assigned to NEITHER split. Cutoff and embargo are
    // exact integer day arithmetic off the (min, max) day span — one
    // metadata-sized scalar broadcast; the per-row assignment is a narrow
    // codegen map. Emitted as per-(split, type) counts + exact cents.
    "x25_embargo_split" -> ((s, dir) => {
      val e = ev(s, dir).select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        floor(col("value") * 100).cast("long").as("cents"))
      val span = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      e.crossJoin(broadcast(span))
        .withColumn("cut", expr("d0 + (d1 - d0) * 4 div 5"))
        .withColumn("split",
          when(col("day") < col("cut") - 1, "train")
            .when(col("day") > col("cut") + 1, "test")
            .otherwise("embargo"))
        .groupBy(col("split"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
    }),

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
    "a31_holt_winters" -> ((s, dir) => {
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
    }),

    // O46 — zone-map pruning audit: WOULD the file layout skip the scan?
    // Per-file min/max stats (the parquet footer / Iceberg manifest
    // content) are simulated for two layouts of orders — natural key order
    // vs sorted by o_orderdate — at 4096 rows/file, then a 12-month probe
    // ladder counts the files whose [min,max] range intersects each month.
    // The by-date layout prunes ~98% of files per month; the by-key layout
    // ~0% (every file spans the full date range) — THE sort-before-write
    // decision at 100 TB, quantified as data instead of folklore. Layouts
    // are built with the two-pass range-partitioned global rank (never one
    // sort partition); the stats relation is rows/4096 — metadata-sized —
    // and the probe join broadcasts 12 rows against it.
    "o46_zonemap_audit" -> ((s, dir) => {
      val perFile = 4096
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate"))
      def stats(ordered: DataFrame, name: String): DataFrame =
        ordered.withColumn("file_id", expr(s"(pos - 1) div $perFile"))
          .groupBy(col("file_id"))
          .agg(min(col("o_orderdate")).as("mn"), max(col("o_orderdate")).as("mx"))
          .withColumn("layout", lit(name))
      val files = stats(graft.ops.Ranking.globalRowNumber(o,
          Seq(col("o_orderkey"))), "by_key")
        .unionByName(stats(graft.ops.Ranking.globalRowNumber(o,
          Seq(col("o_orderdate"), col("o_orderkey"))), "by_date"))
      val probes = s.range(1, 13).select(col("id").as("probe_month"),
        expr("make_date(1995, id, 1)").cast("timestamp").as("lo"),
        expr("make_date(if(id = 12, 1996, 1995), if(id = 12, 1, id + 1), 1)")
          .cast("timestamp").as("hi"))
      files.crossJoin(broadcast(probes))
        .groupBy(col("layout"), col("probe_month"))
        .agg(count(lit(1)).as("n_files"),
          count(when(col("mn") < col("hi") && col("mx") >= col("lo"), lit(1)))
            .as("files_read"))
        .withColumn("prune_bp",
          expr("(n_files - files_read) * 10000 div n_files"))
    }),

    // O47 — resharding-movement audit: growing 16 → 17 shards, what
    // fraction of keys MOVE under mod-N placement (≈ all of them — the
    // classic rehash catastrophe) vs rendezvous/HRW hashing (≈ 1/17 — only
    // keys whose new shard wins the hash race)? The storage-design number
    // behind every 100 TB shard-count change, quantified per scheme with
    // the shard-balance spread riding along. HRW assignment is map-only
    // (an N-element array max per key — no shuffle, no join; real serving
    // uses it per request, and jump-consistent-hash is the O(log N)
    // alternative when N is large); the only exchanges are two
    // shards-sized rollups.
    "o47_resharding" -> ((s, dir) => {
      def hrw(n: Int): Column = expr(
        s"""array_max(transform(sequence(0, ${n - 1}),
            s -> struct(md5(concat(cast(s as string), ':',
                   cast(o_orderkey as string))) as h, s as sid))).sid""")
      val assigned = Tables.orders(s, dir).select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(16)).cast("int").as("mod_a"),
        pmod(col("o_orderkey"), lit(17)).cast("int").as("mod_b"),
        hrw(16).as("hrw_a"), hrw(17).as("hrw_b"))
      def audit(a: Column, b: Column, scheme: String): DataFrame =
        assigned.select(a.as("sh"), (a =!= b).cast("long").as("mv"))
          .groupBy(col("sh"))
          .agg(count(lit(1)).as("n"), sum(col("mv")).as("mvd"))
          .agg(sum(col("n")).as("n_keys"), sum(col("mvd")).as("n_moved"),
            max(col("n")).as("max_load"), min(col("n")).as("min_load"))
          .select(lit(scheme).as("scheme"), col("n_keys"), col("n_moved"),
            expr("n_moved * 10000 div n_keys").as("moved_bp"),
            col("max_load"), col("min_load"))
      audit(col("mod_a"), col("mod_b"), "mod_n")
        .unionByName(audit(col("hrw_a"), col("hrw_b"), "rendezvous"))
    }),

    // O48 — copy-on-write vs merge-on-read WRITE-AMPLIFICATION audit (the
    // lakehouse table-format decision): one month of late fixes lands on
    // lineitem laid out 4096 rows/file in natural key order. COW rewrites
    // every file containing a touched row (rows_written = Σ sizes of
    // touched files); MOR appends a delta (rows_written = n_updates) and
    // pays at read time (files_touched counts the base files a reader must
    // merge against). Amplification in integer basis points — at 100 TB
    // this ratio × update cadence IS the COW/MOR choice. File assignment
    // reuses o46's two-pass global rank; everything downstream is
    // file-relation-sized.
    "o48_cow_mor" -> ((s, dir) => {
      val perFile = 4096
      val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"))
      val placed = graft.ops.Ranking.globalRowNumber(l,
          Seq(col("l_orderkey"), col("l_linenumber")))
        .withColumn("file_id", expr(s"(pos - 1) div $perFile"))
      val touchedOrders = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1995-03-01").cast("timestamp") &&
                col("o_orderdate") < lit("1995-04-01").cast("timestamp"))
        .select(col("o_orderkey").as("l_orderkey"))
      val touched = placed.join(touchedOrders, Seq("l_orderkey"), "left_semi")
      val fileSizes = placed.groupBy(col("file_id")).agg(count(lit(1)).as("fsz"))
      val touchedFiles = touched.select(col("file_id")).distinct()
      val cow = touchedFiles.join(fileSizes, "file_id")
        .agg(count(lit(1)).as("files_touched"),
          sum(col("fsz")).as("rows_written"))
      val nUpd = touched.agg(count(lit(1)).as("n_updates"))
      cow.crossJoin(broadcast(nUpd))
        .select(lit("cow").as("strategy"), col("n_updates"),
          col("files_touched"), col("rows_written"),
          expr("rows_written * 10000 div n_updates").as("write_amp_bp"))
        .unionByName(cow.crossJoin(broadcast(nUpd))
          .select(lit("mor").as("strategy"), col("n_updates"),
            col("files_touched"), col("n_updates").as("rows_written"),
            lit(10000L).as("write_amp_bp")))
    }),

    // O50 — sink-format fidelity audit: the same relation round-trips
    // through ORC, CSV and JSON sinks and must come back with IDENTICAL
    // summary stats to the parquet source-of-truth (row count, key sums,
    // integer cents mass, microsecond time bounds) — the format-breadth
    // gate: a sink that truncates timestamps to milliseconds (CSV's
    // default format would) or mangles a double breaks its row against
    // the format-independent oracle. Timestamps are written/read with an
    // explicit microsecond pattern on the text formats; doubles rely on
    // the exact Double↔String round-trip both writers guarantee. Scale:
    // each leg is one write + one scan + a 1-row aggregate.
    "o50_sink_fidelity" -> ((s, dir) => {
      val work = scratch("o50")
      val src = ev(s, dir).select(col("event_id"), col("ts"),
        col("user_id"), col("value"))
      val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      def stats(df: DataFrame, fmt: String): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
            sum(col("event_id")).as("sum_id"),
            sum(col("user_id")).as("sum_user"),
            sum(floor(col("value") * 100).cast("long")).as("sum_cents"),
            min(expr("unix_micros(ts)")).as("min_ts_us"),
            max(expr("unix_micros(ts)")).as("max_ts_us"))
          .select(lit(fmt).as("format"), col("n_rows"), col("sum_id"),
            col("sum_user"), col("sum_cents"), col("min_ts_us"),
            col("max_ts_us"))
      src.write.mode("overwrite").orc(s"$work/orc")
      src.write.mode("overwrite").option("header", "true")
        .option("timestampFormat", tsFmt).csv(s"$work/csv")
      src.write.mode("overwrite").option("timestampFormat", tsFmt)
        .json(s"$work/json")
      stats(src, "parquet")
        .unionByName(stats(s.read.orc(s"$work/orc"), "orc"))
        .unionByName(stats(s.read.option("header", "true")
          .option("timestampFormat", tsFmt).schema(src.schema)
          .csv(s"$work/csv"), "csv"))
        .unionByName(stats(s.read.option("timestampFormat", tsFmt)
          .schema(src.schema).json(s"$work/json"), "json"))
    }),

    // O49 — deletion-cost audit (the right-to-be-forgotten number): COW
    // deletion of ONE user's rows (the GDPR request shape) rewrites every
    // file holding one of them — under a TIME layout a user's history
    // smears across ~every file (delete amplification ~ table/user); under
    // a USER-clustered layout it concentrates into the user's own file run
    // (~1 file). o46 quantifies layout for READS, o48 for updates — this one
    // for deletion compliance, the third axis a 100 TB table owner must
    // weigh before picking a sort order. Same machinery: two-pass global
    // rank placement, file relations rows/8192, everything downstream
    // metadata-sized.
    "o49_deletion_cost" -> ((s, dir) => {
      val perFile = 8192
      val e = ev(s, dir).select(col("event_id"), col("ts"), col("user_id"))
      def audit(ordered: DataFrame, name: String): DataFrame = {
        val placed = ordered.withColumn("file_id", expr(s"(pos - 1) div $perFile"))
        val sizes = placed.groupBy(col("file_id")).agg(count(lit(1)).as("fsz"))
        val del = placed.filter(col("user_id") === 42)
        val touched = del.select(col("file_id")).distinct()
        touched.join(sizes, "file_id")
          .agg(count(lit(1)).as("files_touched"),
            sum(col("fsz")).as("rows_rewritten"))
          .crossJoin(broadcast(sizes.agg(count(lit(1)).as("n_files"))))
          .crossJoin(broadcast(del.agg(count(lit(1)).as("n_deleted"))))
          .select(lit(name).as("layout"), col("n_files"), col("n_deleted"),
            col("files_touched"), col("rows_rewritten"),
            expr("rows_rewritten * 10000 div n_deleted").as("delete_amp_bp"))
      }
      audit(graft.ops.Ranking.globalRowNumber(e,
          Seq(col("ts"), col("event_id"))), "by_time")
        .unionByName(audit(graft.ops.Ranking.globalRowNumber(e,
          Seq(col("user_id"), col("ts"), col("event_id"))), "by_user"))
    }),

    // O45 — referential-integrity audit (the cross-TABLE data-quality
    // complement of o30's column-level checks): orphan foreign keys per
    // relationship — lineitem→orders, lineitem→part, lineitem→supplier,
    // orders→customer — each one anti join + count, emitted as a
    // (relationship, n_child, n_orphans) relation. Anti joins shuffle on
    // the key; parents with broadcast-small key sets broadcast.
    "o45_ref_integrity" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      // child totals computed ONCE (the first cut re-counted the child
      // inside every check — 4 redundant lineitem scans at 100×). The
      // orphan checks stay RAW-key anti joins: part/supplier/customer
      // parents broadcast, so three of the four checks are pure scans with
      // no exchange at all (a distinct-first variant was measured SLOWER —
      // it inserts a 60M-row exchange exactly where the broadcast anti
      // join had none); only lineitem→orders legitimately shuffles.
      val lCount = l.count()
      val oCount = o.count()
      def check(name: String, childTotal: Long, childKeys: DataFrame,
          parentKeys: DataFrame): DataFrame = {
        val orphans = childKeys
          .join(parentKeys.toDF("k"), Seq("k"), "left_anti").count()
        childKeys.sparkSession.range(1).select(lit(name).as("relationship"),
          lit(childTotal).as("n_child"), lit(orphans).as("n_orphans"))
      }
      check("lineitem->orders", lCount, l.select(col("l_orderkey").as("k")),
          Tables.orders(s, dir).select(col("o_orderkey")))
        .unionByName(check("lineitem->part", lCount,
          l.select(col("l_partkey").as("k")),
          Tables.part(s, dir).select(col("p_partkey"))))
        .unionByName(check("lineitem->supplier", lCount,
          l.select(col("l_suppkey").as("k")),
          Tables.supplier(s, dir).select(col("s_suppkey"))))
        .unionByName(check("orders->customer", oCount,
          o.select(col("o_custkey").as("k")),
          Tables.customer(s, dir).select(col("c_custkey"))))
    }),

    // A34 — event concentration (the Pareto audit: what share of traffic
    // the top-decile users generate — a skew early-warning for both
    // product analytics and the engine's own key-skew planning). Per-user
    // counts are one partial-agg exchange; the top-k cut is the bounded
    // user relation ranked by (count, user_id) — exact integers, share in
    // basis points by integer division.
    "a34_concentration" -> ((s, dir) => {
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
    }),

    // Q33 — "customers whose average order value beats their segment's
    // average": the aggregate-vs-PARENT-aggregate comparison, done with
    // ZERO division — n_s·sum_c > n_c·sum_s in exact integer cents (cross-
    // multiplication is legal: both counts positive), so no ratio double
    // ever exists on either engine. Per-customer partials join the
    // broadcast segment totals; one wide exchange on the customer key.
    "q33_above_segment_avg" -> ((s, dir) => {
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
    }),

    // Q34 — dominant-supplier share (the TPC-H Q20 family: who carries at
    // least a quarter of a part's shipped volume?). Two-level aggregation:
    // (part, supplier) quantities in exact integer units, part totals via
    // ONE window over the already-reduced pair relation (no second scan,
    // no self-join), dominance decided on integers (qty·4 ≥ total), then a
    // broadcast supplier join. The date filter is a plain range predicate
    // so it pushes to the parquet scan. Scale: the pair relation is the
    // only wide exchange; the window reuses its partitioning by l_partkey.
    "q34_dominant_supplier" -> ((s, dir) => {
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
    }),

    // Q35 — sales-opportunity audit (the TPC-H Q22 shape): LAPSED
    // customers — above-average positive balance, no order since
    // 2000-01-01 — rolled up by nation. The composite plan Q22 exists to
    // exercise: one broadcast scalar threshold (exact integer cents,
    // cross-multiplied — the q33 discipline, no double threshold crosses
    // engines), one anti join on the recent order keys (the date range
    // pushes to the orders scan), one broadcast dim join. Scale: the anti
    // join is the only wide exchange; the threshold relation is one row.
    "q35_sales_opportunity" -> ((s, dir) => {
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
    }),

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
    "q36_waiting_supplier" -> ((s, dir) => {
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
    }),

    // Q37 — top supplier by quarter revenue (TPC-H Q15 shape): the
    // max-of-an-aggregate join-back, KEEPING ties — the view + MAX(view)
    // pattern. The tie decision compares the exact DECIMAL(30,4) sums
    // (per-term double→decimal cast, the Exact.sumD discipline), never
    // the double rendering — two suppliers equal in cents must both
    // surface on both engines. Plan: one suppliers-sized aggregate off
    // the date-pruned scan, a broadcast 1-row max, and the tie set (tiny)
    // builds the supplier join's hash side under AQE.
    "q37_top_supplier" -> ((s, dir) => {
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
    }),

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
    "a36_mann_whitney" -> ((s, dir) => {
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
    }),

    // A35 — day-of-week seasonality profile: exact cents mass and share
    // per weekday (the calendar complement of mon9's hour-of-day
    // decomposition). ISO weekday from the epoch-day index — pure integer
    // arithmetic, no timezone/locale surface at all.
    "a35_weekday_profile" -> ((s, dir) => {
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
    }),

    // A32 — new-vs-returning daily actives (the growth-accounting split):
    // a user's first-ever event day classifies them "new" on that day and
    // "returning" on every later active day. First-seen is one groupBy
    // min; the daily classification joins it back on the user key —
    // co-partitioned with the distinct-actives aggregate, no extra wide
    // exchange. All integers.
    "a32_new_returning" -> ((s, dir) => {
      val ud = ev(s, dir).select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day")).distinct()
      val first = ud.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
      ud.join(first, "user_id")
        .groupBy(col("day"))
        .agg(sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"),
          sum(when(col("day") > col("first_day"), 1L).otherwise(0L)).as("n_returning"))
    }),

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
    "a33_burstiness" -> ((s, dir) => {
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
    }),

    // A30 — TIME-CONSTRAINED funnel (the product-analytics standard a18
    // leaves out): a click converts only within 1 h of the first view, a
    // purchase only within 24 h of the first qualifying click. Same
    // decorrelated min-aggregate chain as a18 — each stage is one
    // key-partitioned join + min, never a per-user scan — with the
    // conversion window as an extra integer-microsecond predicate.
    "a30_timed_funnel" -> ((s, dir) => {
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
    }),

    "a18_funnel" -> ((s, dir) => {
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
    }),

    // A19 — cohort retention: users bucketed by first-activity day, counted
    // per (cohort, day-offset) — the warehouse retention matrix. Cohort
    // assignment is one user-keyed min; offsets are integer day arithmetic;
    // the matrix is one distinct + grouped count. Two narrow exchanges.
    "a19_retention" -> ((s, dir) => {
      val e = ev(s, dir).select(col("user_id"),
        expr("unix_timestamp(ts) div 86400").as("day"))
      val cohort = e.groupBy(col("user_id")).agg(min(col("day")).as("c_day"))
      e.join(cohort, "user_id")
        .select(col("user_id"), col("c_day"), (col("day") - col("c_day")).as("day_offset"))
        .distinct()
        .groupBy(col("c_day"), col("day_offset"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // A20 — rolling 7-day distinct actives (the WAU beside the DAU): count
    // distinct over a sliding window has no direct aggregate, and the 100
    // TB answer is NOT a window function — each distinct (user, day)
    // membership explodes to the ≤7 windows it can serve, then one
    // distinct + grouped count. The explode multiplies the (already
    // day-deduped) membership relation by 7, far smaller than re-scanning
    // events per window; exact integers throughout.
    "a20_rolling_active" -> ((s, dir) => {
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
    }),

    // MON3 — per-user linear trend (OLS slope of value over days since the
    // user's first event): the drift DIRECTION metric beside mon2's level.
    // Regression as one grouped aggregation of five decimal-exact moment
    // sums (ops/Stats) — trend over 100 TB costs one narrow exchange per
    // key, the same shape as a COUNT. x centers at the per-user first
    // observation so x² keeps decimal headroom.
    "mon3_trend" -> ((s, dir) => {
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
    }),

    // O18 — SCD2 / change-data-capture interval build: collapse each
    // (user, event_type) attribute stream to its CHANGE rows and attach
    // validity intervals — the dimension-table compaction every warehouse
    // runs on CDC feeds. Two per-key windows (lag for change detection,
    // lead/row_number for interval close + version) over the same
    // partitioning — ONE keyed exchange, the sort reused across all three
    // window functions. Interval bounds are exact epoch micros; the open
    // interval ships as null valid_to_us.
    "o18_scd2" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("t"), col("event_id"))
      val e = ev(s, dir).select(col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("t"), col("event_id"))
      val ch = e.withColumn("prev", lag(col("value"), 1).over(w))
        .filter(col("prev").isNull || col("value") =!= col("prev"))
        .select(col("user_id"), col("event_type"), col("value"),
          col("t"), col("event_id"))
      val w2 = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("t"), col("event_id"))
      ch.select(col("user_id"), col("event_type"), col("value"),
          col("t").as("valid_from_us"),
          lead(col("t"), 1).over(w2).as("valid_to_us"),
          row_number().over(w2).as("version"))
    }),

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
    "j10_scd2_asof" -> ((s, dir) => {
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
    }),

    // O19 — Z-order (Morton) clustering key: the multi-dimensional layout
    // move (Delta/Iceberg OPTIMIZE ZORDER) that makes parquet min/max
    // stats selective on TWO dimensions at once. The key is 32 codegen'd
    // shift/mask/or terms — no UDF — and the per-zbucket (u,v) spans this
    // query reports ARE the file-skipping property: a sorted write's file
    // stats would carry exactly these bounds on both dimensions.
    "o19_zorder" -> ((s, dir) => {
      val e = ev(s, dir).select(col("user_id"),
        floor(col("value")).cast("long").as("vb"))
      e.withColumn("zkey",
          graft.ops.Layout.morton16(col("user_id"), col("vb")))
        .withColumn("zbucket", shiftright(col("zkey"), 14))
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("user_id")).as("u_min"), max(col("user_id")).as("u_max"),
          min(col("vb")).as("v_min"), max(col("vb")).as("v_max"))
    }),

    // P9 — per-column profile of a wide table (the admission check a
    // pipeline runs on every new 100 TB partition): exact row/null/
    // distinct counts + typed min/max bounds, one column-pruned
    // aggregation per column (the union costs ~one full-width scan of
    // IO; each branch's exchange carries a handful of rows). Exact
    // distinct is the test-scale contract; approx_count_distinct (o11
    // HLL) is the same-shaped 100 TB drop-in.
    "p9_profile" -> ((s, dir) =>
      graft.ops.Profile.profile(Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
          "l_returnflag", "l_shipdate"))),

    // P10 — schema-drift-tolerant union: rows written BEFORE a schema
    // evolution (here: a documents snapshot lacking lang/source) union'd
    // with post-evolution rows by NAME, absent columns null-filled —
    // `unionByName(allowMissingColumns = true)`, the declarative form of
    // the reference's everything-is-a-string tolerance
    // (ref: resources/lambdas/delivery_stream_to_featurestore/main.py:55-61)
    // and the direct lesson of the r9 testdata re-land: input schemas DO
    // change under a running engine. Positional UNION would silently pair
    // wrong columns; by-name is order-independent and at 100 TB costs
    // nothing (a per-file projection, no shuffle).
    "p10_schema_drift" -> ((s, dir) => {
      val d = docs(s, dir)
      val preEvolution = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"), col("n_chars"))
      val current = d.filter(col("doc_id") % 2 =!= 0)
      preEvolution.unionByName(current, allowMissingColumns = true)
        .groupBy(coalesce(col("source"), lit("<pre-schema>")).as("source"),
          coalesce(col("lang"), lit("??")).as("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    }),

    // A21 — custom GROUPING SETS (the general operator rollup/cube are
    // special cases of): all four (type, day) marginals in ONE Expand pass
    // over one scan — not a union of four aggregations. grouping_id
    // disambiguates a NULL group key from an aggregated-out dimension.
    "a21_grouping_sets" -> ((s, dir) => {
      val e = ev(s, dir).select(col("event_type"),
        expr("unix_timestamp(ts) div 86400").as("day"), col("value"))
      e.groupingSets(
          Seq(Seq(col("event_type"), col("day")), Seq(col("event_type")),
            Seq(col("day")), Seq()),
          col("event_type"), col("day"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n_events"),
          Exact.sumD(col("value"), 2).as("sum_value"))
    }),

    // A22 — first-order Markov transition matrix over per-user event
    // sequences: P(next event type | current), the session-model behind
    // next-action prediction and funnel simulation. One window pass
    // (lead over user_id, ordered by ts with event_id tie-break — the
    // mon4 ordering contract) produces the transition stream; counts and
    // the row-conditional probability (integer basis points: n·10⁴ div
    // n_from) are two narrow aggregates. Scale: the sort is per-user
    // within the hash-partitioned window — no global sort; transition
    // cardinality is |types|², dimension-sized.
    "a22_markov" -> ((s, dir) => {
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
    }),

    // A27 — DAU/MAU stickiness: exact daily actives over exact trailing
    // 30-day actives, in basis points — the engagement ratio product
    // analytics reports. COUNT DISTINCT over a sliding window isn't
    // window-expressible; the exact formulation explodes each distinct
    // (user, active-day) into the 30 report days it covers (bounded ×30
    // fanout of the user-day relation — at 100 TB that relation is the
    // small distinct rollup, not raw events), then one distinct count per
    // day. Report days are restricted to days with activity (the dau
    // spine). o15/o34 are the sketched siblings; this is the exact one.
    "a27_stickiness" -> ((s, dir) => {
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
    }),

    // A26 — market-share shift: per (month, brand) revenue share in exact
    // basis points (decimal-exact revenue sums, integer division against
    // the month total) plus the month-over-month share delta via lag —
    // the BI staple that composes a two-level aggregate with a window on
    // the SMALL (month × brand) relation, never re-windowing fact rows.
    "a26_share_shift" -> ((s, dir) => {
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
    }),

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
    "a25_rfm" -> ((s, dir) => {
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
    }),

    // A24 — last-touch attribution: each purchase attributed to the
    // user's most recent PRIOR click within a 1-hour lookback — the
    // marketing-analytics join that needs NO join: one per-user window
    // pass carries the last-click timestamp forward (last_value IGNORE
    // NULLS over a strictly-preceding frame, so a click at the purchase's
    // own timestamp never self-attributes), and the lookback is integer
    // microsecond arithmetic. Same exchange profile as mon12: one
    // hash-partitioned per-user sort, then a narrow rollup.
    "a24_attribution" -> ((s, dir) => {
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
    }),

    // Q26 — value-share HAVING filter (TPC-H Q11 shape): brands whose
    // revenue exceeds 1/50 of the corpus total — a scalar aggregate
    // subquery inside the group filter. Threshold compared as exact
    // integers (50·brand_u > tot_u over the a26 integral-decimal scaling);
    // Catalyst plans the scalar subquery as a broadcast one-row join, so
    // the fact table scans once per side, never per group.
    "q26_value_share" -> ((s, dir) => {
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
    }),

    // Q24 — customer-distribution (TPC-H Q13 shape): the
    // distribution-of-a-distribution query — orders per customer (LEFT
    // join so zero-order customers keep their bucket), then customers per
    // order-count. Two narrow aggregates around one key-partitioned join;
    // COUNT(col) vs COUNT(*) null semantics is the point being pinned.
    "q24_order_dist" -> ((s, dir) => {
      Tables.customer(s, dir).select(col("c_custkey"))
        .join(Tables.orders(s, dir).select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_custkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }),

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
    "geo1_radius_join" -> ((s, dir) => {
      val hv = (tag: String) =>
        conv(substring(md5(concat(lit(tag), col("c_custkey").cast("string"))), 1, 6),
          16, 10).cast("long")
      val pts = Tables.customer(s, dir).select(col("c_custkey").as("id"),
        ((hv("lat:") % 1600000L).cast("double") / lit(10000.0) - lit(80.0)).as("lat"),
        ((hv("lon:") % 3600000L).cast("double") / lit(10000.0) - lit(180.0)).as("lon"))
      graft.ops.GeoOps.gridRadiusJoin(pts, pts.filter(col("id") % 50 === 0),
          "id", "lat", "lon", eps = 12.0, gridSize = 12.0)
        .select(col("query_id"), col("point_id"), Exact.fmt(col("d2"), 6).as("d2_r"))
    }),

    // GEO3 — grid-density clustering (grid-DBSCAN): the third clustering
    // family beside s8's k-means (needs k, convex cells) and d6's dup-graph
    // CC (needs a pairwise predicate) — density thresholding at cell
    // resolution, arbitrary-shape clusters via 8-adjacency CC over CORE
    // cells. minPts is corpus-derived (max(2, ⌊3N/2C⌋+1), ~1.5× the mean
    // occupied-cell load — a fixed threshold flips all-core/none-core
    // across SFs). One corpus shuffle (cell counts); all else cell-bounded.
    "geo3_grid_dbscan" -> ((s, dir) => {
      val hv = (tag: String) =>
        conv(substring(md5(concat(lit(tag), col("c_custkey").cast("string"))), 1, 6),
          16, 10).cast("long")
      val pts = Tables.customer(s, dir).select(
        ((hv("lat:") % 1600000L).cast("double") / lit(10000.0) - lit(80.0)).as("lat"),
        ((hv("lon:") % 3600000L).cast("double") / lit(10000.0) - lit(180.0)).as("lon"))
      graft.ops.GeoOps.gridDbscan(pts, "lat", "lon", cellSize = 20.0,
          latOrigin = -80.0, lonOrigin = -180.0, nx = 18L)
        .select(col("cy"), col("cx"), col("n_pts"), col("cluster_id"))
    }),

    // GEO2 — nearest-neighbor spatial lookup: geo1's candidate relation
    // reduced to the single closest point per query (ties → min id) — the
    // reverse-geocode/store-finder serve. Queries with NO point within ε
    // are absent (a bounded-radius NN, the production contract: beyond ε
    // you show "no results", not a continent-away match).
    "geo2_nearest" -> ((s, dir) => {
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
    }),

    // A23 — Wilson-lower-bound rate ranking: the confidence-adjusted
    // success rate (Wilson '27) that sorts a low-n 100% above nothing but
    // below a high-n 95% — how production ranks conversion/error rates
    // instead of the raw p̂ a3-style aggregates give. One grouped aggregate
    // (n, successes), then a single fixed-order IEEE formula mirrored
    // token-for-token by the oracle (z=1.96 parsed from the same literal,
    // every +,−,×,÷,√ correctly rounded and in the same order → bit-equal,
    // the Holt/mon9 discipline), rendered at 6 dp.
    "a23_wilson" -> ((s, dir) => {
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
    }),

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
    "q22_copurchase" -> ((s, dir) => {
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
    }),

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
    "q22b_copurchase_apriori" -> ((s, dir) => {
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
    }),

    // MON4 — CUSUM mean-shift statistic per user (Page 1954, the k=0
    // one-sided form): S_i = cum_i − min_{j≤i} cum_j over deviations from
    // the spec'd target level — the standard drift DETECTOR beside mon2's
    // smoothed level and mon3's trend. The recursion max(0, S+dev) is not
    // window-expressible, but its closed form (running sum minus running
    // min) is — two frames over ONE per-key sort. Every term is
    // DECIMAL(30,4)-exact, so the statistic is layout- and
    // engine-independent; ordering ties break on event_id.
    "mon4_cusum" -> ((s, dir) => {
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
    }),

    // MON5 — MASE forecast-skill metric (Hyndman & Koehler 2006): the
    // scale-free complement to a5's RMSE — mean absolute error of the
    // one-step naive forecast over that of the seasonal (7-step) naive,
    // per user over the daily-sum series. Values route through
    // DECIMAL(30,4) (exact sums of exact |diffs|); the two divisions and
    // the ratio are one mirrored double chain at the end. Constant series
    // (zero seasonal error) surface null, not a division blow-up. Lags
    // step over OBSERVED days (absent days carry no row — stated
    // contract, a16's gap-fill is the dense-spine alternative).
    "mon5_mase" -> ((s, dir) => {
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
    }),

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
    "mon6_anomaly" -> ((s, dir) => {
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
    }),

    // X10 — deterministic source-interleaved training order: rank within
    // source (narrow per-source window), then global order by (rank,
    // source) — round-robin across sources, so no domain ever runs
    // consecutively longer than the source-count imbalance forces; the
    // anti-clumping policy a mixture-trained model wants on top of x6's
    // uniform shuffle. Global position via the two-pass range-partitioned
    // rank ([[graft.ops.Ranking.globalRowNumber]]) — never a single-
    // partition window over the corpus.
    "x10_interleave" -> ((s, dir) => {
      val r = docs(s, dir).select(col("doc_id"), col("source"))
        .withColumn("r", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("doc_id"))))
      graft.ops.Ranking.globalRowNumber(
          r, Seq(col("r"), col("source"), col("doc_id")), "pos")
        .select(col("doc_id"), col("source"), col("r"), col("pos"))
    }),

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
    "mon7_burn_rate" -> ((s, dir) => {
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
    }),

    // T14 — Zipf exponent: OLS slope of ln(count) over ln(rank) across the
    // vocabulary (the rank-frequency law every natural corpus follows —
    // and a quality signal when a crawled slice doesn't). Same Stats core
    // as mon3; ln sits per vocabulary row behind the decimal truncation
    // (t9 contract).
    "t14_zipf" -> ((s, dir) => {
      val v = TextOps.vocabulary(docs(s, dir), "text", topK = 1000)
      val pts = v.select(lit(1).as("g"),
        log(col("vocab_id").cast("double") + lit(1.0)).as("x"),
        log(col("n_occ").cast("double")).as("y"))
      graft.ops.Stats.olsByGroup(pts, col("g"), col("x"), col("y"))
        .select(col("n").as("n_terms"),
          Exact.fmt(col("slope"), 4).as("slope_r"),
          Exact.fmt(col("intercept"), 4).as("icept_r"))
    }),

    // A10 — sliding (hopping) event-time window: 10-min windows every 5 min.
    "a10_sliding_window" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"), Exact.sumD(col("value"), 2).as("sum_value"))
        .select(unix_micros(col("w.start")).as("w_start_us"),
          col("n_events"), col("sum_value"))),

    // A11 — session window per user: sessions close after a 30-min gap.
    "a11_session_window" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
          col("n_events"))),

    // Set operations (absent from the reference — engine surface): users
    // active in week 1 but not week 2, and those active in both.
    "o8_set_ops" -> ((s, dir) => {
      val e = ev(s, dir)
      val w1 = e.filter(col("ts") < lit("2024-01-08").cast("timestamp"))
        .select(col("user_id")).distinct()
      val w2 = e.filter(col("ts") >= lit("2024-01-08").cast("timestamp") &&
          col("ts") < lit("2024-01-15").cast("timestamp"))
        .select(col("user_id")).distinct()
      w1.except(w2).withColumn("set_op", lit("only_week1"))
        .unionByName(w1.intersect(w2).withColumn("set_op", lit("both_weeks")))
    }),

    // O1/O7 — global sort + latest-n lookup (doc/INGESTION.md:36).
    "o1_topk" -> ((s, dir) =>
      ev(s, dir).orderBy(col("ts").desc, col("event_id").desc).limit(100)
        .select(col("event_id"), col("event_type"), col("value"),
          unix_micros(col("ts")).as("ts_us"))),

    // O3/O4 — train/validation/test split sizing over the minute series
    // (preprocess.py:101-146); p=5, K=4. Split membership "rn <= n - c" over
    // the ordered unique minute keys ⟺ "tx_minute < (c-th key from the end)",
    // so instead of a single-partition global row_number the query fetches
    // the last 5p keys with a top-k (TakeOrdered — no global sort, 25 strings
    // to the driver) and evaluates all seven splits' (len, start, end) in ONE
    // conditional-aggregation pass, then unpivots.
    "o3_split_bounds" -> ((s, dir) => {
      val minutes = MinuteAggregate(ev(s, dir), "ts", "value").select(col("tx_minute"))
      val p = 5
      val edge = minutes.orderBy(col("tx_minute").desc).limit(5 * p)
        .collect().map(_.getString(0))
      // all but the last c minutes; empty when the series has ≤ c points
      def before(c: Int): Column =
        if (edge.length < c) lit(false) else col("tx_minute") < edge(c - 1)
      val splits: Seq[(String, Column)] = Seq(
        ("train", before(5 * p)),
        ("validation_1", before(4 * p)),
        ("validation_2", before(3 * p)),
        ("validation_3", before(2 * p)),
        ("validation_4", before(p)),
        ("test_inputs", before(p)),
        ("test_targets",
          if (edge.length < p) lit(true) else col("tx_minute") >= edge(p - 1)))
      val aggs = splits.flatMap { case (name, pred) => Seq(
        count(when(pred, 1)).as(s"${name}__len"),
        min(when(pred, col("tx_minute"))).as(s"${name}__start"),
        max(when(pred, col("tx_minute"))).as(s"${name}__end"))
      }
      val one = minutes.agg(aggs.head, aggs.tail: _*)
      val stackArgs = splits.map { case (name, _) =>
        s"'$name', `${name}__len`, `${name}__start`, `${name}__end`"
      }.mkString(", ")
      one.select(expr(
        s"stack(${splits.size}, $stackArgs) AS (split_name, len, start_minute, end_minute)"))
    }),

    // J1 — anti-join (the dedup admission check as a relational op,
    // stream_processing/main.py:47-58): customers with no large order.
    "j1_anti_join" -> ((s, dir) =>
      Tables.customer(s, dir).join(
          Tables.orders(s, dir).filter(col("o_totalprice") > 300000.0),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))),

    // J2 — positional alignment of two ordered frames (evaluate.py:60-70).
    // Each side's global position comes from the two-pass range-partitioned
    // rank (ops/Ranking), not a single-partition window.
    "j2_positional_align" -> ((s, dir) => {
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
    }),

    // Q30 — TPC-H Q16's shape ("suppliers who can supply parts of given
    // attributes, excluding blacklisted suppliers"): distinct-supplier
    // counts per (brand, size) with the exclusion as an ANTI join — the
    // NOT IN subquery decorrelated (legal because s_suppkey is non-null;
    // the tri-valued NOT IN hazard lives in q9's gate). Distinct-count
    // plans as Spark's two-level aggregate; the blacklist broadcasts.
    "q30_parts_suppliers" -> ((s, dir) => {
      val bad = Tables.supplier(s, dir).filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      Tables.lineitem(s, dir)
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // J12 — as-of join with a STALENESS TOLERANCE (the feature-store
    // serving rule: a feature older than the bound must not be used —
    // better no feature than a misleading one): j4's backward as-of with
    // the matched right timestamp carried through, then a narrow
    // post-classification — fresh (within 2 h), stale (matched but too
    // old → feature nulled), none. Same one-shuffle union-window plan as
    // j4; tolerance costs zero extra exchanges.
    "j12_asof_tolerance" -> ((s, dir) => {
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
    }),

    // J4 — backward as-of join: for each click, the latest preceding error
    // of the same user (point-in-time-correct feature lookup).
    "j4_asof_join" -> ((s, dir) => {
      val e = ev(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t_us"), col("value"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("user_id"), unix_micros(col("ts")).as("err_t_us"),
          col("event_id").as("err_event_id"), col("value").as("err_value"))
      graft.ops.AsOfJoin.backward(clicks, errors, Seq("user_id"),
        "t_us", "err_t_us", Seq("err_event_id", "err_value"),
        rightTiebreak = Some("err_event_id"))
    }),

    // J13 — NEAREST as-of join (both directions, argmin |Δt|): the
    // sensor/tick alignment semantics j4/j4b can't express — backward-only
    // biases toward stale matches when the next reading is closer. One
    // union + ONE key-shuffled sort (both frames share the order → a
    // single Window pass), ties resolve backward, exact-time matches are
    // backward at distance 0. See AsOfJoin.nearest.
    "j13_nearest_asof" -> ((s, dir) => {
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
    }),

    // J4b — FORWARD as-of join: for each click, the EARLIEST error of the
    // same user at-or-after it (next-event lookup — time-to-next-error
    // labels); j4's union-window composition traversed in reverse time
    // order, same one-shuffle linear-per-key cost, no range explosion.
    "j4b_asof_forward" -> ((s, dir) => {
      val e = ev(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t_us"), col("value"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("user_id"), unix_micros(col("ts")).as("err_t_us"),
          col("event_id").as("err_event_id"), col("value").as("err_value"))
      graft.ops.AsOfJoin.forward(clicks, errors, Seq("user_id"),
        "t_us", "err_t_us", Seq("err_event_id", "err_value"),
        rightTiebreak = Some("err_event_id"))
    }),

    // Multi-way dimension join + grouped revenue (broadcast the dims).
    "j5_region_revenue" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val c = broadcast(Tables.customer(s, dir))
      val n = broadcast(Tables.nation(s, dir))
      val r = broadcast(Tables.region(s, dir))
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"), Exact.sumD(col("o_totalprice"), 2).as("revenue"))
    }),

    // J7 — salted skew join (ops/Skew.saltedJoin): fact×dim where the fact's
    // key distribution may be heavy-tailed. Salting spreads each hot key over
    // n tasks; the oracle is the PLAIN join — salting must be semantically
    // invisible. Dim side replicated n×, still broadcast-small.
    "j7_skew_join" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("partkey"), col("l_quantity"))
      val p = Tables.part(s, dir)
        .select(col("p_partkey").as("partkey"), col("p_brand"))
      graft.ops.Skew.saltedJoin(l, p, "partkey", n = 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"), Exact.sumD(col("l_quantity"), 2).as("sum_qty"))
    }),

    // J8 — co-located (bucketed) join: both sides written bucketed by the
    // join key with the same bucket count, then joined with NO Exchange over
    // either scan (plan asserted in BucketingSpec; result asserted here
    // against the plain-join oracle). The 100 TB pattern: pay the shuffle at
    // write time once, join co-located forever after.
    "j8_bucketed_join" -> ((s, dir) => {
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
    }),

    // Semi join (EXISTS): orders having at least one high-quantity item,
    // counted per priority (TPC-H Q4 shape).
    "q4_semi_join" -> ((s, dir) =>
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir).filter(col("l_quantity") > 45),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))),

    // 6-way join with a same-nation constraint (TPC-H Q5 shape): revenue per
    // ASIA nation from 1997 orders where the supplier is in the customer's
    // nation. Dims broadcast; the fact-fact join shuffles on orderkey.
    "q5_local_supplier" -> ((s, dir) => {
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
    }),

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
    "q27_min_cost_supplier" -> ((s, dir) => {
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
    }),

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
    "q28_last_shipper" -> ((s, dir) => {
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
    }),

    // O41 — incremental maintenance of a JOIN view (the delta-algebra
    // contract: when only the fact side changes, ΔV = Δfact ⋈ dim, and the
    // maintained view is merge(V_base, ΔV) — never a re-join of the full
    // fact). The gate materializes the base view (6/7ths of orders) to
    // parquet, computes the day-1 delta's join-agg alone, and merges
    // partials (counts and exact cents both sum-mergeable). Maintenance
    // cost is O(|Δ| join) + |view| — at 100 TB the full-fact re-join never
    // happens. The oracle states the flat full-corpus join-agg, proving
    // merge(base, delta) ≡ recompute.
    "o41_view_delta_join" -> ((s, dir) => {
      val work = scratch("o41")
      val c = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      val o = Tables.orders(s, dir)
      def viewAgg(fact: DataFrame) = fact
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      viewAgg(o.filter(pmod(col("o_orderkey"), lit(7)) =!= 0))
        .write.mode("overwrite").parquet(s"$work/view")
      val delta = viewAgg(o.filter(pmod(col("o_orderkey"), lit(7)) === 0))
      s.read.parquet(s"$work/view").unionByName(delta)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(sum(col("n_orders")).as("n_orders"), sum(col("cents")).as("cents"))
    }),

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
    "j11_pit_features" -> ((s, dir) => {
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
    }),

    // X21 — per-source frequency cap (the CommonCrawl per-domain cap: no
    // single domain may contribute more than K docs, selection by
    // deterministic hash rank so the kept subset is seed-stable across
    // runs). Skew is the scale hazard — a naive rank over (source) puts a
    // 10-billion-doc domain's FULL row set through one task — but declaring
    // the rank-filter directly lets Catalyst's InferWindowGroupLimit insert
    // a map-side WindowGroupLimit(Partial): every input partition forwards
    // at most K rows per source into the exchange, so the final per-source
    // sort sees ≤ K·partitions rows, never the domain's corpus. (A
    // hand-salted two-stage rank was measurably redundant — the optimizer
    // removed it — so the declarative form IS the scale plan; PlansSpec
    // pins the Partial group-limit below the exchange.)
    "x21_source_cap" -> ((s, dir) => {
      val cap = 40
      docs(s, dir).select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string")).as("h"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id")))
          .cast("long"))
        .filter(col("rk") <= cap)
        .select(col("doc_id"), col("source"), col("rk"))
    }),

    // S29 — simplified-silhouette clustering audit over the s28 seed set
    // (distance to own center vs nearest other center — the linear-time
    // silhouette variant; the classic pairwise form is quadratic per
    // cluster and audits no better). Runs on the SAME deterministic
    // Gonzalez seeds as s28, on the 1e6-quantized grid, so every distance
    // is an exact BIGINT: per-point score in basis points is
    // (b2−a2)·10⁴ div max(b2,1) — integer-exact on both engines — and the
    // per-cluster relation carries only sums (scores as BIGINT; squared
    // distances route through DECIMAL(38,0), the a28 accumulator-width
    // rule, since Σd² exceeds long at large corpora — and the wide sums
    // leave the query as canonical digit STRINGS, cast identically on
    // both engines, so no engine- or driver-private decimal rendering
    // can ever touch the gate hash). k+1 narrow scans,
    // one k-row exchange — nothing quadratic, nothing driver-side but the
    // k seed vectors. Self-diagnosing (the r11 driver-gate hash-fail was
    // locally unreproducible): each row also carries the round's Gonzalez
    // pick — seed_id and the picked farthest d² — so a future mismatch
    // localizes immediately to either the seed chain (seed columns
    // diverge) or the silhouette arithmetic (sums diverge under equal
    // seeds).
    "s29_silhouette" -> ((s, dir) => {
      val qv = emb(s, dir).select(col("vec_id"),
        SimilarityOps.quantizeE6(col("embedding")).as("q"))
      val seeds = gonzalezSeeds(qv, 4)
      val dists = seeds.map(t => struct(
        SimilarityOps.sqDistL(col("q"), array(t._3.map(lit): _*)).as("d"),
        lit(t._1).as("r")))
      val sorted = array_sort(array(dists: _*))
      val seedId = seeds.map(t => lit(t._1) -> lit(t._2))
        .foldLeft(lit(null).cast("long")) { case (acc, (r, id)) =>
          when(col("cluster") === r, id).otherwise(acc) }
      val seedD2 = seeds.map(t => lit(t._1) -> lit(t._4))
        .foldLeft(lit(null).cast("long")) { case (acc, (r, d)) =>
          when(col("cluster") === r, d).otherwise(acc) }
      qv.select(col("vec_id"),
          sorted.getItem(0).getField("r").as("cluster"),
          sorted.getItem(0).getField("d").as("a2"),
          sorted.getItem(1).getField("d").as("b2"))
        .withColumn("s_bp", expr("(b2 - a2) * 10000 div greatest(b2, 1L)"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          sum(col("s_bp")).as("sum_s_bp"),
          sum(col("a2").cast("decimal(38,0)")).cast("string").as("sum_a2"),
          sum(col("b2").cast("decimal(38,0)")).cast("string").as("sum_b2"))
        .withColumn("seed_id", seedId)
        .withColumn("seed_d2", seedD2)
    }),

    // T35 — LM-based document quality (the CCNet signal: mean token
    // log-probability under a unigram LM trained on the corpus itself —
    // low-probability token soup scores low, fluent text scores near the
    // corpus mode). Plan: explode → one token-keyed count (the LM) → join
    // back → per-doc mean. The ln sum is made order-independent by the
    // t27 contract (each logp rounded to DECIMAL(30,10) before the sum,
    // mirrored digit-for-digit by the oracle); the one-row total
    // broadcasts. Hot-token join skew (every doc joins "the") is AQE's
    // skew-join case, and the probed ladder stays sublinear.
    "t35_lm_quality" -> ((s, dir) => {
      val tok = docs(s, dir).filter(TextOps.tokenCount(col("text")) >= 1)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      val freq = tok.groupBy(col("tok")).agg(count(lit(1)).as("nf"))
      val tot = tok.agg(count(lit(1)).as("n_total"))
      tok.join(freq, "tok").crossJoin(broadcast(tot))
        .withColumn("logp",
          log(col("nf").cast("double") / col("n_total").cast("double")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          Exact.avgD(col("logp"), 10).as("mlp"))
        .select(col("doc_id"), col("n_tokens"),
          Exact.fmt(col("mlp"), 4).as("mean_logp_r"))
    }),

    // X22 — deterministic per-epoch dataloader shuffle: every training
    // epoch must see the corpus in a DIFFERENT but REPRODUCIBLE order
    // (seed-stable restarts, different mixing per epoch). Order key =
    // md5(epoch ':' doc_id) — a new permutation per epoch, bit-stable
    // across runs. The global position comes from the two-pass
    // range-partitioned ranker (ops/Ranking.scala) — at 100 TB a global
    // ORDER BY would funnel the corpus through one sort; the ranker ships
    // one long per partition to the driver instead.
    "x22_epoch_shuffle" -> ((s, dir) => {
      val epochs = docs(s, dir).select(col("doc_id"))
        .withColumn("epoch", explode(array(lit(0), lit(1))))
        .withColumn("h", md5(concat(col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string"))))
      graft.ops.Ranking.globalRowNumber(epochs,
          Seq(col("epoch"), col("h"), col("doc_id")), "pos")
        .select(col("epoch"), col("doc_id"), col("pos"))
    }),

    // O42 — write-audit-publish under the read gate: gen-1 (the clean
    // daily aggregate) publishes; gen-2 (the same aggregate POISONED with
    // a null-keyed negative row — the writer-bug class WAP exists to
    // catch) fails its audits and must stay invisible. The served result
    // is whatever the manifest resolves — if the poisoned candidate ever
    // published, or the clean one failed to, the DuckDB recompute
    // hash-mismatches. Audits run over the STAGED bytes, not the input
    // dataframe; publish is one atomic metadata rename regardless of data
    // size (store/WriteAuditPublish.scala).
    "o42_wap_publish" -> ((s, dir) => {
      import graft.store.WriteAuditPublish.{Audit, readPublished, writeAuditPublish}
      val work = scratch("o42wap")
      val clean = ev(s, dir)
        .groupBy(col("event_type"),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100).cast("long")).as("cents"))
      val poisoned = clean.unionByName(
        s.range(1).select(lit(null).cast("string").as("event_type"),
          lit("1970-01-01").as("day"), lit(-1L).as("n_events"),
          lit(-1L).as("cents")))
      val audits = Seq(
        Audit("no_null_keys", _.filter(col("event_type").isNull ||
          col("day").isNull).count()),
        Audit("nonneg_counts", _.filter(col("n_events") < 0).count()))
      val (ok1, _) = writeAuditPublish(clean, work, 1L, audits)
      val (ok2, r2) = writeAuditPublish(poisoned, work, 2L, audits)
      require(ok1 && !ok2 && r2.exists(_._2 > 0),
        s"WAP contract violated: ok1=$ok1 ok2=$ok2 r2=$r2")
      readPublished(s, work)
    }),

    // O43 — Hive-style partition pruning on the real write/read path: the
    // events table lands partitioned by day, and a day-filtered aggregate
    // must read ONLY that day's files — the filter shows up as a
    // PartitionFilter on the scan (PlansSpec pins it), touching 1/Nth of
    // the data at any scale. The target day is derived (min day), one
    // metadata-sized scalar; the oracle recomputes from the raw events
    // with the same derivation.
    "o43_partition_prune" -> ((s, dir) => {
      val work = scratch("o43")
      ev(s, dir).withColumn("day",
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
        .write.partitionBy("day").mode("overwrite").parquet(s"$work/t")
      // partition-column type inference reads the day string back as DATE;
      // keep it DATE so the equality prunes without a cast in the way
      val t = s.read.parquet(s"$work/t")
      val d0 = t.agg(min(col("day"))).head().getDate(0)
      t.filter(col("day") === lit(d0))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100).cast("long")).as("cents"))
    }),

    // X24 — k-anonymity audit with a generalization ladder (the
    // data-governance gate a training corpus with user-linked fields
    // needs): quasi-identifier group sizes at two generalization levels —
    // level 0 = (nation, segment), level 1 = (region, segment), the
    // hierarchy step that repairs level-0 violations — each group flagged
    // against k=5. Two partial-aggregated exchanges; the dim joins
    // broadcast. Suppression/generalization decisions read straight off
    // the violates flags.
    "x24_k_anonymity" -> ((s, dir) => {
      val k = 5
      val c = Tables.customer(s, dir)
      val n = broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_regionkey")))
      val l0 = c.groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .select(lit(0).as("level"), col("c_nationkey").cast("long").as("qi_geo"),
          col("c_mktsegment").as("qi_seg"), col("n"))
      val l1 = c.join(n, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .select(lit(1).as("level"), col("n_regionkey").cast("long").as("qi_geo"),
          col("c_mktsegment").as("qi_seg"), col("n"))
      l0.unionByName(l1)
        .withColumn("violates", (col("n") < k).cast("int"))
    }),

    // X26 — deterministic minority UP-sampling (the complement of x23's
    // downsampling cap): every class is replicated up to the MAJORITY
    // class size — whole copies via an explode over a per-class
    // replication count, the remainder chosen by the same md5 rank order
    // as the rest of the sampling family. Emitted as per-(class, doc)
    // multiplicities (the dataloader consumes weights, not physically
    // duplicated rows — at 100 TB you never materialize the copies).
    "x26_oversample" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("h"))
      val sizes = d.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val mx = sizes.agg(max(col("n")).as("mx"))
      val ranked = d.withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id")))
        .cast("long"))
      ranked.join(broadcast(sizes), "lang").crossJoin(broadcast(mx))
        .withColumn("mult",
          expr("mx div n") + when(col("rk") <= expr("mx % n"), 1L).otherwise(0L))
        .select(col("lang"), col("doc_id"), col("mult"))
    }),

    // X28 — FIM span-corruption prep (fill-in-the-middle pretraining,
    // Bavarian et al. 2022): per document, two deterministic cut points
    // over the token sequence split it into (prefix, middle, suffix), and
    // a hash-derived 50% of docs get the transform (the published FIM
    // rate). Every decision is integer/hash arithmetic over the salted
    // md5 convention (Sampling.hash32) — no RNG, so the corpus transform
    // is reproducible and auditable on any engine/partitioning. One scan,
    // all codegen'd per-row ops — d1's scale shape.
    "x28_fim_splits" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      val cutA = graft.ops.Sampling.hash32(col("doc_id"), "fima") % (col("n_tokens") + 1L)
      val cutB = graft.ops.Sampling.hash32(col("doc_id"), "fimb") % (col("n_tokens") + 1L)
      d.withColumn("fim",
          (graft.ops.Sampling.hash32(col("doc_id"), "fimsel") % 100L < 50L).cast("int"))
        .withColumn("lo", least(cutA, cutB))
        .withColumn("hi", greatest(cutA, cutB))
        .select(col("doc_id"), col("n_tokens"), col("fim"),
          when(col("fim") === 1, col("lo")).otherwise(col("n_tokens")).as("prefix_len"),
          when(col("fim") === 1, col("hi") - col("lo")).otherwise(0L).as("middle_len"),
          when(col("fim") === 1, col("n_tokens") - col("hi")).otherwise(0L).as("suffix_len"))
    }),

    // C7 — budgeted dataloader ASSEMBLY (x29 ∘ x2): the epoch-budget
    // allocation materialized as an actual training stream — each language
    // repeats ⌊epochs⌋ full times plus a salted-hash-sampled partial epoch
    // at the fractional rate (epoch_bp % 10⁴ of its docs), and the
    // replicated stream packs into 512-token sequences in (epoch, doc_id)
    // order. The COMPOSITION is the contract: packing offsets are computed
    // over exactly the replicated multiset the allocation dictates — an
    // off-by-one in either stage shifts every sequence id downstream.
    // Scale: x29's strata-sized water-fill + one broadcast join + explode
    // (output-sized, the allocation IS the output mass) + the two-pass
    // range-partitioned running sum — no single-partition window.
    "c7_budget_assembly" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      val alloc = graft.ops.Sampling.epochBudget(
        d, col("lang"), col("n_tokens"), budgetBp = 35000L, maxEpochs = 4)
      val withAlloc = d.join(broadcast(alloc
        .select(col("stratum").as("lang"), col("epochs_bp"))), "lang")
      val full = withAlloc
        .filter(expr("epochs_bp div 10000") >= 1)
        .withColumn("epoch",
          explode(sequence(lit(0L), expr("epochs_bp div 10000") - 1)))
      val partial = withAlloc
        .filter(graft.ops.Sampling.hash32(col("doc_id"), "c7frac") % 10000L
          < col("epochs_bp") % 10000L)
        .withColumn("epoch", expr("epochs_bp div 10000"))
      val stream = full.unionByName(partial)
        .select(col("epoch"), col("doc_id"), col("lang"), col("n_tokens"))
      graft.ops.Packing.sequenceAssignments(stream,
          Seq(col("epoch"), col("doc_id")), col("n_tokens"), budget = 512L)
        .select(col("epoch"), col("doc_id"), col("lang"), col("n_tokens"),
          col("seq_first"), col("seq_last"))
    }),

    // X29 — data-constrained epoch allocation (Muennighoff et al. 2023):
    // a 3.5×-unique-tokens training budget distributed across languages by
    // √-temperature weights with a 4-epoch repeat cap; budget a capped
    // language can't absorb water-fills to the uncapped ones (3 unrolled
    // rounds — the fixture caps four of five langs in round 1, en absorbs
    // the excess in round 2, round 3 proves the fixpoint). Everything
    // integer on the established grids ([[graft.ops.Sampling.epochBudget]]);
    // the relation is strata-sized end to end regardless of corpus size.
    "x29_epoch_budget" -> ((s, dir) =>
      graft.ops.Sampling.epochBudget(
          docs(s, dir).select(col("lang"),
            TextOps.tokenCount(col("text")).as("tc")),
          col("lang"), col("tc"), budgetBp = 35000L, maxEpochs = 4)
        .select(col("stratum").as("lang"), col("toks"), col("alloc_tokens"),
          col("epochs_bp"), col("capped"))),

    // X30 — DSIR data selection (Xie et al., NeurIPS 2023): importance
    // weights from hashed unigram+bigram LMs (4096 md5 buckets — the t26
    // idiom) of the target domain (lang='en') vs the raw pool, top-100
    // kept. The top-k is a TakeOrderedAndProject (distributed heads, no
    // global sort exchange); the rank window then runs on the 100
    // survivors only. Weights are exact decimals (per-bucket ln truncated
    // to DECIMAL(30,10), t9 discipline) so ranking carries no fp ties.
    "x30_dsir_select" -> ((s, dir) => {
      // fanOut (r14): the token+bigram explode + md5-bucket kernel runs
      // TWICE in dsirWeights (LM-count pass + score pass), each single-task
      // on the one-split local scan; identity on any multi-file table
      val top = TextOps.dsirWeights(fanOut(docs(s, dir), col("doc_id")),
          "doc_id", "text",
          col("lang") === "en")
        .orderBy(col("w_dec").desc, col("id")).limit(100)
      top.withColumn("sel_rank",
          // global window over the 100 limit-survivors — bounded
          row_number().over(Window.orderBy(col("w_dec").desc, col("id"))))
        .select(col("id").as("doc_id"), col("n_feats"),
          Exact.fmt(col("w_dec").cast("double"), 4).as("weight_r"),
          col("sel_rank").cast("long").as("sel_rank"))
    }),

    // T41 — per-source ADAPTIVE quality gate (the C4/CCNet refinement:
    // a single global threshold over-prunes clean sources and under-prunes
    // dirty ones — each source drops its own bottom quartile instead).
    // Membership is INTEGER-exact: rank docs within source by (quality,
    // doc_id) and drop rank ≤ n div 4 — no double ever crosses an
    // engine boundary as a threshold; the reported cut value is derived
    // from the dropped set after the fact. Output pins membership exactly
    // (kept doc-id sum) per source. Scale: the rank is a per-source
    // window — bounded by source-count skew; at real scale the same rank
    // comes from the two-pass range ranker applied per source.
    "t41_adaptive_quality" -> ((s, dir) => {
      val q = docs(s, dir).select(col("doc_id"), col("source"),
        TextOps.qualityScore(col("text")).as("quality"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality"), col("doc_id"))
      val ranked = q.withColumn("rk", row_number().over(w).cast("long"))
        .join(q.groupBy(col("source")).agg(count(lit(1)).as("n")), "source")
        .withColumn("dropped", col("rk") <= expr("n div 4"))
      ranked.groupBy(col("source"))
        .agg(first(col("n")).as("n_total"),
          expr("first(n) div 4").as("n_dropped"),
          sum(when(!col("dropped"), col("doc_id"))).as("kept_docid_sum"),
          max(when(col("dropped"), col("quality"))).as("__cut"))
        .select(col("source"), col("n_total"), col("n_dropped"),
          col("kept_docid_sum"),
          // raw double, no %.f rounding: the quality value is computed by
          // the identical IEEE expression on both engines (t2 precedent),
          // while fixed-decimal rendering risks the half-case split
          col("__cut").as("cut_q"))
    }),

    // Q31 — top-N-per-group TIES semantics: RANK admits every row tied at
    // the boundary (cardinality varies), DENSE_RANK compresses gaps,
    // ROW_NUMBER cuts arbitrarily-but-deterministically (id tiebreak).
    // The gate emits all three for the top-3 revenue days per event type
    // — an engine that lowers rank() onto row_number semantics changes
    // the row count and hash-fails. Exact integer cents ranking.
    "q31_topk_ties" -> ((s, dir) => {
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
    }),

    // X23 — class-balanced sampling (the lang-balancing dataloader op):
    // every class contributes exactly m docs where m = the SMALLEST class
    // size — a data-derived cap, unlike x21's fixed K — selection by the
    // same deterministic md5 rank. The minority size is one broadcast
    // scalar (a two-level aggregate over class counts); the per-class rank
    // lowers to the map-side WindowGroupLimit only when the bound is a
    // literal, so the cap is applied as a post-rank filter — the rank
    // exchange still carries only (lang)-partitioned rows and the skew
    // ceiling is the class histogram itself, which balanced sampling
    // inspects by definition.
    "x23_class_balanced_sample" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("h"))
      val m = d.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .agg(min(col("n")).as("m"))
      d.withColumn("rk", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id")))
          .cast("long"))
        .crossJoin(broadcast(m))
        .filter(col("rk") <= col("m"))
        .select(col("doc_id"), col("lang"), col("rk"))
    }),

    // T36 — corpus drift BETWEEN sources: pairwise Jensen-Shannon
    // divergence of the per-source unigram distributions. The missing-token
    // halves never require a full outer join: a token present only in a
    // contributes p·ln2, so JSD = ½[Σ_{t∈A∩B}(p·ln(2p/(p+q)) +
    // q·ln(2q/(p+q))) + ln2·((n_a−Σc_a∩)/n_a + (n_b−Σc_b∩)/n_b)] — the
    // intersection INNER join plus exact integer masses (this identity is
    // the stated contract, mirrored verbatim by the oracle). Per-term
    // doubles round to DECIMAL(30,10) before the sum (t27 order-freedom);
    // the final expression is one mirrored double chain. Shuffles: one on
    // token (bounded per-token fan-out ≤ |sources|²), one |pairs|-row agg.
    "t36_source_jsd" -> ((s, dir) => {
      val tok = docs(s, dir).filter(TextOps.tokenCount(col("text")) >= 1)
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      val tot = tok.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val st = tok.join(tot, "source")
      val a = st.select(col("source").as("sa"), col("tok"),
        col("c").as("ca"), col("n").as("na"))
      val b = st.select(col("source").as("sb"), col("tok"),
        col("c").as("cb"), col("n").as("nb"))
      val pairs = a.join(b, Seq("tok")).filter(col("sa") < col("sb"))
        .withColumn("pa", col("ca").cast("double") / col("na").cast("double"))
        .withColumn("pb", col("cb").cast("double") / col("nb").cast("double"))
        .withColumn("term",
          col("pa") * log(lit(2.0) * col("pa") / (col("pa") + col("pb"))) +
          col("pb") * log(lit(2.0) * col("pb") / (col("pa") + col("pb"))))
      pairs.groupBy(col("sa"), col("sb"))
        .agg(count(lit(1)).as("n_common"),
          Exact.sumD(col("term"), 10).as("t_sum"),
          sum(col("ca")).as("ca_int"), first(col("na")).as("na"),
          sum(col("cb")).as("cb_int"), first(col("nb")).as("nb"))
        .select(col("sa"), col("sb"), col("n_common"),
          Exact.fmt((col("t_sum") + log(lit(2.0)) *
            ((col("na") - col("ca_int")).cast("double") / col("na").cast("double") +
             (col("nb") - col("cb_int")).cast("double") / col("nb").cast("double")))
            / lit(2.0), 6).as("jsd_r"))
    }),

    // T37 — readability (Flesch reading ease): exact integer components —
    // words, sentence runs ([.!?]+, floored at 1), syllable proxy = vowel
    // groups — plus the classic score as one mirrored double chain behind
    // %.4f. One narrow codegen scan.
    "t37_readability" -> ((s, dir) =>
      docs(s, dir).filter(TextOps.tokenCount(col("text")) >= 1)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("words"),
          greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
            .cast("long").as("sentences"),
          regexp_count(lower(col("text")), lit("[aeiou]+"))
            .cast("long").as("syllables"))
        .withColumn("flesch_r", Exact.fmt(
          lit(206.835)
            - lit(1.015) * (col("words").cast("double") / col("sentences").cast("double"))
            - lit(84.6) * (col("syllables").cast("double") / col("words").cast("double")),
          4))),

    // T34 — calibration audit (reliability relation) for the vowel-density
    // language scorer: treating vowel density in basis points as the
    // classifier's confidence that lang = 'en' (t3's own decision
    // statistic), bucket into 500-bp bins and emit per-bin support,
    // positives, confidence mass, and the ECE gap NUMERATOR
    // |positives·10⁴ − Σconf| — every column an exact integer (the
    // common-denominator trick: acc−conf over denominator n·10⁴ needs no
    // division at all). One narrow codegen scan + one 21-row exchange.
    "t34_calibration" -> ((s, dir) =>
      docs(s, dir).select(
          expr("""(length(lower(text)) -
                   length(regexp_replace(lower(text), '[aeiou]', '')))
                  * 10000 div greatest(length(lower(text)), 1)""").as("conf_bp"),
          (col("lang") === "en").cast("long").as("y"))
        .select(expr("conf_bp div 500").as("bin"), col("conf_bp"), col("y"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
          sum(col("conf_bp")).as("sum_conf_bp"))
        .withColumn("gap_num", abs(col("n_pos") * 10000 - col("sum_conf_bp")))),

    // A12 — hierarchical rollup: (event_type, day) with subtotals and a
    // grand total in one pass.
    "a12_rollup" -> ((s, dir) =>
      ev(s, dir)
        .rollup(col("event_type"),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"), Exact.sumD(col("value"), 2).as("sum_value"))),

    // A13 — cube over (event_type, day): all four grouping sets in one pass,
    // disambiguated by the grouping-set id (rounding out the rollup family;
    // same partial-agg shuffle shape as a12 with 4x the grouping sets).
    "a13_cube" -> ((s, dir) =>
      ev(s, dir)
        .cube(col("event_type"),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .agg(grouping_id().cast("int").as("gid"),
          count(lit(1)).as("n_events"), Exact.sumD(col("value"), 2).as("sum_value"))),

    // D1 — exact dedup by content fingerprint (hash-groupBy).
    "d1_dedup_exact" -> ((s, dir) =>
      docs(s, dir).groupBy(TextOps.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))),

    // D17 — homoglyph (Unicode-confusable) dedup: spam and benchmark-
    // contamination evasion swaps Latin letters for visually identical
    // Cyrillic codepoints, which defeats byte-exact AND canonical dedup
    // (d1/d15 both see different bytes). The skeleton transform maps
    // confusables back to Latin (the Unicode TR39 skeleton idea, five
    // high-traffic pairs here) before fingerprinting. The corpus is clean
    // ASCII, so the gate synthesizes the attack (the d15/m* fixture
    // pattern): every 7th doc rides in twice — original + a spoofed copy
    // with а/е/о/с/р (Cyrillic) substituted — in a disjoint id space;
    // correct behavior re-unites each spoof with exactly its original.
    // Pure per-row codegen'd translate + one fingerprint groupBy.
    "d17_homoglyph_dedup" -> ((s, dir) => {
      val latin = "aeocp"
      val cyr = "аеоср"
      val base = docs(s, dir)
      val spoofed = base.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          translate(col("text"), latin, cyr).as("text"))
      val corpus = base.select(col("doc_id"), col("text")).unionByName(spoofed)
      corpus
        .groupBy(TextOps.fingerprint(translate(col("text"), cyr, latin)).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"),
          sum(when(col("doc_id") >= 10000000L, 1L).otherwise(0L)).as("n_spoofs"))
    }),

    // D16 — INCREMENTAL near-dup admission: the production dedup shape —
    // the standing corpus (doc_id ≢ 0 mod 11) keeps a materialized
    // signature TABLE; the incoming batch computes only its own
    // signatures and band-joins against the union. Per-batch work is
    // O(batch) + a batch-sided bucket join; the result equals full-corpus
    // banding restricted to pairs with an incoming side, which is exactly
    // what the oracle states.
    "d16_incremental_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      val work = scratch("d16inc")
      val standing = DedupOps.materializeSignatures(
        d.filter(pmod(col("doc_id"), lit(11)) =!= 0), "doc_id", "text",
        s"$work/sigs")
      val incoming = DedupOps.signatures(
        d.filter(pmod(col("doc_id"), lit(11)) === 0), "doc_id", "text")
      DedupOps.incrementalPairs(standing, incoming)
    }),

    // D15 — canonical-normalization dedup (the C4/mC4 cleaning step): docs
    // that differ only in case, punctuation, or whitespace runs collapse to
    // one canonical fingerprint — what d1's byte-exact hash structurally
    // misses. The corpus is already canonical, so the gate synthesizes the
    // messy variants it must catch (the m*-fixture pattern): every 5th doc
    // rides in twice — original + an UPPERCASED copy with ", " noise
    // injected at every space — in a disjoint id space. Normalize = lower →
    // non-alnum→space → collapse runs → trim, evaluated by the single-pass
    // [[graft.expressions.AsciiCanon]] kernel (bit-identical to the 3-step
    // regexp_replace chain the oracle states — the r11 sweep's 25.5× 100×
    // ratio was three regex passes over every corpus byte); the noise
    // injection is a literal replace (StringReplace), not a regex. One
    // kernel pass + one fingerprint groupBy — d1's scan-bound scale shape.
    "d15_canonical_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      val messy = d.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
          upper(expr("replace(text, ' ', ' , ')")).as("text"))
      d.select(col("doc_id"), col("text")).unionByName(messy)
        .groupBy(md5(graft.expressions.AsciiCanon.asciiCanon(col("text"))).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
    }),

    // D2 — MinHash-LSH near-dup candidate pairs (16 hashes, 4 bands × 4 rows).
    "d2_minhash_lsh" -> ((s, dir) =>
      DedupOps.lshCandidatePairs(docs(s, dir), "doc_id", "text", 16, 4)),

    // D2b — the 100 TB shape of d2: the signature relation is computed ONCE,
    // persisted as a parquet table, and banding + scoring run against the
    // table (the signature subtree appears once; both join sides are cheap
    // parquet re-reads, not md5-over-shingles recomputes).
    "d2b_minhash_materialized" -> ((s, dir) => {
      val sigTable = scratch("sigs")
      DedupOps.pairsFromSignatures(
        DedupOps.materializeSignatures(docs(s, dir), "doc_id", "text", sigTable, 16), 16, 4)
    }),

    // D6 — near-dup CLUSTERING: connected components over the thresholded
    // LSH pair graph, one canonical id (component min) per doc — the
    // contract pair-wise dropping gets wrong on similarity chains. Min-label
    // propagation to fixpoint; the oracle recomputes components via a
    // recursive transitive closure.
    "d6_neardup_clusters" -> ((s, dir) => {
      val sigs = DedupOps.signatures(docs(s, dir), "doc_id", "text", 16).cache()
      val pairs = DedupOps.pairsFromSignatures(sigs, 16, 4)
        .filter(col("est_jaccard") >= 0.5)
      val labeled = DedupOps.connectedComponents(pairs)
      labeled.join(
          labeled.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size")),
          "cluster_id")
        .select(col("id").as("doc_id"), col("cluster_id"), col("cluster_size"))
    }),

    // D6b — the same clustering contract via the alternating large-star/
    // small-star algorithm (O(log²) rounds on any diameter): both
    // implementations must produce the identical component labeling.
    "d6b_clusters_alternating" -> ((s, dir) => {
      val sigs = DedupOps.signatures(docs(s, dir), "doc_id", "text", 16).cache()
      val pairs = DedupOps.pairsFromSignatures(sigs, 16, 4)
        .filter(col("est_jaccard") >= 0.5)
      val labeled = DedupOps.connectedComponentsAlternating(pairs)
      labeled.join(
          labeled.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size")),
          "cluster_id")
        .select(col("id").as("doc_id"), col("cluster_id"), col("cluster_size"))
    }),

    // D4 — exact token-set Jaccard over MinHash-band blocked candidates.
    // (Blocking on a raw text prefix makes the self-join quadratic in the
    // largest shared-boilerplate bucket; a band collision instead has
    // P = J^rowsPerBand, so bucket sizes track true similarity.) Blocking
    // runs against a materialized signature table so the md5-over-shingles
    // scan executes once, not once per self-join side.
    "d4_ngram_jaccard" -> ((s, dir) => {
      val sigs = DedupOps.signatures(docs(s, dir), "doc_id", "text", 16).cache()
      DedupOps.blockedJaccardFromSignatures(sigs, docs(s, dir), "doc_id", "text", 16, 4)
    }),

    // C1 — the corpus-cleaning pipeline COMPOSED: language/quality/length
    // filters → exact dedup (canonical = min doc_id per fingerprint) →
    // near-dup removal (drop the higher id of any MinHash pair with
    // est_jaccard ≥ 0.5). The 100 TB shape end-to-end: per-row scoring
    // fuses into one scan and is MATERIALIZED once (it feeds both the
    // canonical-id groupBy and the join-back — without materialization the
    // scan + scoring subtree executes twice); near-dup pairs come from the
    // materialized signature relation (the d2b compute-once shape), so no
    // md5-over-shingles recompute appears anywhere in the plan.
    // Both shared relations are cached, not written: a parquet round-trip
    // would split the query into serial blocking jobs (measured slower at
    // bench scale), while cache keeps one DAG and still computes each
    // subtree once. The persisted-table variant of the same sharing is
    // what d2b demonstrates; Verify/Bench clearCache() between queries.
    "c1_corpus_clean" -> ((s, dir) => {
      // r13 opt note: fanOut here was measured NEUTRAL-to-worse (1.8→2.0 s
      // warm) — the two cached relations re-materialize at 32 partitions
      // and the added task overhead eats the kernel win; left alone.
      val d = docs(s, dir)
      val sigs = DedupOps.signatures(d, "doc_id", "text", 16).cache()
      // bucket-capped: a degenerate corpus (mass-duplicated boilerplate)
      // otherwise makes the band self-join quadratic; over-cap docs are
      // that similar to thousands of others, and the exact-fingerprint
      // dedup below collapses them regardless. Never fires on the driver
      // corpus, so the uncapped oracle SQL stays exactly equal.
      val dupIds = DedupOps.pairsFromSignatures(sigs, 16, 4, DedupOps.DefaultBucketCap)
        .filter(col("est_jaccard") >= 0.5)
        .select(col("id_b").as("doc_id")).distinct()
      val kept = d.select(col("doc_id"),
        TextOps.langIdHeuristic(col("text")).as("lang"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.qualityScore(col("text")).as("quality"),
        TextOps.fingerprint(col("text")).as("fp"))
        .filter(col("n_tokens") >= 5 && col("quality") >= 0.5)
        .cache()
      val canon = kept.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      kept.join(canon, Seq("fp", "doc_id"))
        .join(dupIds, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          Exact.fmt(col("quality"), 4).as("quality_r"))
    }),

    // C2 — the span-level composed cleaner (c1's document-level chain, one
    // rung deeper): quality gate → cross-doc span scrub (d8) on the
    // SURVIVORS → drop docs that lost ≥ half their tokens to shared
    // boilerplate → exact dedup of the SCRUBBED text (two docs differing
    // only in duplicated spans collapse to one canonical). Retention is an
    // exact-integer comparison (2·n_kept ≥ n_tokens) and membership never
    // touches a double, so the row set is layout- and libm-independent.
    "c2_clean_spans" -> ((s, dir) => {
      // fanOut (r14): the tokenize+quality filter and spanScrub's gram
      // explode kernels ran single-task on the one-split local scan
      val d = fanOut(docs(s, dir), col("doc_id"))
      val q = d.select(col("doc_id"), col("text"),
          TextOps.tokenCount(col("text")).as("nt"),
          TextOps.qualityScore(col("text")).as("quality"))
        .filter(col("nt") >= 5 && col("quality") >= 0.5)
      val scrubbed = DedupOps.spanScrub(
        q.select(col("doc_id"), col("text")), "doc_id", "text", 8, 2)
      val kept = scrubbed.filter(col("n_kept") * 2 >= col("n_tokens"))
        .withColumn("sfp", md5(col("cleaned")))
      // canonical = lowest id per scrubbed fingerprint, via a window rank
      // rather than groupBy+self-join: the join form duplicated the ENTIRE
      // scrub subtree on both sides of the plan (measured 2× the work at
      // sf0.1); rank compiles to WindowGroupLimit — bounded per-group
      // heaps, one exchange on sfp, one scrub subtree.
      val w = Window.partitionBy(col("sfp")).orderBy(col("id"))
      kept.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_kept"),
          expr("(n_kept * 10000) div n_tokens").as("kept_bp"), col("sfp"))
    }),

    // T1 — token counting.
    "t1_token_stats" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.meanTokenLen(col("text")).as("mean_token_len"))),

    // T2 — quality scoring (length/punct/stopword heuristics).
    "t2_quality" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.stopwordRatio(col("text")).as("stopword_ratio"),
        TextOps.punctRatio(col("text")).as("punct_ratio"),
        TextOps.qualityScore(col("text")).as("quality"))),

    // T3 — language-ID heuristic vs the labeled column.
    "t3_langid" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.langIdHeuristic(col("text")).as("lang_pred"),
        (TextOps.langIdHeuristic(col("text")) === col("lang")).cast("int").as("is_match"))),

    // T20 — language-ID CONFUSION MATRIX + per-class precision/recall in
    // exact basis points: the eval row for t3 (the d10/s14 pattern applied
    // to the classifier family — t3 reports per-doc matches, this reports
    // the aggregate quality a pipeline monitors: which languages the
    // heuristic confuses, per-class and overall). All integers.
    "t20_langid_eval" -> ((s, dir) => {
      val p = docs(s, dir).select(col("lang"),
        TextOps.langIdHeuristic(col("text")).as("pred"))
      val cell = p.groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
      val byTrue = p.groupBy(col("lang")).agg(count(lit(1)).as("n_true"))
      val byPred = p.groupBy(col("pred")).agg(count(lit(1)).as("n_pred"))
      cell.join(byTrue, "lang").join(byPred, "pred")
        .select(col("lang"), col("pred"), col("n"),
          expr("n * 10000 div n_true").as("recall_bp"),
          expr("n * 10000 div n_pred").as("precision_bp"))
    }),

    // T4 — document fingerprinting.
    "t4_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))),

    // T22 — Unicode NFC canonicalization via the engine's native codegen'd
    // expression (expressions/TextExpressions.scala): mixed composed/
    // decomposed encodings of the same text silently break every
    // byte-keyed operator (d1 fingerprints, d2/d11 shingle hashes, groupBy
    // keys); NFC at ingest is the standard fix and Spark ships no builtin.
    // The corpus is ASCII, so each row gets a deterministic decomposed
    // suffix (three base+combining-mark pairs); the gate pins codepoint
    // shrinkage (−3/row), inequality of the two encodings, and — the real
    // contract — that the NORMALIZED bytes hash identically to DuckDB's
    // utf8proc-based nfc_normalize (both implement the same published
    // Unicode tables).
    "t22_nfc_normalize" -> ((s, dir) => {
      val raw = concat(substring(col("text"), 1, 40), lit(nfcSuffix))
      docs(s, dir)
        .select(col("lang"), raw.as("raw"),
          graft.expressions.TextExpressions.nfcNormalize(raw).as("norm"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("raw"))).as("sum_len_raw"),
          sum(length(col("norm"))).as("sum_len_norm"),
          count(when(col("raw") =!= col("norm"), 1)).as("n_changed"),
          countDistinct(substring(md5(col("norm")), 1, 8)).as("n_fp"))
    }),

    // S1 — brute-force cosine top-10 for query vectors vec_id < 5.
    "s1_ann_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.bruteForceTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    }),

    // S2 — IVF-pruned ANN: assign corpus to a FIXED-SIZE centroid set
    // (nlist pinned into (32,64] by a power-of-2 id stride — a corpus-
    // fraction set makes assignment N·nlist = quadratic), probe the 2
    // nearest cells per query, exact top-5 within them. Re-tuning nlist as
    // the corpus grows is the s5 reassign path. The count() is one
    // metadata-cheap job.
    // C6 — the composed RAG SERVING pipeline under one oracle: IVF
    // retrieval (s2's exact chain: stride centroids, nprobe=2, top-5) →
    // context packing under a 150-token prompt budget in rank order (the
    // greedy prefix rule — a skipped neighbor never reopens the window).
    // Pins the stage ORDER and the retrieval→packing handoff, not just the
    // stages (the c1-c5 composition discipline applied to serving).
    "c6_rag_serve" -> ((s, dir) => {
      val e = emb(s, dir)
      val centroids = e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val assigned = SimilarityOps.assignToCentroids(e, centroids, "vec_id", "embedding")
      val topk = SimilarityOps.ivfTopK(assigned, centroids,
        e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5, nprobe = 2)
      val d = docs(s, dir).select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("toks"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      topk.join(d, col("neighbor_id") === col("doc_id"))
        .withColumn("cum_toks", sum(col("toks")).over(w))
        .filter(col("cum_toks") <= 150)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("toks"), col("cum_toks"))
    }),

    "s2_ann_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val centroids = e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val assigned = SimilarityOps.assignToCentroids(e, centroids, "vec_id", "embedding")
      SimilarityOps.ivfTopK(assigned, centroids, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 5, nprobe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    }),

    // S18 — EXACT cosine range search (all matches with sim ≥ 0.3 per
    // query) with lossless spherical-cap cell pruning: the radius-query
    // twin of s2's fixed-nprobe top-k. The per-cell angular-radius bound
    // (plus a 1e-9 slack dominating the fp error of the dot/sqrt chain)
    // can never discard a cell containing a true match, so the oracle is
    // the NAIVE brute-force τ-scan — equality holds by mathematics, not
    // recall luck. Queries are the mod-100 subset.
    "s18_range_search" -> ((s, dir) => {
      val e = emb(s, dir)
      val centroids = e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val assigned = SimilarityOps.assignToCentroids(e, centroids, "vec_id", "embedding")
      SimilarityOps.rangeSearch(assigned, centroids,
          e.filter(col("vec_id") % 100 === 0), "vec_id", "embedding", tau = 0.3)
        .select(col("query_id"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    }),

    // S19 — recall eval for the FILTERED search path (the s6 pattern
    // applied to s17): truth = brute force over the FILTERED corpus — the
    // correct filtered-retrieval truth; comparing against unfiltered truth
    // would punish the filter itself. Closes the serve/eval matrix:
    // s2/s6 (plain), s12b/s14 (MIPS), s17/s19 (filtered).
    "s19_filtered_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val en = docs(s, dir).filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id"))
      val corpusEn = e.join(en, Seq("vec_id"), "left_semi")
      val brute = SimilarityOps.bruteForceTopK(
          corpusEn, e.filter(col("vec_id") < 5), "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      val centroids = e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val assigned = SimilarityOps.assignToCentroids(e, centroids, "vec_id", "embedding")
      SimilarityOps.ivfTopK(assigned.join(en, Seq("vec_id"), "left_semi"),
          centroids, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 5, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"))
        .join(brute, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          (col("n_hits").cast("double") / 5).as("recall_at_5"))
    }),

    // S20 — Matryoshka prefix-dimension retrieval: stage 1 ranks by cosine
    // over the first 16 of 64 components (a scan that column-prunes to 1/4
    // of the vector bytes when the prefix is stored as its own column),
    // stage 2 reranks the per-query top-20 shortlist by full-dim exact
    // cosine. The third byte-reduction lever after IVF (read fewer ROWS)
    // and PQ (read coded BYTES) — prefix reads fewer COMPONENTS, no
    // codebook to train. Oracle replays both stages with DuckDB list
    // slicing; ties pinned by neighbor_id at both stages.
    "s20_prefix_rerank" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.prefixRerankTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 5, shortlistK = 20, prefixDim = 16)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    }),

    // S21 — SQ8 scalar-quantization ANN: per-dimension min/max codebook
    // (a dim-row broadcast literal — no training iterations), 1-byte codes,
    // asymmetric serve (float query vs midpoint reconstruction). Completes
    // the compression family: IVF reads fewer rows (s2), PQ reads coded
    // bytes (s7), prefix reads fewer components (s20), SQ8 reads 1 byte/
    // component with no codebook training. Every step is a fixed
    // left-to-right IEEE chain, so the oracle's relational replay (unnest →
    // per-dim MIN/MAX → encode → reconstruct → in-order list rebuild)
    // produces bit-identical sims before the 4-decimal rendering.
    "s21_sq8" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.sq8TopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    }),

    // S22 — binary (1-bit sign) quantization ANN: each vector packs to one
    // BIGINT of sign bits, distance = bit_count(XOR) — the most aggressive
    // compression tier (512× smaller than float64 at dim 64) and the
    // standard first-stage filter ahead of exact rerank. All-integer
    // scoring: no FP anywhere, cross-engine agreement exact by
    // construction. The oracle never reconstructs the packed word (that's
    // an engine optimization); it restates the SEMANTIC — count of
    // sign-mismatched dimensions — from first principles.
    "s22_binary_hamming" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.binaryHammingTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10)
    }),

    // S23 — maximal-marginal-relevance re-rank: the diversity pass between
    // ANN retrieval and the prompt (RAG serving's standard redundancy
    // filter). Top-16 cosine pool per query (vec_id < 3), greedy pick of 5
    // with λ = 0.7. Every comparison is integer: cosines floored onto the
    // 1e10 grid (both engines fold dot/norm left-to-right; sqrt and divide
    // are correctly-rounded IEEE ops, so the doubles are bit-identical —
    // the same contract g1-g5's raw-cosine row_number ordering already
    // relies on), scores combined as 7·simS − 3·penS so the argmax never
    // orders a double. The oracle unrolls the 5 greedy rounds as
    // pen/score/argmax CTE triples — the pageRank/kmeans fixed-round
    // pattern, since greedy selection is sequential by nature.
    "s23_mmr_rerank" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.mmrRerank(e, e.filter(col("vec_id") < 3),
        "vec_id", "embedding", poolK = 16, selectK = 5)
    }),

    // S24 — reciprocal-rank fusion (RRF, Cormack '09): the standard
    // hybrid-search combiner — two retrieval lists over the same queries
    // (cosine and raw inner-product here; dense+sparse in production)
    // merged by Σ 1/(60 + rank), which needs no score calibration between
    // lists. Ranks are integers, the fused score is the same two-term
    // double sum on both engines (identical operand order), ties break on
    // id. One full-outer join of two top-20 relations per query — the
    // fusion itself never touches the corpus.
    "s24_rrf_fusion" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 3)
      val cosL = SimilarityOps.bruteForceTopK(e, q, "vec_id", "embedding", 20)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("r_cos"))
      val mipsL = SimilarityOps.mipsTopK(e, q, "vec_id", "embedding", 20)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("r_mips"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("neighbor_id"))
      cosL.join(mipsL, Seq("query_id", "neighbor_id"), "full_outer")
        .withColumn("score",
          coalesce(lit(1.0) / (lit(60) + col("r_cos")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("r_mips")), lit(0.0)))
        .withColumn("fused_rank", row_number().over(w))
        .filter(col("fused_rank") <= 10)
        .select(col("query_id"), col("fused_rank"), col("neighbor_id"),
          coalesce(col("r_cos"), lit(0)).as("r_cos"),
          coalesce(col("r_mips"), lit(0)).as("r_mips"))
    }),

    // S26 — margin-based bitext mining (ratio margin, Artetxe & Schwenk
    // 2019 — the parallel-corpus mining scorer): pairs mined ACROSS two
    // halves of the label space (labels < 5 as the "source language",
    // >= 5 as the "target") over the d5 sign-LSH candidate relation, each
    // cosine normalized by the mean of the two endpoints' top-4 candidate
    // sims — a pair wins by being closer than its endpoints' OTHER
    // neighbors, the hub-vs-pair separation an absolute cosine threshold
    // can't make. Cosines floor onto the 1e10 integer grid at candidate
    // time; denominators are exact integer sums ÷ counts; the margin
    // double is then computed from integers only via the same IEEE shape
    // in the oracle, so even the rank-1 margin ordering is bit-identical
    // (the g1 floor-grid contract). Emits each source's best target at
    // margin >= 1.05.
    "s26_margin_mining" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.marginMining(e, "vec_id", "embedding",
          col("label") < 5, col("label") >= 5, k = 4,
          Adaptive.signDims(e.count()), minMargin = 1.05)
        .select(col("src_id"), col("tgt_id"), col("s_e10"),
          Exact.fmt(col("margin"), 4).as("margin_r"))
    }),

    // S27 — Johnson-Lindenstrauss SIGN random projection (Achlioptas 2003)
    // + neighbor-agreement audit: quantize the 64-dim corpus to the 1e6
    // integer grid, project onto 16 deterministic ±1 rows (md5-seeded, the
    // cross-engine RNG convention), then rank top-5 per query by squared L2
    // IN THE REDUCED SPACE and flag which of them the exact full-space
    // top-5 contains. Everything after quantization is BIGINT — reduced and
    // full distances, ranks, the in_exact flag — so the gate is exact, not
    // a tolerance test. Scale: the projection is a narrow codegen'd map (the
    // sign matrix lives as plan literals); the brute-force serve here is the
    // AUDIT, not the scale path — at 100 TB the reduced vectors feed the
    // s2 IVF machinery at a quarter of the dot-product cost.
    "s27_rp_reduce" -> ((s, dir) => {
      val e = emb(s, dir)
      val proj = SimilarityOps.rpProject(e, "vec_id", "embedding", nProj = 16)
      val qz = e.select(col("vec_id"), SimilarityOps.quantizeE6(col("embedding")).as("q"))
      val qsel = col("vec_id") < 5
      val dRed = broadcast(proj.filter(qsel)
          .select(col("vec_id").as("query_id"), col("rp").as("qrp")))
        .join(proj.select(col("vec_id").as("neighbor_id"), col("rp")),
          col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          SimilarityOps.sqDistL(col("qrp"), col("rp")).as("d2_red"))
      val wq = Window.partitionBy(col("query_id"))
        .orderBy(col("d2_red"), col("neighbor_id"))
      val redTop = dRed.withColumn("rank", row_number().over(wq))
        .filter(col("rank") <= 5)
      val exTop = broadcast(qz.filter(qsel)
          .select(col("vec_id").as("query_id"), col("q").as("qv")))
        .join(qz.select(col("vec_id").as("neighbor_id"), col("q")),
          col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          SimilarityOps.sqDistL(col("qv"), col("q")).as("d2_full"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("d2_full"), col("neighbor_id"))))
        .filter(col("rk") <= 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      redTop.join(exTop, Seq("query_id", "neighbor_id"), "left")
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("d2_red"), coalesce(col("hit"), lit(0)).as("in_exact"))
    }),

    // S28 — deterministic farthest-point seeding (Gonzalez 1985 k-center
    // traversal, the deterministic cousin of k-means++ D² sampling): seed 0
    // = the min-id vector, then k−1 rounds of "pick the point maximizing
    // min distance to the chosen seeds" (ties → min id). Distances are the
    // s27 integer grid (exact BIGINT squared L2), so the seed SEQUENCE is
    // engine-identical — the property the s8 stride init can't give
    // (stride is arbitrary, not coverage-driven) and the reason this init
    // feeds s8/sd1 at 100 TB: k scans of the corpus, each one narrow agg
    // with the seed vectors as plan literals (k×dim ints driver-side —
    // the monitor-boundary collect pattern), no corpus state between
    // rounds. Output also assigns the corpus to the chosen seeds
    // (argmin, ties → earliest round) as the coverage audit.
    "s28_kmeanspp_seed" -> ((s, dir) => {
      val qv = emb(s, dir).select(col("vec_id"),
        SimilarityOps.quantizeE6(col("embedding")).as("q"))
      val seeds = gonzalezSeeds(qv, 4)
      def d2To(seed: Array[Long]): Column =
        SimilarityOps.sqDistL(col("q"), array(seed.map(lit): _*))
      val dists = seeds.map(t =>
        struct(d2To(t._3).as("d"), lit(t._1).as("r")))
      val counts = qv.select(col("vec_id"),
          array_min(array(dists: _*)).getField("r").as("round"))
        .groupBy(col("round")).agg(count(lit(1)).as("n_assigned"))
      val seedDf = s.createDataFrame(
        seeds.map(t => (t._1, t._2, t._4))).toDF("round", "seed_id", "picked_d2")
      seedDf.join(counts, Seq("round"))
        .select(col("round"), col("seed_id"), col("picked_d2"), col("n_assigned"))
    }),

    // S17 — FILTERED vector search (the "where lang = 'en'" ANN serve —
    // metadata predicates composed with index probing, the production
    // retrieval shape): the s2 index is built over the FULL corpus, the
    // predicate restricts the indexed relation before scoring. Because
    // candidates = assigned ∩ probed-cells ∩ filter and intersection
    // commutes, pre-filtering the assigned relation is bit-identical to
    // post-filtering probed candidates — the cheap side of that identity
    // is what runs (semi join on the metadata key, pushed below the
    // distance arithmetic). Top-k then ranks only surviving candidates,
    // so a heavily-filtered query returns the right k, not k-minus-
    // filtered-out.
    // S31 — hard-negative mining (contrastive-training data prep, the
    // DPR/SimCSE recipe): for each query, the semantically CLOSEST
    // candidates whose label DIFFERS — the negatives that actually teach
    // an embedding model, vs easy random ones. Structurally this is
    // filtered ANN (s17) with a QUERY-DEPENDENT predicate: the exclusion
    // (candidate.label ≠ query.label) can't be a candidate-side semi-join,
    // it applies per (query, candidate) pair BEFORE the rank, so the top-k
    // is k valid negatives, not the survivors of a post-filter. Scale =
    // the s2 IVF shape: probes prune the corpus to ~nprobe/nlist, the
    // label ride-along adds one int to the assigned relation, and the
    // pair filter runs inside the probed-cell join — never all-pairs.
    "s31_hard_negatives" -> ((s, dir) => {
      val e = emb(s, dir)
      val centroids = e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val assigned = SimilarityOps.assignToCentroids(e, centroids, "vec_id", "embedding")
        .join(e.select(col("vec_id"), col("label").as("n_label")), "vec_id")
      val queries = e.filter(col("vec_id") < 5)
      val probes = SimilarityOps.probeCells(queries, centroids, "vec_id", "embedding", nprobe = 2)
        .join(broadcast(queries.select(col("vec_id").as("query_id"),
          col("label").as("q_label"))), "query_id")
      val cand = assigned.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("cv"),
        col("centroid_id"), col("n_label"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id"))
      cand.join(broadcast(probes), Seq("centroid_id"))
        .filter(col("query_id") =!= col("neighbor_id") &&
          col("n_label") =!= col("q_label"))
        .select(col("query_id"), col("q_label"), col("neighbor_id"),
          col("n_label"), SimilarityOps.cosine(col("qv"), col("cv")).as("sim"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("q_label"), col("n_label"), Exact.fmt(col("sim"), 4).as("sim_r"))
    }),

    "s17_filtered_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      val centroids = e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val assigned = SimilarityOps.assignToCentroids(e, centroids, "vec_id", "embedding")
      val en = docs(s, dir).filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id"))
      SimilarityOps.ivfTopK(assigned.join(en, Seq("vec_id"), "left_semi"),
          centroids, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 5, nprobe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    }),

    // S32 — PCA top component by exact-integer power iteration (the
    // decorrelation prep before IVF/PQ indexing: project out the dominant
    // direction, whiten, or seed OPQ's rotation). Scatter accumulation is
    // ONE (dim×dim)-keyed map-combined exchange — 4096 cells at d=64, the
    // sketch economics of o11: the exchange carries cells, never rows —
    // and the five iterations run on the cached 4096-cell relation only.
    // All arithmetic exact integers/decimals up to one sqrt and one
    // division (SimilarityOps.pcaPowerTop).
    "s32_pca_power" -> ((s, dir) =>
      SimilarityOps.pcaPowerTop(emb(s, dir), "embedding", iters = 5)
        .select(col("dim"), col("pc1_k"), Exact.fmt(col("eig"), 6).as("eig_r"))),

    // S33 — Matryoshka truncated-dimension recall (Kusupati et al. 2022):
    // recall@5 of cosine top-5 under PREFIX dimensions m ∈ {8,16,32} vs the
    // full-width truth — the eval that decides how far an MRL embedding can
    // be truncated before retrieval degrades (the storage/latency knob of a
    // production vector store). Pure composition of bruteForceTopK over
    // slice()'d vectors: the truth subtree is computed once (single join
    // after the union), prefixes shorten the scoring dot products, and
    // recall_bp stays integer. Scale: three brute passes over the same
    // scan — at index scale the same slices ride s2's IVF instead.
    "s33_matryoshka_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      // The full-width truth and every prefix grid point score the SAME
      // query×corpus pairs — one crossJoin pass computes all four cosines
      // per pair (prefix slices are per-side projections, computed once per
      // row, not once per pair) instead of four bruteForceTopK corpus
      // passes. Per-(m, query) windows reproduce each pass's (sim desc,
      // neighbor_id) top-5 verbatim; bruteForceTopK's zero-norm admission
      // is replicated per width by null-masking the tag (a width admits a
      // pair iff BOTH sliced vectors are nonzero-norm, exactly its
      // per-pass filter). m = 0 tags the full-width truth. The ranked
      // relation is metadata-sized (≤ 4 tags · |Q| · 5 rows), so the
      // checkpoint that lets truth and prefixes read it twice is free.
      val ms = Seq(8, 16, 32)
      def widen(df: DataFrame, vc: String) =
        ms.foldLeft(df) { (d, m) => d.withColumn(s"${vc}_$m", slice(col(vc), 1, m)) }
      val c = widen(e.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("cv")), "cv")
      val q = widen(e.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv")), "qv")
      def tag(m: Long, qv: Column, cv: Column): Column =
        struct(lit(m).as("m"),
          when(SimilarityOps.isNonZero(qv) && SimilarityOps.isNonZero(cv),
            SimilarityOps.cosine(qv, cv)).as("sim"))
      val w = Window.partitionBy(col("m"), col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id"))
      val top = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          explode(filter(array(tag(0L, col("qv"), col("cv")) +:
              ms.map(m => tag(m.toLong, col(s"qv_$m"), col(s"cv_$m"))): _*),
            t => t.getField("sim").isNotNull)).as("t"))
        .select(col("query_id"), col("neighbor_id"),
          col("t.m").as("m"), col("t.sim").as("sim"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select(col("m"), col("query_id"), col("neighbor_id"))
        .localCheckpoint()
      val truth = top.filter(col("m") === 0)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      top.filter(col("m") =!= 0)
        .select(col("m").as("m_dims"), col("query_id"), col("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("m_dims"), col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
        .withColumn("recall_bp", expr("n_hits * 10000 div 5"))
    }),

    // S34 — IVF index-health audit: cell-population balance of the s2
    // coarse quantizer (Faiss's imbalance_factor = k·Σn²/N², the number an
    // index owner checks before blaming recall: a factor of 3 means probes
    // scan 3× the uniform-cell cost). One row: cell count, assigned mass,
    // empties, max/min cell, and the factor in integer basis points —
    // Σn² accumulates in DECIMAL(38,0) (n² overflows a BIGINT once a cell
    // passes ~3e9 vectors; the a28 accumulator-width rule) and the wide
    // decimal FOLDS to a BIGINT via integer division before it can reach
    // the output (the s29 lesson: no raw wide decimal ever leaves a
    // query). Scale shape: the assignment is s2's broadcast-argmax (or the
    // s2b tiered path past broadcast nlist); everything after is one
    // cells-sized exchange + a 1-row aggregate.
    "s34_ivf_balance" -> ((s, dir) => {
      val e = emb(s, dir)
      val centroids = e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val assigned = SimilarityOps.assignToCentroids(e, centroids, "vec_id", "embedding")
      val cells = assigned.groupBy(col("centroid_id")).agg(count(lit(1)).as("n"))
      // eligible = the centroid set the assigner actually used (nonzero norm)
      val eligible = centroids.filter(expr(
          "aggregate(cast(centroid_vec as array<double>), 0D, (a, x) -> a + x * x) > 0"))
        .select(col("centroid_id"))
      eligible.join(cells, Seq("centroid_id"), "left")
        .select(col("centroid_id"), coalesce(col("n"), lit(0L)).as("n"))
        .agg(count(lit(1)).as("k_cells"), sum(col("n")).as("n_vecs"),
          count(when(col("n") === 0, lit(1))).as("n_empty"),
          max(col("n")).as("max_cell"),
          min(when(col("n") > 0, col("n"))).as("min_cell"),
          sum(col("n").cast("decimal(19,0)") * col("n").cast("decimal(19,0)"))
            .as("sum_n2"))
        .select(col("k_cells"), col("n_vecs"), col("n_empty"),
          col("max_cell"), col("min_cell"),
          expr("""(cast(k_cells as decimal(38,0)) * sum_n2 * 10000)
                 div (cast(n_vecs as decimal(38,0)) * n_vecs)""")
            .as("imbalance_bp"))
    }),

    // S2b — the TWO-TIER coarse quantizer under its own exact oracle. The
    // scale story: nlist must grow ~sqrt(N) past broadcast size, so the
    // full centroid set is grouped by broadcast-small top cells and
    // shuffle-joined (SimilarityOps two-tier section). Tiering is
    // APPROXIMATE by construction — a vector's candidates are the
    // centroids of its probeTop nearest top cells — and on this corpus
    // (synthetic near-random embeddings, no cluster structure) the tiered
    // assignment measurably diverges from flat (242/500 vectors at
    // probeTop=2, still 137/500 at probeTop=4, sf0.01), so it CANNOT sit
    // behind the flat-IVF oracle; instead the oracle SQL mirrors the
    // two-tier semantics exactly — routing, candidate pruning, argmax and
    // probe, with identical tie-breaks — making every stage of the tiered
    // path hash-checked rather than luck-checked.
    "s2b_ann_ivf_tiered" -> ((s, dir) => {
      val e = emb(s, dir)
      val (centroids, top) = ivfCentroidSets(e, Adaptive.centroidStride(e.count()))
      val assigned = SimilarityOps.assignToCentroidsTiered(
        e, centroids, top, "vec_id", "embedding", probeTop = 2)
      SimilarityOps.ivfTopKTiered(assigned, centroids, top, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 5, nprobe = 2, probeTop = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    }),

    // D3 — 32-bit SimHash fingerprints (relational form: one md5 per distinct
    // token, 32 bit-count aggregates, majority vote per bit).
    "d3_simhash" -> ((s, dir) => {
      val units = docs(s, dir).select(col("doc_id"),
        explode(DedupOps.distinctTokens(col("text"))).as("t"))
      val h = units.withColumn("h", conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long"))
      val agg = h.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n"),
        (0 until 32).map(b => sum(shiftright(col("h"), b).bitwiseAND(1L)).as(s"s$b")): _*)
      agg.select(col("doc_id"),
        (0 until 32).map(b =>
          when(col(s"s$b") * 2 >= col("n"), lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
    }),

    // D5 — embedding-cosine near-dup pairs, sign-bucket LSH blocked.
    // S4 — the STREAMING IVF index path, oracle-grade: the corpus lands in
    // the cell-partitioned on-disk index across two epoch writes (what the
    // micro-batch writer does per batchId), then search prunes to the probed
    // cells via a static partition filter. Same queries and oracle as the
    // in-memory s2 plan — the index layout must not change a single
    // neighbor.
    "s4_ivf_index_search" -> ((s, dir) => {
      val work = scratch("s4")
      val e = emb(s, dir)
      val centroids = e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val index = new graft.streaming.IvfIndex(s"$work/index", centroids)
      index.writeEpoch(e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", epoch = 0L)
      index.writeEpoch(e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", epoch = 1L)
      // maintenance under the same oracle: per-cell small-file compaction
      // must not change a neighbor
      index.compactCells(s, targetFileBytes = Long.MaxValue)
      index.search(s, e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5, nprobe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    }),

    // S16 — MIPS served from the ON-DISK IVF index: the norm augmentation
    // composes with the persisted index machinery untouched — augment the
    // corpus once at ingest, index the augmented vectors (same epoch
    // writes, same cell partitioning), zero-augment queries at serve time.
    // Same oracle as s12b: storage must not change a neighbor, which
    // together with s4 (disk ≡ memory for cosine) closes the claim that
    // ONE index serves both metrics at 100 TB.
    "s16_mips_index" -> ((s, dir) => {
      val work = scratch("s16")
      val e = emb(s, dir)
      val aug = SimilarityOps.mipsAugmentCorpus(e, "vec_id", "embedding")
      val centroids = aug
        .filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val index = new graft.streaming.IvfIndex(s"$work/index", centroids)
      index.writeEpoch(aug.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", epoch = 0L)
      index.writeEpoch(aug.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", epoch = 1L)
      index.compactCells(s, targetFileBytes = Long.MaxValue)
      val queries = SimilarityOps.mipsAugmentQueries(
        e.filter(col("vec_id") < 5), "vec_id", "embedding")
      index.search(s, queries, "vec_id", "embedding", k = 5, nprobe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    }),

    // S5i — centroid-drift maintenance under oracle: the index built on the
    // stride-0 centroid set is re-assigned against a DIFFERENT same-size
    // set (offset stride/2) in one batch pass; the searched result must
    // equal the oracle's IVF recomputation against the NEW centroids.
    "s5_ivf_reassign" -> ((s, dir) => {
      val work = scratch("s5")
      val e = emb(s, dir)
      val stride = Adaptive.centroidStride(e.count())
      val oldCent = e.filter(col("vec_id") % stride === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val newCent = e.filter(col("vec_id") % stride === stride / 2)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val index = new graft.streaming.IvfIndex(s"$work/index", oldCent)
      index.writeEpoch(e, "vec_id", "embedding", epoch = 0L)
      val reassigned = index.reassign(s, newCent, "vec_id", "embedding")
      reassigned.search(s, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 5, nprobe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    }),

    // D5 — sign-key width grows as ceil(log2 N): a FIXED key width makes
    // same-bucket candidate pairs ~N²/2^bits; constant expected occupancy
    // keeps them linear (the sweep measured 0.4→57.7 s for 10× data at the
    // old fixed 8 bits).
    "d5_embedding_neardup" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.embeddingNearDupPairs(e, "vec_id", "embedding", 0.35,
          Adaptive.signDims(e.count()))
        .select(col("id_a"), col("id_b"), Exact.fmt(col("sim"), 4).as("sim_r"))
    }),

    // D5b — the scale knobs of d5 under oracle: multi-probe (2 rotations of
    // the adaptive sign width) recovers pairs a single bucket rotation
    // misses — the oracle admits a pair if EITHER rotation collides, so the
    // result is a strict superset of d5's and pins the recall/bucket trade.
    "d5b_embedding_multiprobe" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.embeddingNearDupPairs(e, "vec_id", "embedding", 0.35,
          Adaptive.signDims(e.count()), rotations = 2)
        .select(col("id_a"), col("id_b"), Exact.fmt(col("sim"), 4).as("sim_r"))
    }),

    // S13 — approximate k-NN GRAPH (every vector's top-4 same-bucket
    // neighbors): the all-nodes generalization of per-query ANN and the
    // input structure of graph-based dedup/clustering. Each undirected
    // candidate pair scored once, serving both endpoints; per-node top-k
    // over candidates only — never N².
    "s13_knn_graph" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.knnGraph(e, "vec_id", "embedding", k = 4,
          Adaptive.signDims(e.count()))
        .select(col("id").as("vec_id"), col("rank"), col("nbr_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    }),

    // D10 — LSH candidate recall/precision against EXACT shingle-Jaccard
    // truth on a bounded subset (doc_id < 500): the eval loop for the text-
    // dedup path, the analog of s6/s14 for MinHash banding. Truth via the
    // shingle-join intersection counts (never an all-pairs array compare);
    // the ≥ 0.5 membership decided by exact integers (2·|∩| ≥ |∪|).
    // Banding is per-doc independent, so candidates-on-subset ≡ subset-
    // filtered candidates — the oracle exploits exactly that.
    "d10_lsh_recall" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 500)
      val tok = d.select(col("doc_id"),
        explode(array_distinct(DedupOps.shingles(col("text"), 3))).as("t"))
      val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("ns"))
      val tx = tok.select(col("t"), col("doc_id").as("id_a"))
      val ty = tok.select(col("t"), col("doc_id").as("id_b"))
      val inter = tx.join(ty, "t").filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("ni"))
      val truth = inter
        .join(sizes.select(col("doc_id").as("id_a"), col("ns").as("na")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("ns").as("nb")), "id_b")
        .filter(col("ni") * 2 >= col("na") + col("nb") - col("ni"))
        .select(col("id_a"), col("id_b"))
      val cand = DedupOps.lshCandidatePairs(d, "doc_id", "text", 16, 4)
        .select(col("id_a"), col("id_b"))
      val hits = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
      truth.agg(count(lit(1)).as("n_true"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
        .select(col("n_true"), col("n_cand"), col("n_hits"),
          expr("CASE WHEN n_true = 0 THEN NULL ELSE n_hits * 10000 div n_true END")
            .as("recall_bp"),
          expr("CASE WHEN n_cand = 0 THEN NULL ELSE n_hits * 10000 div n_cand END")
            .as("precision_bp"))
    }),

    // D19 — bucket-cap recall AUDIT for the d2-family's degenerate-corpus
    // guard: pairsFromSignatures drops over-cap band buckets (logged,
    // never silent) and this query makes the recall cost of that drop a
    // MEASURED number instead of a hope. Corpus = a bounded real slice
    // (doc_id < 200) plus a synthesized degenerate block — 300 verbatim
    // clones of doc 0 (ids 10000+...), exactly the all-bands-collide shape
    // the cap exists for. Swept at caps {100, 400, 1600}: at 100 the
    // 301-doc clone buckets are over cap in EVERY band, so every clone
    // pair is lost to LSH (the guard's documented worst case — the case
    // exact dedup is supposed to own); at 400/1600 they survive. Recall /
    // precision per cap against exact shingle-Jaccard truth, integer basis
    // points end to end. The audit corpus is bounded by construction; the
    // full-corpus sweep of the same shape at sf0.1 / ScaleGen-10× lives in
    // docs/PLANS.md (round 13).
    "d19_cap_recall" -> ((s, dir) => {
      val d0 = docs(s, dir)
      val base = d0.filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val clones = s.range(1, 301)
        .crossJoin(broadcast(
          d0.filter(col("doc_id") === 0).select(col("text"))))
        .select((col("id") + 10000L).as("doc_id"), col("text"))
      val corpus = base.unionByName(clones)
      val tok = corpus.select(col("doc_id"),
        explode(array_distinct(DedupOps.shingles(col("text"), 3))).as("t"))
      val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("ns"))
      val inter = tok.select(col("t"), col("doc_id").as("id_a"))
        .join(tok.select(col("t"), col("doc_id").as("id_b")), "t")
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("ni"))
      val truth = inter
        .join(sizes.select(col("doc_id").as("id_a"), col("ns").as("na")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("ns").as("nb")), "id_b")
        .filter(col("ni") * 2 >= col("na") + col("nb") - col("ni"))
        .select(col("id_a"), col("id_b"))
      // r14 opt (guide §2.4 — VERDICT r13 item 2, d19 was 82 stage-jobs):
      // the three-cap sweep used to run pairsFromSignatures (a full banded
      // self-join + distinct + bucket-guard anti-join) once PER cap. A pair
      // survives cap C iff it collides in SOME band whose bucket size is
      // ≤ C, so min-over-colliding-bands of the bucket size is a sufficient
      // statistic for EVERY cap at once: one banded self-join (shuffling
      // only (band, band_sig, id) — the unused sig arrays no longer cross),
      // one (id_a, id_b) rollup, one full-outer tag against truth, one
      // 1-row aggregate fanned back out to the 3 cap rows. Survival-set
      // equality with the per-cap anti-join form is exact (min ≤ C ⟺ some
      // colliding bucket ≤ C), so the oracle rows are unchanged. The old
      // DISK_ONLY persists on truth/sig go with it — each relation is now
      // referenced exactly once.
      val banded = DedupOps.bandedSignatures(
          DedupOps.signatures(corpus, "doc_id", "text", 16, 3), 16, 4)
        .select(col("band"), col("band_sig"), col("id"))
      val bn = banded.groupBy(col("band"), col("band_sig"))
        .agg(count(lit(1)).as("bn"))
      val a = banded.join(bn, Seq("band", "band_sig"))
        .select(col("band"), col("band_sig"), col("bn"), col("id").as("id_a"))
      val b = banded.select(col("band"), col("band_sig"), col("id").as("id_b"))
      val pairMin = a.join(b, Seq("band", "band_sig"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(min(col("bn")).as("mb"))
      val caps = Seq(100L, 400L, 1600L)
      val aggExprs = count(col("is_true")).as("n_true") +:
        caps.flatMap(c => Seq(
          count(when(col("mb") <= c, 1)).as(s"nc$c"),
          count(when(col("is_true").isNotNull && col("mb") <= c, 1))
            .as(s"nh$c")))
      val counts = truth.withColumn("is_true", lit(1))
        .join(pairMin, Seq("id_a", "id_b"), "full_outer")
        .agg(aggExprs.head, aggExprs.tail: _*)
      counts.select(explode(array(caps.map(c =>
          struct(lit(c).as("cap"), col("n_true"),
            col(s"nc$c").as("n_cand"), col(s"nh$c").as("n_hits"))): _*)).as("r"))
        .select(col("r.cap").as("cap"), col("r.n_true").as("n_true"),
          col("r.n_cand").as("n_cand"), col("r.n_hits").as("n_hits"),
          expr("CASE WHEN r.n_true = 0 THEN NULL ELSE r.n_hits * 10000 div r.n_true END")
            .as("recall_bp"),
          expr("CASE WHEN r.n_cand = 0 THEN NULL ELSE r.n_hits * 10000 div r.n_cand END")
            .as("precision_bp"))
    }),

    // D20 — chunk-level dedup with FIRST-occurrence keep (the RefinedWeb/
    // FineWeb line-dedup semantics: one copy of every boilerplate line
    // survives, at its globally first position — d8 scrubs ALL copies, this
    // keeps exactly one). 8-token chunks stand in for lines on the
    // newline-free synthetic docs. One exchange keyed on the chunk text
    // (window min — the t24 first-occurrence idiom), one doc-id rollup; the
    // rebuilt text ships as its md5 so the compare stays fixed-width.
    "d20_chunk_dedup_first" -> ((s, dir) =>
      DedupOps.chunkDedupFirst(docs(s, dir), "doc_id", "text", 8)
        .select(col("id").as("doc_id"), col("n_chunks"), col("n_kept"),
          md5(col("rebuilt")).as("dedup_fp"))),

    // D21 — Bloom-filter incremental chunk dedup (the Dolma BFF recipe):
    // the 1-in-5 fresh batch (the t27 held-out convention) tested against
    // a filter populated by the other four fifths. The filter ships as its
    // set-bit relation (≤ 2¹⁶ rows, broadcast, constant in history size);
    // the exact containment column rides along so FP behavior is pinned
    // per doc, not hoped. See DedupOps.bloomChunkDedup for the scale shape.
    "d21_bloom_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      DedupOps.bloomChunkDedup(
          d.filter(pmod(col("doc_id"), lit(5)) =!= 0),
          d.filter(pmod(col("doc_id"), lit(5)) === 0),
          "doc_id", "text", chunkTokens = 8, kHashes = 3)
        .select(col("id").as("doc_id"), col("n_chunks"), col("n_hits"),
          col("n_true_hits"), col("dropped"))
    }),

    // D22 — maximal duplicated-REGION statistics (the ExactSubstr report,
    // Lee et al. 2022): per doc, cross-doc duplicate 8-gram covers merged
    // into MAXIMAL token runs — span count, duplicated mass, longest run.
    // d7 counts duplicated grams and d8 deletes their cover; the span
    // SHAPE (one quoted block vs boilerplate confetti) is the curation
    // signal neither reports. Relational islands idiom: two window frames
    // over one (id | st, en) sort, partitions bounded by per-doc gram
    // counts. See DedupOps.dupSpans.
    "d22_dup_spans" -> ((s, dir) =>
      DedupOps.dupSpans(docs(s, dir), "doc_id", "text", gramSize = 8, minDocs = 2)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_spans"),
          col("dup_tokens"), col("longest_span"), col("dup_bp"))),

    // T24 — cross-doc n-gram NOVELTY: per doc, the fraction (basis points)
    // of its distinct 3-word shingles whose GLOBAL first occurrence (min
    // doc_id over the corpus) is the doc itself — the memorization /
    // template-reuse curation signal (a doc whose shingles all appeared
    // earlier is boilerplate; a high-novelty doc carries new text). One
    // window min over the shared shingle relation (first-occurrence idiom:
    // no self-join, ONE exchange on the shingle + one on doc_id), integer
    // basis points end to end. At 100 TB the shingle relation is the same
    // one d2/d11 already shuffle; novelty adds no wider exchange.
    "t24_ngram_novelty" -> ((s, dir) => {
      // r13 opt (guide §2.3): a shingle is novel for exactly ONE doc — the
      // min-doc_id owner — so n_novel(doc) = |{t : min_doc(t) = doc}|. The
      // former window min sorted the ENTIRE shingle relation inside each
      // t-partition and shipped every (doc, t, first_doc) row onward; this
      // form is two map-side-combinable aggregations (min per shingle, then
      // a doc-keyed count of the owners) plus the per-doc shingle census —
      // no sort, no wide join-back, identical integers.
      val tok = fanOut(docs(s, dir), col("doc_id")).select(col("doc_id"),
        explode(array_distinct(DedupOps.shingles(col("text"), 3))).as("t"))
      val census = tok.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"))
      val novel = tok.groupBy(col("t")).agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
      census.join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        .withColumn("novelty_bp", expr("n_novel * 10000 div n_shingles"))
    }),

    // T25 — HTML STRIP round trip: the web-scrape → plain-text cleaning
    // stage every pretraining corpus starts with. The synthetic docs carry
    // no markup, so the gate renders each doc into a deterministic HTML
    // page first (title/h1 chrome from its metadata, entity-encoded body:
    // every 7th doc's spaces become &nbsp;, every 'table' token becomes
    // &lt;table&gt;) — the m*-gate pattern of synthesizing the fixture
    // from the table so the DECODER is what's under test. The page treats
    // each 'table' token as the markup-looking string '<table>' in the
    // author's plain text, so the renderer must entity-escape it
    // (&lt;table&gt;) and the stripper must give the literal back — the
    // escape/strip interaction that naive strip-then-decode pipelines get
    // wrong. Strip = one tag-removal regex (no lookaround: Spark compiles
    // Java regex, DuckDB RE2 — the gate pins the shared dialect), then
    // entity decode (&nbsp; first; it contains no sub-entities). n_ok =
    // n_docs proves byte-exact inversion on every doc against the
    // independently-built expected text. Pure per-row codegen'd
    // expressions — scan-bandwidth bound at 100 TB, no shuffle except the
    // final 1-row agg.
    "t25_html_strip" -> ((s, dir) => {
      val body = when(pmod(col("doc_id"), lit(7)) === 0,
          regexp_replace(col("text"), " ", "&nbsp;"))
        .otherwise(col("text"))
      val ent = regexp_replace(body, "table", "&lt;table&gt;")
      val rendered = concat(
        lit("<!DOCTYPE html><html><head><title>"), col("source"),
        lit("</title></head><body><h1 class=\"t\">"), col("lang"),
        lit("</h1><p id=\"d"), col("doc_id").cast("string"), lit("\">"),
        ent, lit("</p><br/></body></html>"))
      val unTagged = regexp_replace(rendered, "<[^>]*>", "")
      val decoded = regexp_replace(regexp_replace(regexp_replace(
        unTagged, "&nbsp;", " "), "&lt;", "<"), "&gt;", ">")
      docs(s, dir)
        .select(col("doc_id"), rendered.as("rendered"),
          decoded.as("recovered"), concat(col("source"), col("lang"),
            regexp_replace(col("text"), "table", "<table>")).as("expected"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("recovered") === col("expected"), 1L).otherwise(0L))
            .as("n_ok"),
          sum(length(col("rendered"))).as("raw_chars"),
          sum(length(col("recovered"))).as("clean_chars"))
    }),

    // X11 — stratified sample of EXACTLY 200 docs with largest-remainder
    // (Hamilton) allocation across langs: quotas ⌊200·N_s/N⌋ + one seat
    // for the largest remainders so Σ quotas = 200 EXACTLY (the property
    // per-stratum proportional rounding loses, and the one eval-set
    // builders need); within a stratum the quota fills in salted-hash
    // order — reproducible shuffle, integer decisions end to end. Quota
    // table is strata-sized metadata broadcast back; the fill compiles to
    // WindowGroupLimit-bounded per-stratum rank.
    "x11_stratified_sample" -> ((s, dir) =>
      graft.ops.Sampling.stratifiedExact(docs(s, dir), col("doc_id"), col("lang"),
          total = 200)
        .select(col("stratum").as("lang"), col("key").as("doc_id"),
          col("pick_rank"))),

    // X13 — √-temperature language rebalancing (quota ∝ √n_lang): the
    // multilingual mixture sampler between x11's proportional allocation
    // and a uniform one. α = 1/2 because sqrt is correctly rounded
    // (pow(·,0.7) is libm-ULP-exposed); weights floor onto the 1e10 grid
    // and every downstream seat count is integer largest-remainder — see
    // ops/Sampling.temperatureExact. n_s and quota ride along so the gate
    // pins the allocation itself, not just membership.
    "x13_temperature_mix" -> ((s, dir) =>
      graft.ops.Sampling.temperatureExact(docs(s, dir), col("doc_id"), col("lang"),
          total = 200)
        .select(col("stratum").as("lang"), col("key").as("doc_id"),
          col("pick_rank"), col("n_s"), col("quota"))),

    // X14 — LEAKAGE-FREE train/test split: the fix for what x12 audits.
    // x12 shows a doc-keyed hash split leaks near-dup pairs across splits;
    // the cure is to split at the near-dup-CLUSTER level — every doc in a
    // connected component follows its component's hash, so no candidate
    // pair can ever straddle train/test (both endpoints share a gid by
    // construction). gid = component label (min doc_id) for clustered
    // docs, own doc_id for singletons — one shared namespace, one salted
    // hash ladder over it. Output is the per-split composition (docs,
    // groups, largest group): the stats a dataset card reports. Scale: the
    // component labeling is d6's (bucketed LSH + O(log n) propagation);
    // the split itself adds one narrow left join + one hash — nothing
    // beyond what d6 already shuffles.
    "x14_cluster_split" -> ((s, dir) => {
      val d = docs(s, dir)
      val sigs = DedupOps.signatures(d, "doc_id", "text", 16)
      val pairs = DedupOps.pairsFromSignatures(sigs, 16, 4)
        .filter(col("est_jaccard") >= 0.5)
      val labeled = DedupOps.connectedComponents(pairs)
      val grp = d.select(col("doc_id"))
        .join(labeled.select(col("id").as("doc_id"), col("cluster_id")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("gid"))
      val assigned = graft.ops.Sampling.hashSplit(grp, col("gid"),
        SparkEntry.splitFractions, salt = "csplit")
      assigned.groupBy(col("split"), col("gid"))
        .agg(count(lit(1)).as("gsz"))
        .groupBy(col("split"))
        .agg(sum(col("gsz")).as("n_docs"), count(lit(1)).as("n_groups"),
          max(col("gsz")).as("max_group"))
    }),

    // P12 — CSV round-trip ingest: the aggregate written as header-CSV and
    // read back under an EXPLICIT schema — the reference's own batch IO
    // boundary (Athena serves query results as CSV into preprocess,
    // ref: pipelines/blockchain/preprocess.py:77-87; evaluate.py:52-58
    // reads the targets CSV the same way). The gate is lossless typed
    // re-parse: Spark writes doubles in shortest round-trip form, so the
    // re-read relation must hash-match the directly-computed aggregate —
    // the oracle is exactly a1's, never seeing the CSV.
    "p12_csv_roundtrip" -> ((s, dir) => {
      val work = scratch("p12csv")
      MinuteAggregate(ev(s, dir), "ts", "value")
        .write.mode("overwrite").option("header", "true").csv(s"$work/csv")
      s.read
        .schema("tx_minute STRING, total_nb_trx_1min BIGINT, " +
          "total_fee_1min DOUBLE, avg_fee_1min DOUBLE")
        .option("header", "true")
        .csv(s"$work/csv")
    }),

    // P18 — fixed-width (columnar-text) ingest: the mainframe/legacy-feed
    // format beside CSV (p12), ORC (p14), XML (p16), JSON (p15) — no
    // delimiters, widths ARE the schema. Write renders padded lines
    // (format_string) with a raise_error guard on over-width values (a
    // silent truncation would corrupt the NEXT column — fail the write,
    // not the reader); read slices by position + trim + cast under the
    // same width contract. Integer-only payload so the round trip is
    // exact; the oracle is the plain aggregate, blind to the text hop.
    "p18_fixed_width" -> ((s, dir) => {
      val work = scratch("p18fw")
      val guarded = when(length(col("event_type")) > 8,
          raise_error(concat(lit("fixed-width overflow: "), col("event_type"))))
        .otherwise(col("event_type"))
      ev(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(format_string("%-10s%-8s%12d", col("day"), guarded, col("n"))
          .as("value"))
        .write.mode("overwrite").text(s"$work/fw")
      s.read.text(s"$work/fw").select(
        trim(substring(col("value"), 1, 10)).as("day"),
        trim(substring(col("value"), 11, 8)).as("event_type"),
        substring(col("value"), 19, 12).cast("long").as("n"))
    }),

    // P19 — multiLine JSON ARRAY ingest: the API-dump shape (one document,
    // `[ {...}, {...} ]`) that line-delimited JSON readers (p13/p15's
    // path) cannot parse — Spark's multiLine mode reads the whole file as
    // one document and explodes the array. The fixture is BUILT driver-
    // side by necessity (a JSON array is a single document with one
    // writer; the 150-row aggregate is metadata-sized), with rows
    // deliberately pretty-printed across lines so a line-oriented reader
    // would see garbage. Oracle = the plain aggregate, blind to the hop.
    "p19_multiline_json" -> ((s, dir) => {
      import s.implicits._
      val work = scratch("p19ml")
      val rows = ev(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(to_json(struct(col("day"), col("event_type"), col("n"))))
        .as[String].collect().sorted
      val doc = rows.map(r => "  " + r.replace(",", ",\n   "))
        .mkString("[\n", ",\n", "\n]\n")
      val p = java.nio.file.Paths.get(s"$work/arr")
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.writeString(p.resolve("dump.json"), doc)
      s.read.option("multiLine", "true")
        .schema("day STRING, event_type STRING, n BIGINT")
        .json(p.toString)
    }),

    // O33 — DYNAMIC partition overwrite: the backfill-correction surface
    // (INSERT OVERWRITE of one day) on a day-partitioned table. Static
    // overwrite mode would TRUNCATE THE WHOLE TABLE on the second write —
    // the classic backfill footgun — dynamic replaces exactly the
    // partitions present in the incoming frame. The replay: full
    // per-day/type aggregate lands, then day d0+5 is re-landed with a
    // correction (event_id ≡ 0 mod 10 excluded); the read-back must show
    // the corrected day AND the untouched others — the oracle recomputes
    // with the per-day predicate. Conf override is scoped and restored.
    "o33_dynamic_overwrite" -> ((s, dir) => {
      val work = scratch("o33dp")
      val e = ev(s, dir)
        .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      val d0 = e.agg(min(col("day"))).head().getLong(0)
      def agg(df: DataFrame) = df.groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), Exact.sumD(col("value"), 2).as("sum_value"))
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "dynamic")
      try {
        agg(e).write.mode("overwrite").partitionBy("day").parquet(s"$work/t")
        agg(e.filter(col("day") === d0 + 5 && col("event_id") % 10 =!= 0))
          .write.mode("overwrite").partitionBy("day").parquet(s"$work/t")
      } finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
      s.read.parquet(s"$work/t")
        .select(col("day").cast("long").as("day"), col("event_type"),
          col("n"), col("sum_value"))
    }),

    // D12 — sorted-neighborhood near-dup (SortingLSH): the third candidate
    // geometry next to d2's banding and d11's prefix filtering — sort by
    // (simhash, id), compare each doc with its next 4 successors, keep
    // hamming ≤ 3. Candidate volume is EXACTLY 4n by construction (immune
    // to bucket skew; stated recall trade for pairs far apart in the sort
    // order). Global rank via the two-pass ranged rank, successor pairing
    // as a position equi-join. All-integer.
    "d12_sorted_neardup" -> ((s, dir) =>
      DedupOps.sortedNearDup(docs(s, dir), "doc_id", "text",
          window = 4, maxHamming = 3)),

    // D13 — bounded EDIT-DISTANCE near-dup (the fourth candidate geometry:
    // deterministic length-band blocking + thresholded Levenshtein over a
    // fixed prefix). Character-level edits are what the hash families
    // can't see: minhash/simhash score token-bag overlap, so a doc whose
    // mutation is a handful of in-word character edits (OCR noise, scrape
    // mojibake) scores near-identical there and invisible here — and vice
    // versa. Same-band + adjacent-band equi-joins enumerate exactly the
    // |lenA−lenB| ≤ 4 predicate join without any non-equi exchange; the
    // oracle IS that predicate join (DuckDB's un-thresholded levenshtein
    // filtered to the same bound — equal because Spark's thresholded form
    // returns the true distance whenever it's within bound).
    // Engine side runs the SEGMENTED (PassJoin) blocking — content-keyed
    // candidates stay linear where the length-band geometry measured 61×
    // work at 100× data (blocks = the length histogram). The oracle is the
    // raw predicate join either way: blocking is recall-lossless by the
    // pigeonhole argument in [[DedupOps.editDistancePairsSegmented]].
    "d13_edit_distance" -> ((s, dir) =>
      DedupOps.editDistancePairsSegmented(docs(s, dir), "doc_id", "text",
          langCol = "lang", lenCol = "n_chars",
          prefixLen = 192, maxDist = 5, lenSlack = 4)),

    // D14 — typo/variant candidate mining with a NATIVE Jaro-Winkler
    // expression ([[graft.expressions.JaroWinkler]], codegen'd): Spark has
    // no builtin, DuckDB does (`jaro_winkler_similarity`) — so the oracle
    // checks the expression's exact semantics (match window, transposition
    // halving, 0.7 boost threshold, prefix cap 4) against an independent
    // implementation, pair by pair. Self-join runs over the DISTINCT
    // vocabulary (Heaps-law sublinear), blocked on leading char. Score
    // rounded to 4 dp on both sides: the two engines compute the same
    // formula in double precision with possibly different operation order,
    // so the last-ulp is not contractual — threshold 0.55 sits in a gap of
    // the score distribution (nearest values 0.528/0.578), never at a
    // rounding boundary.
    "d14_jaro_winkler" -> ((s, dir) =>
      TextOps.typoCandidates(docs(s, dir), "text", minJw = 0.55, maxLenDiff = 2)
        .select(col("term_a"), col("term_b"),
          round(col("jw"), 4).as("jw_r"))),

    // P14 — ORC round-trip ingest: p12's format gate for the second
    // columnar format Spark ships natively. ORC is typed (unlike CSV's
    // text hop) so the gate pins the format bridge itself — logical types,
    // nullability, column order — rather than parse fidelity; the oracle
    // is again a1's, blind to the hop.
    "p14_orc_roundtrip" -> ((s, dir) => {
      val work = scratch("p14orc")
      MinuteAggregate(ev(s, dir), "ts", "value")
        .write.mode("overwrite").orc(s"$work/orc")
      s.read.orc(s"$work/orc")
    }),

    // P16 — XML round-trip ingest: the third text-format gate (CSV p12,
    // JSON p15). Spark 4 ships the XML data source natively; the gate pins
    // element-per-row encode/decode with an explicit schema (schema
    // inference over 100 TB of XML would be its own full scan) and Java's
    // shortest-round-trip double rendering through the text hop. Oracle is
    // a1's, blind to the hop.
    "p16_xml_roundtrip" -> ((s, dir) => {
      val work = scratch("p16xml")
      MinuteAggregate(ev(s, dir), "ts", "value")
        .write.mode("overwrite").option("rowTag", "minute")
        .format("xml").save(s"$work/xml")
      s.read
        .schema("tx_minute STRING, total_nb_trx_1min BIGINT, " +
          "total_fee_1min DOUBLE, avg_fee_1min DOUBLE")
        .option("rowTag", "minute")
        .format("xml").load(s"$work/xml")
    }),

    // P17 — parquet schema EVOLUTION: a table whose later batches grew a
    // column, read back with mergeSchema — early files surface the new
    // column as NULL (never a default, never an error). The contract every
    // long-lived 100 TB table depends on (the keyed store already
    // mergeSchema-reads for its tombstone flag; this gates the ingestion
    // surface directly). mergeSchema's cost is footer-reads per file — at
    // scale you bound it by partition-dir, not by skipping it and
    // resurrecting the o31 bug. The census aggregate pins both the NULL
    // fill and that the new column's values survive per-batch.
    "p17_schema_merge" -> ((s, dir) => {
      val work = scratch("p17sm")
      val e = ev(s, dir)
      val dom = dayofmonth(col("ts"))
      e.filter(dom <= 15).select(col("event_id"), col("event_type"))
        .write.mode("overwrite").parquet(s"$work/t/batch=1")
      e.filter(dom > 15).select(col("event_id"), col("event_type"), col("value"))
        .write.mode("overwrite").parquet(s"$work/t/batch=2")
      s.read.option("mergeSchema", "true").parquet(s"$work/t")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("value")).as("n_with_value"),
          Exact.sumD(col("value"), 4).as("sum_value"))
    }),

    // P15 — PERMISSIVE JSON ingest with corrupt-record ACCOUNTING (p1
    // parses the happy path; real scraped feeds carry truncated payloads
    // and the pipeline must count, not crash): every event_id ≡ 0 (mod 7)
    // props is truncated by one char (always drops the closing brace →
    // unparseable), from_json maps malformed to null — the engine-side
    // equivalent of the reference's tolerate-and-type-on-read ingestion —
    // and the gate pins the per-type malformed census plus the sum over
    // surviving payloads. Oracle replays the truncation and gates
    // validity with DuckDB's json_valid. Row-local: no shuffle beyond the
    // final narrow census aggregate.
    "p15_json_permissive" -> ((s, dir) => {
      val raw = when(col("event_id") % 7 === 0,
        expr("substring(props, 1, length(props) - 1)")).otherwise(col("props"))
      ev(s, dir).select(col("event_type"), raw.as("raw"))
        .withColumn("k",
          from_json(col("raw"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("k").isNull, 1)).as("n_malformed"),
          sum(col("k")).as("sum_k_valid"))
    }),

    // D11 — EXACT set-similarity join via prefix filtering (PPJoin
    // family): every pair with shingle-Jaccard ≥ 0.8, FULL recall — the
    // exact counterpart of the LSH candidate path (d2/d4 trade recall for
    // volume; d10 measures that loss, this eliminates it). Under the
    // global (df, token) order two τ-similar sets must share a token in
    // their first n − ⌈τn⌉ + 1, and rare-token-first ordering keeps every
    // prefix posting list short — candidates collapse from "share ANY
    // token" (11 533 pairs at sf0.01) to "share a RARE token". Thresholds
    // all integer (⌈τn⌉ = (8n+9) div 10; verify 10·|∩| ≥ 8·|∪|) — the
    // pair set is bit-identical on any engine, no doubles anywhere.
    "d11_setsim_join" -> ((s, dir) =>
      // fanOut: the cached shingle relation inherits the scan's ONE local
      // partition, so all four PPJoin subtrees — including both broadcast
      // verification joins and their |set|-wide expansion — ran single-task
      DedupOps.setSimJoinExact(fanOut(docs(s, dir), col("doc_id")),
          "doc_id", "text",
          shingleSize = 3, tauNum = 8, tauDen = 10)
        .select(col("id_a"), col("id_b"), col("na"), col("nb"), col("ni"),
          col("j_bp"))),

    // P11 — corrupt-record-tolerant JSON ingest: every 13th rendered event
    // line is deterministically corrupted AT THE FRONT (a doubled opening
    // brace fails the parse before any token — end-truncation would let
    // Jackson salvage leading fields, making "which fields leak" parser-
    // version-dependent), then read back under PERMISSIVE mode with an
    // explicit corrupt-record column — malformed lines must land whole in
    // the quarantine column with every data field null, never abort the
    // read and never contaminate the aggregate. The reference parses its
    // envelopes defensively for the same reason
    // (ref: resources/lambdas/stream_processing/main.py:31-46); the oracle
    // recomputes the expected good/corrupt split relationally from events,
    // so a PERMISSIVE regression (dropped rows, partial parses) mismatches.
    "p11_corrupt_ingest" -> ((s, dir) => {
      val work = scratch("p11")
      ev(s, dir)
        .select(to_json(struct(col("event_id"), col("value"))).as("line"),
          col("event_id"))
        .select(when(pmod(col("event_id"), lit(13)) === 0,
            concat(lit("{"), col("line")))
          .otherwise(col("line")).as("value"))
        .write.mode("overwrite").text(s"$work/data")
      val parsed = s.read
        .schema("event_id LONG, value DOUBLE, _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(s"$work/data")
      parsed.agg(
        count(when(col("_corrupt").isNull, lit(1))).as("n_good"),
        count(col("_corrupt")).as("n_corrupt"),
        count(when(col("_corrupt").isNotNull && col("value").isNotNull, lit(1)))
          .as("n_partial_leak"),
        Exact.fmt(sum(when(col("_corrupt").isNull, col("value"))
          .cast("decimal(30,4)")).cast("double"), 4).as("sum_good_r"))
    }),

    // O26 — bounded top-k AGGREGATE (custom Catalyst DeclarativeAggregate,
    // [[graft.expressions.TopKDoubles]]): per-user top-3 values with a
    // ≤ k-element aggregation buffer on both the partial and final side —
    // the hot-key-safe, streaming-state-safe form of what
    // collect_list+sort+slice does with group-sized buffers; o9 is the
    // window form, this is the aggregate form. Values render at %.2f (the
    // generator emits 2-decimal values — no format midpoints exist).
    "o26_topk_agg" -> ((s, dir) =>
      ev(s, dir).groupBy(col("user_id"))
        .agg(graft.expressions.TopKAggregate.topkVals(col("value"), 3).as("tv"))
        .select(col("user_id"),
          concat_ws(",", transform(col("tv"),
            v => format_string("%.2f", v))).as("top3"))),

    // G1 — PageRank over the s13 k-NN graph (3 damped iterations): the
    // centrality signal a curation pipeline uses to surface representative
    // documents (and, inverted, isolated outliers) — the second iterative
    // graph family beside d6's connected components. Each per-edge
    // contribution is FLOORED onto an exact 1e-10 integer grid before the
    // integer sum (a double→DECIMAL cast rounds ties engine-specifically —
    // observed 1-unit divergence vs DuckDB; floor is engine-identical);
    // ranks ship as floored 1e-12 integer units, never a formatted double
    // (the mon6 midpoint lesson). Dangling nodes drop their mass — stated.
    // G11 — deterministic maximal-independent-set rounds (Luby with
    // content-derived priorities) over the k-NN similarity graph: the
    // conflict-free CANONICAL KEEP-SET — a maximal set of items no two of
    // which are neighbors (near-dups), decided in parallel rounds, seed-
    // stable because priorities are md5(id)‖len‖id (unique by construction,
    // never tie-luck). Four rounds, kCoreRounds' fixed-round contract;
    // selected∥removed∥still-active all emitted so maximality progress is
    // auditable.
    "g11_mis_canon" -> ((s, dir) => {
      val e = emb(s, dir)
      val nodes = e.select(col("vec_id"), col("embedding").cast("array<double>").as("__v"))
        .filter(SimilarityOps.isNonZero(col("__v")))
      val edges = SimilarityOps.knnGraph(e, "vec_id", "embedding", k = 4,
          Adaptive.signDims(e.count()))
        .select(col("id").as("src"), col("nbr_id").as("dst"))
      graft.ops.GraphOps.misRounds(nodes, edges, "vec_id", "src", "dst",
          rounds = 4)
        .select(col("id").as("vec_id"), col("state"), col("rnd"))
    }),

    // G10 — PERSONALIZED PageRank over the k-NN graph: teleport mass
    // returns only to the g6 seed set (vec_id ≡ 0 mod 10), so scores are
    // seed-relative reachability — the "expand from the labeled good set"
    // curation primitive — not global centrality. Same e10-quantized
    // contribution contract as g1 (order-independent per-target sums, one
    // mirrored double step per iteration); seed membership broadcasts.
    "g10_ppr" -> ((s, dir) => {
      val e = emb(s, dir)
      val nodes = e.select(col("vec_id"), col("embedding").cast("array<double>").as("__v"))
        .filter(SimilarityOps.isNonZero(col("__v")))
      val edges = SimilarityOps.knnGraph(e, "vec_id", "embedding", k = 4,
          Adaptive.signDims(e.count()))
        .select(col("id").as("src"), col("nbr_id").as("dst"))
      val seeds = e.filter(col("vec_id") % 10 === 0).select(col("vec_id"))
      graft.ops.GraphOps.personalizedPageRank(
          nodes, edges, "vec_id", "src", "dst", seeds, iters = 3)
        .select(col("id").as("vec_id"),
          floor(col("pr") * lit(1e12)).cast("long").as("ppr_e12"))
    }),

    "g1_pagerank" -> ((s, dir) => {
      val e = emb(s, dir)
      val nodes = e.select(col("vec_id"), col("embedding").cast("array<double>").as("__v"))
        .filter(SimilarityOps.isNonZero(col("__v")))
      val edges = SimilarityOps.knnGraph(e, "vec_id", "embedding", k = 4,
          Adaptive.signDims(e.count()))
        .select(col("id").as("src"), col("nbr_id").as("dst"))
      graft.ops.GraphOps.pageRank(nodes, edges, "vec_id", "src", "dst", iters = 3)
        .select(col("id").as("vec_id"),
          floor(col("pr") * lit(1e12)).cast("long").as("pr_e12"),
          col("out_deg"), col("in_deg"))
    }),

    // G2 — triangle counting + local clustering coefficient over the same
    // k-NN graph (undirected closure): the community-density signal beside
    // g1's centrality. Degree-ordered orientation (each triangle counted
    // exactly once at its (deg,id)-minimal vertex; oriented out-degree is
    // O(√m) for ANY degree distribution, so the wedge relation never
    // explodes at a hub — the 100 TB-safe form of wedge counting). Output
    // is all-integer (counts + basis-point coefficient by integer
    // division) — no doubles, nothing to format.
    "g2_triangles" -> ((s, dir) => {
      val e = emb(s, dir)
      val nodes = e.select(col("vec_id"),
          col("embedding").cast("array<double>").as("__v"))
        .filter(SimilarityOps.isNonZero(col("__v")))
      val edges = SimilarityOps.knnGraph(e, "vec_id", "embedding", k = 4,
          Adaptive.signDims(e.count()))
        .select(col("id").as("src"), col("nbr_id").as("dst"))
      graft.ops.GraphOps.triangleStats(nodes, edges, "vec_id", "src", "dst")
        .select(col("id").as("vec_id"), col("deg"), col("tri"), col("cc_bp"))
    }),

    // G3 — bounded k-core peeling (3 rounds, k=3) over the k-NN graph: the
    // density ladder beside g2's local coefficient — survivors of late
    // rounds sit in genuinely dense similarity regions (a node propped up
    // only by soon-to-be-peeled neighbors drops next round). Bounded
    // rounds are the deterministic, oracle-unrollable form (the g1
    // fixed-iteration contract); per round two semi joins + one narrow
    // degree aggregation, nothing broadcast. All-integer output.
    "g3_kcore" -> ((s, dir) => {
      val e = emb(s, dir)
      val nodes = e.select(col("vec_id"),
          col("embedding").cast("array<double>").as("__v"))
        .filter(SimilarityOps.isNonZero(col("__v")))
      val edges = SimilarityOps.knnGraph(e, "vec_id", "embedding", k = 4,
          Adaptive.signDims(e.count()))
        .select(col("id").as("src"), col("nbr_id").as("dst"))
      graft.ops.GraphOps.kCoreRounds(nodes, edges, "vec_id", "src", "dst",
          k = 3, rounds = 3)
        .select(col("id").as("vec_id"), col("deg"), col("rounds_survived"),
          col("in_core"))
    }),

    // G4 — bounded multi-source BFS (4 hops) from a deterministic seed set
    // (vec_id ≡ 0 mod 97) over the k-NN graph: seed-expansion distance as
    // a propagation-based quality prior. Per round only the FRONTIER joins
    // the edge relation (plus one anti join against the settled set) — the
    // moving set is what shuffles, not the graph. Integer distances, −1
    // beyond the horizon (the g1/g3 fixed-iteration contract).
    "g4_bfs_dist" -> ((s, dir) => {
      val e = emb(s, dir)
      val nodes = e.select(col("vec_id"),
          col("embedding").cast("array<double>").as("__v"))
        .filter(SimilarityOps.isNonZero(col("__v")))
      val edges = SimilarityOps.knnGraph(e, "vec_id", "embedding", k = 4,
          Adaptive.signDims(e.count()))
        .select(col("id").as("src"), col("nbr_id").as("dst"))
      val seeds = nodes.filter(col("vec_id") % 97 === 0).select(col("vec_id"))
      graft.ops.GraphOps.bfsHops(nodes, edges, "vec_id", "src", "dst",
          seeds, rounds = 4)
        .select(col("id").as("vec_id"), col("dist"))
    }),

    // G5 — common-neighbor link prediction over the k-NN graph: for every
    // non-adjacent pair sharing ≥2 neighbors, the three classic
    // neighborhood scores (common-neighbor count, Jaccard in basis points,
    // Resource Allocation Σ1/deg(z) on the exact 1e10 grid). Intermediates
    // above deg 64 are excluded from wedge formation BY CONTRACT — the
    // documented hub mitigation that bounds the wedge relation at cap·m
    // under any skew (a super-hub carries ~zero RA signal anyway).
    // All-integer output.
    "g5_linkpred" -> ((s, dir) => {
      val e = emb(s, dir)
      val nodes = e.select(col("vec_id"),
          col("embedding").cast("array<double>").as("__v"))
        .filter(SimilarityOps.isNonZero(col("__v")))
      val edges = SimilarityOps.knnGraph(e, "vec_id", "embedding", k = 4,
          Adaptive.signDims(e.count()))
        .select(col("id").as("src"), col("nbr_id").as("dst"))
      graft.ops.GraphOps.linkPrediction(nodes, edges, "vec_id", "src", "dst",
          degCap = 64, minCn = 2)
    }),

    // G6 — label PROPAGATION with clamped seeds (weak supervision): every
    // 10th vector keeps its gold label; 3 synchronous LPA rounds spread
    // labels over the same kNN graph s13 builds (symmetrized, so a mutual
    // edge votes once). Majority vote per round, ties → min label, no
    // labeled neighbor → carry. The oracle UNROLLS the three rounds as
    // three vote/argmax/update CTE triples over the identical bucketed-kNN
    // edge set — sync-iteration semantics are exactly what recursive SQL
    // can't express but unrolling can, which is why rounds is a fixed
    // contract constant, not a convergence loop. Final labels are
    // integers; nodes the labels never reached stay NULL (counted, not
    // hidden).
    "g6_label_prop" -> ((s, dir) => {
      val e = emb(s, dir)
      val edges = SimilarityOps.knnGraph(e, "vec_id", "embedding", k = 4,
          Adaptive.signDims(e.count()))
        .select(col("id").as("src"), col("nbr_id").as("dst"))
      val seeds = e.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"), col("label"))
      graft.ops.GraphOps.labelPropagation(
          e.select(col("vec_id"), col("label")), seeds, edges,
          "vec_id", "label", "src", "dst", rounds = 3)
        .select(col("id").as("vec_id"), col("label"))
    }),

    // G8 — Newman modularity of the GROUND-TRUTH labeling over the k-NN
    // graph (Newman & Girvan 2004): Q = Σ_c [L_c/m − (D_c/2m)²] — the
    // "does the graph structure agree with the labels" audit an embedding
    // pipeline runs before trusting either. All counters are exact BIGINTs
    // (undirected-closure edge count m, intra-community edges L_c, degree
    // mass D_c); the single double expression (4m·L_c − D_c²)/(4m²) is
    // computed from those longs with the identical operand order in the
    // oracle (every value < 2^53 here; at 100 TB the integer counters are
    // the output and the division moves downstream into DECIMAL). One
    // shuffle for the undirected closure, two grouped counts — the k-NN
    // build (s13) dominates, exactly as in g1-g7.
    "g8_modularity" -> ((s, dir) => {
      val e = emb(s, dir)
      val edges = SimilarityOps.knnGraph(e, "vec_id", "embedding", k = 4,
          Adaptive.signDims(e.count()))
        .select(col("id").as("src"), col("nbr_id").as("dst"))
      val und = edges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct()
      val lab = e.select(col("vec_id"),
          col("embedding").cast("array<double>").as("__v"), col("label"))
        .filter(SimilarityOps.isNonZero(col("__v")))
        .select(col("vec_id").as("id"), col("label").cast("long").as("label"))
      val m = und.count() // one metadata-cheap long (the s2 count() pattern)
      val nbr = und.select(col("a").as("id"), col("b").as("nb"))
        .unionAll(und.select(col("b").as("id"), col("a").as("nb")))
      val dg = nbr.groupBy(col("id")).agg(count(lit(1)).as("deg"))
      val lc = und
        .join(lab.select(col("id").as("a"), col("label").as("la")), Seq("a"))
        .join(lab.select(col("id").as("b"), col("label").as("lb")), Seq("b"))
        .filter(col("la") === col("lb"))
        .groupBy(col("la")).agg(count(lit(1)).as("l_c"))
        .select(col("la").as("label"), col("l_c"))
      val dc = lab.join(dg, Seq("id"), "left")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(coalesce(col("deg"), lit(0L))).as("d_c"))
      dc.join(lc, Seq("label"), "left")
        .withColumn("l_c", coalesce(col("l_c"), lit(0L)))
        .select(col("label"), col("n_nodes"), col("l_c"), col("d_c"),
          Exact.fmt(
            ((lit(4.0) * lit(m.toDouble)) * col("l_c").cast("double")
              - (col("d_c") * col("d_c")).cast("double"))
              / ((lit(4.0) * lit(m.toDouble)) * lit(m.toDouble)), 6).as("q_r"))
    }),

    // G7 — HITS hub/authority over the k-NN graph (the second classic
    // link-analysis scorer beside g1's PageRank; in a corpus graph the
    // authority rank surfaces canonical documents, the hub rank surfaces
    // survey-like ones). UNNORMALIZED integer form, 2 rounds: HITS ranks
    // are invariant to the textbook per-round rescaling, so every score
    // stays an exact BIGINT and the oracle unrolls the mutual recursion
    // with no floating grid at all.
    "g7_hits" -> ((s, dir) => {
      val e = emb(s, dir)
      val nodes = e.select(col("vec_id"),
          col("embedding").cast("array<double>").as("__v"))
        .filter(SimilarityOps.isNonZero(col("__v")))
        .select(col("vec_id"))
      val edges = SimilarityOps.knnGraph(e, "vec_id", "embedding", k = 4,
          Adaptive.signDims(e.count()))
        .select(col("id").as("src"), col("nbr_id").as("dst"))
      graft.ops.GraphOps.hits(nodes, edges, "vec_id", "src", "dst", rounds = 2)
        .select(col("id").as("vec_id"), col("auth"), col("hub"))
    }),

    // MON12 — hysteresis (two-threshold) alarm: enter above hi=100, leave
    // only below lo=25 — the flap-suppressed alarm every paging system
    // runs instead of a9's single threshold. The state machine is a prefix
    // scan, but its closed form is window-expressible: mark crossings
    // (≥hi → 1, ≤lo → 0, else NULL), state = LAST crossing seen
    // (last_value IGNORE NULLS over the per-user time order), entries =
    // 0→1 state transitions via lag. Two window passes over ONE per-user
    // sort, no iteration. Per-user output: entries, rows-in-alarm, rows.
    "mon12_hysteresis" -> ((s, dir) => {
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
    }),

    // MON13 — rolling MEDIAN smoother (±5-row frame per user): the robust
    // denoiser a single spike can't drag, beside mon2's EWMA (which it
    // can). Exact: the frame's values are collected and sorted per row
    // (bounded 11-element arrays — frame size is the contract, cost is
    // O(frame log frame) per row, never corpus-wide), median = the middle
    // element, or for even edge frames the same (a+b)/2 double op the
    // oracle states explicitly — NOT DuckDB's median() (quantile_cont
    // interpolates as a+(b−a)/2, a different IEEE op order).
    "mon13_rolling_median" -> ((s, dir) => {
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
    }),

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
    "mon14_ks_drift" -> ((s, dir) => {
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
    }),

    // O5 — ordered series collection (DeepAR target arrays, preprocess.py:123-128).
    "o5_series" -> ((s, dir) => {
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wAll = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      ev(s, dir)
        .withColumn("series", concat_ws(",",
          collect_list(format_string("%.2f", col("value"))).over(wAll)))
        .withColumn("rn", row_number().over(wOrd))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("series"))
    }),

    // O9 — top-k per key: latest 3 events per user. Spark 4 compiles the
    // rank-filter into WindowGroupLimit (bounded per-group heaps on BOTH
    // sides of the exchange — only k rows per key cross the shuffle, no
    // full sort materializes; see docs/PLANS.md "Top-k per key").
    "o9_group_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      ev(s, dir).withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("user_id"), col("rk"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
    }),

    // A14 — exact percentiles per group (p50/p95/p99 with linear
    // interpolation — the monitoring-dashboard rollup surface).
    "a14_percentiles" -> ((s, dir) =>
      ev(s, dir).groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.95)").as("p95"),
          expr("percentile(value, 0.99)").as("p99"),
          count(lit(1)).as("n"))),

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
    "a16_gapfill" -> ((s, dir) =>
      graft.batch.SeriesETL.gapFillMinutes(
          ev(s, dir).select(col("event_type"), col("ts"), col("value")),
          "ts", "event_type", "value", sumScale = 2)
        .groupBy(col("event_type"), date_format(col("m"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_minutes"),
          count(col("v")).as("n_observed"),
          count(col("fv")).as("n_carried"),
          Exact.sumD(col("fv"), 2).as("sum_filled"))),

    // S9 — embedding preprocessing: corpus-mean centering + L2
    // normalization (the standard step before cosine ANN/clustering; the
    // d-row mean relation broadcasts back onto one narrow (id, dim, x)
    // explode — two corpus-sized keyed exchanges total, the
    // standardization lower bound). Means and squared-norm sums ride the
    // decimal accumulator; every other step is an exactly rounded IEEE op
    // mirrored by the oracle; components ship dim-ordered as %.4f strings.
    "s9_center_normalize" -> ((s, dir) => {
      val cn = graft.ops.SimilarityOps.centerNormalize(emb(s, dir), "vec_id", "embedding")
      cn.groupBy(col("id").as("vec_id"))
        .agg(count(lit(1)).as("n_dims"), max(col("nrm")).as("nrm"),
          concat_ws(",", transform(
            array_sort(collect_list(struct(col("dim"), Exact.fmt(col("y"), 4).as("s")))),
            x => x.getField("s"))).as("vec_r"))
        .select(col("vec_id"), col("n_dims"),
          Exact.fmt(col("nrm"), 4).as("nrm_r"), col("vec_r"))
    }),

    // S3 — symmetric int8 embedding quantization (training pipelines store
    // embeddings quantized 4x smaller; scale = max|x|/127 per vector,
    // q = trunc(x/scale) — trunc, because Spark's double→int cast truncates
    // and the oracle mirrors it with trunc()). Per-row, no shuffle.
    "s3_quantize" -> ((s, dir) => {
      val v = col("embedding")
      val maxAbs = array_max(transform(v, x => abs(x.cast("double"))))
      val scale = (maxAbs / lit(127.0)).as("scale")
      // string-encoded ints: the driver's row comparator sorts on column
      // values, which arrays break (same convention as o5_series)
      emb(s, dir).select(col("vec_id"), scale,
        concat_ws(",",
          when(maxAbs === 0.0, transform(v, _ => lit(0)))
            .otherwise(transform(v, x =>
              (x.cast("double") / (maxAbs / lit(127.0))).cast("int"))))
          .as("qvec"))
    }),

    // S7 — product-quantized ANN (the compression half of IVF-PQ): encode
    // every corpus vector as PqM codes against per-subspace codebooks
    // (seeds = the centroid id slice, (32,64] codewords — the adaptive-
    // nlist pattern; shape chosen by the measured recall sweep at [[PqM]]),
    // then answer the s1 query set by Asymmetric Distance Computation over
    // the codes alone. The corpus vectors are read once (encode) and never
    // touched at query time — the property that makes a billion-vector
    // index fit in memory at 100 TB. Stage-exact oracle mirrors encode
    // argmin, decimal ADC sums, and tie-breaks.
    "s7_pq_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      val seeds = e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
      val cb = SimilarityOps.pqCodebook(seeds, "vec_id", "embedding", m = PqM, subDim = PqSubDim)
      val codes = SimilarityOps.pqEncode(e, cb, "vec_id", "embedding", m = PqM, subDim = PqSubDim)
      SimilarityOps.pqTopK(codes, cb, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 5, m = PqM, subDim = PqSubDim)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    }),

    // S11 — two-stage serving: PQ shortlist (20, codes only) → exact
    // cosine re-rank of just the shortlisted raw vectors — the production
    // pattern that buys back quantization error. Final ordering and every
    // reported sim are EXACT over the shortlist; only |Q|·20 vectors are
    // ever fetched (point lookups against the columnar corpus at scale).
    "s11_pq_rerank" -> ((s, dir) => {
      val e = emb(s, dir)
      val seeds = e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
      val cb = SimilarityOps.pqCodebook(seeds, "vec_id", "embedding",
        m = PqM, subDim = PqSubDim)
      val codes = SimilarityOps.pqEncode(e, cb, "vec_id", "embedding",
        m = PqM, subDim = PqSubDim)
      SimilarityOps.pqRerankTopK(codes, cb, e.filter(col("vec_id") < 5), e,
          "vec_id", "embedding", k = 5, shortlistK = 20,
          m = PqM, subDim = PqSubDim)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    }),

    // S12 — exact maximum-inner-product top-k: the retrieval objective when
    // magnitude carries signal (recommender / reranker scores). Brute-force
    // exact ranking by the raw dot product — the correctness baseline the
    // reduction below is judged against.
    "s12_mips" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.mipsTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("ip"), 4).as("ip_r"))
    }),

    // S12b — MIPS served by the COSINE IVF unchanged, via the norm-
    // augmentation reduction ([[graft.ops.SimilarityOps.mipsAugmentCorpus]]):
    // corpus vectors gain a sqrt(M²−‖x‖²) coordinate (constant norm M),
    // queries a trailing 0, and the existing cell-pruned cosine path —
    // assignment, probing, scoring — runs as-is on the augmented space. The
    // oracle mirrors the augmented IVF semantics stage-for-stage, so the
    // whole reduction (augment → assign → probe → rank) is hash-checked.
    // This is the 100 TB answer for MIPS: no second index structure, the
    // same partition-pruned IVF serves both metrics.
    "s12b_mips_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val aug = SimilarityOps.mipsAugmentCorpus(e, "vec_id", "embedding")
      val centroids = aug
        .filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val assigned = SimilarityOps.assignToCentroids(aug, centroids, "vec_id", "embedding")
      val queries = SimilarityOps.mipsAugmentQueries(
        e.filter(col("vec_id") < 5), "vec_id", "embedding")
      SimilarityOps.ivfTopK(assigned, centroids, queries,
          "vec_id", "embedding", k = 5, nprobe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    }),

    // S15 — EXACT MIPS with norm-band pruning (the LEMP-family bound,
    // relationally): score the top-norm band for a per-query kth-best
    // bound τ, then scan only bands with ‖q‖·maxNorm(band) ≥ τ — pruned
    // vectors provably can't crack the top-k, so the result is
    // bit-identical to s12's brute force (same oracle) while reading a
    // fraction of the corpus. The sound remedy for the augmentation's
    // routing weakness that s14 measures; at 100 TB the bands are the
    // partition layout and most queries touch only high-norm partitions.
    "s15_mips_banded" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.mipsTopKBanded(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("ip"), 4).as("ip_r"))
    }),

    // S14 — recall@5 of the MIPS-via-augmented-IVF reduction (s12b) against
    // exact MIPS (s12): the evaluation loop for the one-index-serves-both
    // claim, mirroring what s6 does for the cosine path. Hits counted by
    // neighbor-set membership (integer), the ratio one mirrored division.
    "s14_mips_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val brute = SimilarityOps.mipsTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      val aug = SimilarityOps.mipsAugmentCorpus(e, "vec_id", "embedding")
      val centroids = aug
        .filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val assigned = SimilarityOps.assignToCentroids(aug, centroids, "vec_id", "embedding")
      val queries = SimilarityOps.mipsAugmentQueries(
        e.filter(col("vec_id") < 5), "vec_id", "embedding")
      SimilarityOps.ivfTopK(assigned, centroids, queries,
          "vec_id", "embedding", k = 5, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"))
        .join(brute, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          (col("n_hits").cast("double") / 5).as("recall_at_5"))
    }),

    // S7b — IVF-PQ, the composed production design: IVF cell pruning picks
    // WHICH codes to read (~nprobe/nlist of the table — the codes are
    // encoded WITH their cell so a stored table is partition-pruned), PQ/ADC
    // makes each read row m ints instead of a float vector. Candidates =
    // vectors whose cell is probed; scoring identical to s7 within them.
    "s7b_pq_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val stride = Adaptive.centroidStride(e.count())
      val centroids = e.filter(col("vec_id") % stride === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val assigned = SimilarityOps.assignToCentroids(e, centroids, "vec_id", "embedding")
      val cb = SimilarityOps.pqCodebook(e.filter(col("vec_id") % stride === 0),
        "vec_id", "embedding", m = PqM, subDim = PqSubDim)
      val codes = SimilarityOps.pqEncode(assigned, cb, "vec_id", "embedding",
        m = PqM, subDim = PqSubDim, carry = Seq("centroid_id"))
      val probes = SimilarityOps.probeCells(e.filter(col("vec_id") < 5), centroids,
        "vec_id", "embedding", nprobe = 2)
      SimilarityOps.pqTopKProbed(codes, cb, probes, "vec_id", k = 5, m = PqM, subDim = PqSubDim)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    }),

    // S7d — the PERSISTED IVF-PQ index: codes encoded at append time in the
    // same single aggregation that writes the row (no join-back), search
    // served from the stored codes alone — partition-pruned to the probed
    // cells AND column-pruned past the vector column. Same oracle as s7b:
    // storage, compaction, and the array round trip must not change a
    // neighbor (the s4 contract, applied to the compressed index).
    "s7d_pq_index_search" -> ((s, dir) => {
      val work = scratch("s7d")
      val e = emb(s, dir)
      val stride = Adaptive.centroidStride(e.count())
      val centroids = e.filter(col("vec_id") % stride === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val cb = SimilarityOps.pqCodebook(e.filter(col("vec_id") % stride === 0),
        "vec_id", "embedding", m = PqM, subDim = PqSubDim)
      val index = new graft.streaming.IvfIndex(s"$work/index", centroids,
        pq = Some(graft.streaming.IvfIndex.PqConfig(cb, PqM, PqSubDim)))
      index.writeEpoch(e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", epoch = 0L)
      index.writeEpoch(e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", epoch = 1L)
      index.compactCells(s, targetFileBytes = Long.MaxValue)
      index.searchAdc(s, e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5, nprobe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    }),

    // O11 — HyperLogLog distinct sketch (deterministic md5 HLL, b=12): the
    // scale path for COUNT(DISTINCT) — one narrow groupBy(bucket) MIN
    // instead of shuffling every distinct key; ~1.6% error at m=4096. The
    // exact count rides along so the error is part of the checked output.
    // Every register stays an exact integer (Σ 2^(33−reg) ≤ 2^45), so the
    // oracle reproduces the estimate digit for digit.
    "o11_hll_distinct" -> ((s, dir) => {
      val e = ev(s, dir)
      val sk = graft.ops.Sketches.hllDistinct(e, col("user_id"), b = 12)
      sk.crossJoin(e.agg(countDistinct(col("user_id")).as("n_exact")))
        .select(col("n_exact"), col("nonzero_buckets"),
          Exact.fmt(col("n_hll"), 4).as("n_hll_r"),
          Exact.fmt((col("n_hll") - col("n_exact").cast("double")) /
            col("n_exact").cast("double"), 4).as("rel_err_r"))
    }),

    // O35 — ANALYZE-TABLE column statistics: per-column row/null counts,
    // numeric min/max, and sketched NDV — the optimizer's CBO inputs
    // (selectivity, join-size estimates) and the first job a warehouse runs
    // over a new 100 TB table. Shape is the point: ONE scan serves every
    // column — the stats aggregate is a single global row, and the NDVs
    // come from [[graft.ops.Sketches.hllMultiCol]]'s per-row fanout into
    // (column, bucket, term) registers, so the exchange carries ≤ 4·4096
    // register rows regardless of data volume (a per-column re-read would
    // multiply the dominant scan cost by the column count). The double
    // column's NDV is over its DECIMAL(18,4) rendering — the one string
    // form both engines print identically (raw double-to-string exponent
    // styles diverge); documented as value-at-4dp cardinality.
    "o35_stats_collect" -> ((s, dir) => {
      val e = ev(s, dir)
      // fanOut on the HLL input only: 4 md5-per-column rows per event ran
      // single-task; the min/max/null agg below is a cheap scan (r13 opt)
      val ndv = graft.ops.Sketches.hllMultiCol(fanOut(e, col("event_id")), Seq(
          "event_id" -> col("event_id"),
          "user_id" -> col("user_id"),
          "event_type" -> col("event_type"),
          "value" -> col("value").cast("decimal(18,4)")), b = 12)
        .select(col("cname").as("column_name"),
          Exact.fmt(col("n_hll"), 4).as("ndv_r"))
      val agg = e.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("event_id").isNull, 1L).otherwise(0L)).as("nn_event_id"),
        min(col("event_id")).cast("double").as("mn_event_id"),
        max(col("event_id")).cast("double").as("mx_event_id"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("nn_user_id"),
        min(col("user_id")).cast("double").as("mn_user_id"),
        max(col("user_id")).cast("double").as("mx_user_id"),
        sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("nn_event_type"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("nn_value"),
        min(col("value")).as("mn_value"),
        max(col("value")).as("mx_value"))
      val rows = agg.selectExpr("n_rows",
        """stack(4,
          |  'event_id',   nn_event_id,   mn_event_id,            mx_event_id,
          |  'user_id',    nn_user_id,    mn_user_id,             mx_user_id,
          |  'event_type', nn_event_type, CAST(NULL AS DOUBLE),   CAST(NULL AS DOUBLE),
          |  'value',      nn_value,      mn_value,               mx_value
          |) AS (column_name, n_nulls, min_num, max_num)""".stripMargin)
      rows.join(ndv, Seq("column_name"))
        .select(col("column_name"), col("n_rows"), col("n_nulls"),
          col("min_num"), col("max_num"), col("ndv_r"))
    }),

    // O37 — dataset content fingerprint (Merkle-style): the "are these two
    // 100 TB tables equal?" answer without a full compare — per-row md5 of
    // a canonical rendering, bucketed by the fingerprint's first two hex
    // digits (uniform by construction), each bucket reduced to
    // md5(sorted-concat of its row fingerprints). Equal relations ⇔ equal
    // (bucket, n_rows, bucket_fp) sets, a 256-row comparison; a divergence
    // localizes to its buckets, which is the incremental-sync use. Scale:
    // one scan + one hash-partitioned groupBy; per-bucket sorted lists are
    // corpus/256 — production raises the digit count (or nests another
    // level) to keep buckets bounded, same plan. Doubles render via %.2f
    // (the stored precision; a 2 dp-rounded double's exact expansion never
    // sits on the half-cent tie where Java and C printf could differ).
    "o37_dataset_fingerprint" -> ((s, dir) => {
      val rowFp = md5(concat_ws("|",
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        format_string("%.2f", col("o_totalprice")),
        date_format(col("o_orderdate"), "yyyy-MM-dd"),
        col("o_orderpriority")))
      Tables.orders(s, dir)
        .select(rowFp.as("fp"))
        .groupBy(substring(col("fp"), 1, 2).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          md5(concat_ws("", sort_array(collect_list(col("fp"))))).as("bucket_fp"))
    }),

    // O36 — data-quality audit (the Deequ/Great-Expectations constraint
    // pass every production ingest runs before admitting data): null,
    // range, and accepted-value checks FOLDED INTO ONE SCAN per table as
    // conditional sums (the naive scan-per-constraint audit reads a 100 TB
    // table N times; this reads it once), plus the two genuinely relational
    // checks — key uniqueness (one hash aggregate, no self-join) and
    // FK orphans (anti joins; parent key sides are dimension-sized →
    // broadcast). Output is (check, n_bad, n_rows) exact integers, so
    // admission thresholds compare counts, never pre-rounded ratios. The
    // synthetic tables are clean — n_bad = 0 everywhere except the checks
    // violated by construction, and the oracle recomputes every count
    // independently, so a zero is a verified zero, not a vacuous one. The
    // synthetic tables are TOO clean to exercise the detectors, so the
    // audit runs over a deterministically DIRTIED view (negated quantities
    // every 97th order, out-of-domain returnflags every 101st, orphaned
    // part keys every 89th, nulled customer keys every 103rd order) — the
    // m*-gate fixture pattern: both engines corrupt identically, so each
    // violation count has a known nonzero truth. Clean-column checks
    // (discount range, orders uniqueness) stay as zero controls, and
    // lineitem's order-key "uniqueness" counts the genuinely multi-line
    // orders.
    "o36_dq_audit" -> ((s, dir) => {
      import graft.ops.DataQuality._
      val li = Tables.lineitem(s, dir).select(
        when(pmod(col("l_orderkey"), lit(97)) === 0, -col("l_quantity"))
          .otherwise(col("l_quantity")).as("l_quantity"),
        when(pmod(col("l_orderkey"), lit(101)) === 0, lit("X"))
          .otherwise(col("l_returnflag")).as("l_returnflag"),
        when(pmod(col("l_orderkey"), lit(89)) === 0, -col("l_partkey"))
          .otherwise(col("l_partkey")).as("l_partkey"),
        col("l_orderkey"), col("l_discount"))
      val od = Tables.orders(s, dir).select(
        when(pmod(col("o_orderkey"), lit(103)) === 0, lit(null).cast("long"))
          .otherwise(col("o_custkey")).as("o_custkey"),
        col("o_orderkey"), col("o_totalprice"))
      val cu = Tables.customer(s, dir)
      val pt = Tables.part(s, dir)
      audit(Seq(
        rowChecks(li, "lineitem", Seq(
          "qty_range" -> !col("l_quantity").between(1, 50),
          "discount_range" -> !col("l_discount").between(0.0, 1.0),
          "returnflag_domain" -> !col("l_returnflag").isin("A", "N", "R"))),
        rowChecks(od, "orders", Seq(
          "null_custkey" -> col("o_custkey").isNull,
          "totalprice_positive" -> (col("o_totalprice") <= 0))),
        uniqueness(od, "orders", Seq("o_orderkey")),
        uniqueness(li, "lineitem", Seq("l_orderkey")),
        refIntegrity(od, "orders", "o_custkey", cu, "c_custkey"),
        refIntegrity(li, "lineitem", "l_orderkey", od, "o_orderkey"),
        refIntegrity(li, "lineitem", "l_partkey", pt, "p_partkey")))
    }),

    // O27 — KMV (k-minimum-values / bottom-k) distinct sketch: the k=256
    // smallest distinct 60-bit hashes of event_id, kept by a bounded
    // ≤ k-element aggregate buffer on BOTH aggregation sides
    // ([[graft.expressions.MinKDistinctLongs]]) — the exchange carries one
    // k-array per partition, constant in corpus size and cardinality
    // (narrower than HLL's m register rows). Second cardinality sketch
    // beside o11 because KMV retains hash VALUES: two sketches compose
    // into set-operation estimates (o28), which HLL registers cannot.
    // Estimator (k−1)·2^60/h_(k) is one mirrored IEEE multiply+divide on
    // exact integers; unsaturated sketches are exact by construction.
    "o27_kmv_distinct" -> ((s, dir) => {
      val e = ev(s, dir)
      val k = 256
      graft.ops.Sketches.kmvSketch(e, col("event_id"), k)
        .select(size(col("vals")).cast("long").as("n_kept"),
          element_at(col("vals"), size(col("vals"))).as("kth"),
          graft.ops.Sketches.kmvEstimate(col("vals"), k).as("est"))
        .crossJoin(e.agg(countDistinct(col("event_id")).as("n_exact")))
        .select(col("n_exact"), col("n_kept"), col("kth"),
          Exact.fmt(col("est"), 4).as("est_r"),
          Exact.fmt((col("est") - col("n_exact").cast("double")) /
            col("n_exact").cast("double"), 4).as("rel_err_r"))
    }),

    // O28 — sketch-side set operations, the capability KMV buys over HLL:
    // estimated n-gram overlap between two corpus slices (en vs de 3-word
    // shingle sets — the sketch form of x4's decontamination question,
    // answerable at 100 TB from two kilobyte sketches without ever joining
    // the corpora). M = k smallest of S_en ∪ S_de is EXACTLY the k smallest
    // of the full union (each side's bottom-k covers it — the mergeable-
    // partial property, same family as o16/o17/o20); matches = |M ∩ S_en ∩
    // S_de| gives Jaccard ≈ matches/|M| and |∩| ≈ Jaccard · union_est.
    // Exact intersection/union ride along as integers for the error column.
    "o28_kmv_jaccard" -> ((s, dir) => {
      val k = 256
      // r14 opt (guide §2.3/§2.4): the two sketch sides and the two exact
      // sides each re-ran the shingle explode + md5 kernel — FOUR corpus
      // passes (fanOut'd in r13, still four). One pass now builds the
      // distinct-shingle relation with per-language presence flags; both
      // bottom-k sketches fold off it via null-masked minkDistinct (nulls
      // are skipped on update, and the distinct-shingle set per language is
      // exactly what the old per-side explode fed after internal dedup),
      // the exact intersection/union counts are flag counts, and the union
      // sketch + match count collapse to array expressions on the ONE
      // aggregate row (sorted-distinct-concat bottom-k ≡ the old
      // distinct-union-orderBy-limit; array_intersect ≡ the two semi
      // joins). Same hashes, same counts, same estimates — 1 corpus pass,
      // 1 shingle-keyed exchange, no per-side relations.
      val d = fanOut(docs(s, dir), col("doc_id"))
      val perT = d.filter(col("lang").isin("en", "de"))
        .select(explode(DedupOps.shingles(col("text"), 3)).as("t"),
          (col("lang") === "en").as("is_en"))
        .groupBy(col("t"))
        .agg(max(col("is_en")).as("has_en"), max(!col("is_en")).as("has_de"))
        .withColumn("h", graft.ops.Sketches.kmvHash(col("t")))
      val one = perT.agg(
        graft.expressions.MinKAggregate
          .minkDistinct(when(col("has_en"), col("h")), k).as("va"),
        graft.expressions.MinKAggregate
          .minkDistinct(when(col("has_de"), col("h")), k).as("vb"),
        count(when(col("has_en") && col("has_de"), 1)).as("n_inter_exact"),
        count(lit(1)).as("n_union_exact"))
        .withColumn("mu",
          slice(array_sort(array_distinct(concat(col("va"), col("vb")))), 1, k))
        .withColumn("n_kept_u", size(col("mu")).cast("long"))
        .withColumn("kth_u",
          when(col("n_kept_u") > 0, element_at(col("mu"), size(col("mu")))))
        .withColumn("n_match",
          size(array_intersect(array_intersect(col("mu"), col("va")),
            col("vb"))).cast("long"))
      val unionEst = graft.ops.Sketches.kmvEstimateFrom(
        col("n_kept_u"), col("kth_u"), k)
      val jaccardEst = col("n_match").cast("double") / col("n_kept_u").cast("double")
      one.select(col("n_kept_u"), col("kth_u"), col("n_match"),
        col("n_inter_exact"), col("n_union_exact"),
        expr("n_inter_exact * 10000 div n_union_exact").as("jaccard_exact_bp"),
        Exact.fmt(jaccardEst, 4).as("jaccard_est_r"),
        Exact.fmt(unionEst, 4).as("union_est_r"),
        Exact.fmt(jaccardEst * unionEst, 4).as("inter_est_r"))
    }),

    // O29 — KMV sketch MERGE: per-day bottom-k partials re-aggregated with
    // the same bounded min-k aggregate must equal the direct sketch over
    // the union EXACTLY (distinct-union-min-k is associative/commutative/
    // idempotent — same values, same estimate, same set-op behavior
    // downstream). Completes the mergeable-partial matrix's fourth axis:
    // HLL min-merge (o16), CMS sum-merge (o17), histogram shared-spec
    // sum-merge (o20), KMV value-merge (o29). Equality shipped as a
    // CHECKED column (count of differing positions must be 0), both paths
    // recomputed independently by the oracle.
    "o29_kmv_merge" -> ((s, dir) => {
      // fanOut: both sketch paths' md5 kernels ran single-task (r13 opt);
      // distinct-union-min-k is order-free by construction
      val e = fanOut(ev(s, dir), col("event_id"))
      val k = 256
      val parts = graft.ops.Sketches.kmvSketchBy(
        e, date_format(col("ts"), "yyyy-MM-dd"), col("event_id"), k)
      val merged = graft.ops.Sketches.kmvMergeSketches(parts, k)
        .select(col("vals").as("mv"))
      val direct = graft.ops.Sketches.kmvSketch(e, col("event_id"), k)
        .select(col("vals").as("dv"))
      merged.crossJoin(direct)
        .crossJoin(parts.agg(count(lit(1)).as("n_parts")))
        .select(col("n_parts"),
          size(col("mv")).cast("long").as("n_kept"),
          element_at(col("mv"), size(col("mv"))).as("kth_merged"),
          element_at(col("dv"), size(col("dv"))).as("kth_direct"),
          size(array_except(col("mv"), col("dv"))).cast("long").as("n_diff"),
          Exact.fmt(graft.ops.Sketches.kmvEstimate(col("mv"), k), 4)
            .as("est_merged_r"),
          Exact.fmt(graft.ops.Sketches.kmvEstimate(col("dv"), k), 4)
            .as("est_direct_r"))
    }),

    // O15 — per-group HLL: distinct users per day from one narrow
    // (grp, bucket) register exchange (≤ m register rows per group per
    // partition) instead of shuffling every (day, user) pair — the grouped
    // form of o11, same deterministic md5 registers, digit-exact vs the
    // oracle's generated ladder. Exact per-day COUNT(DISTINCT) rides along
    // for the error column (affordable at bench scale; at 100 TB you'd
    // ship only the sketch).
    // O34 — 7-day SLIDING distinct users per day from the o15/o16 daily
    // register partials: each day-d register serves target days d..d+6
    // (explode into ≤7 narrow rows), min-merge per (day, bucket), one
    // estimator row per day — EXACTLY the direct sketch of each window's
    // union by min-merge idempotence. The exact rolling COUNT(DISTINCT)
    // rides along for the eval columns (o15's pattern); at 100 TB only
    // the register path survives — stated in Sketches.hllSlidingBy.
    "o34_hll_sliding" -> ((s, dir) => {
      val e = ev(s, dir)
        .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      val days = e.select(col("day")).distinct()
      val sk = graft.ops.Sketches.hllSlidingBy(e, col("day"), col("user_id"),
        windowDays = 7, b = 12)
      val exact = e
        .select(explode(sequence(col("day"), col("day") + 6)).as("day"),
          col("user_id"))
        .join(days, Seq("day"), "left_semi")
        .groupBy(col("day")).agg(countDistinct(col("user_id")).as("n_exact"))
      exact.join(sk, "day")
        .select(col("day"), col("n_exact"), col("nonzero_buckets"),
          Exact.fmt(col("n_hll"), 4).as("n_hll_r"),
          Exact.fmt((col("n_hll") - col("n_exact").cast("double")) /
            col("n_exact").cast("double"), 4).as("rel_err_r"))
    }),

    "o15_hll_by_day" -> ((s, dir) => {
      val e = ev(s, dir)
      val grp = date_format(col("ts"), "yyyy-MM-dd")
      val sk = graft.ops.Sketches.hllDistinctBy(e, grp, col("user_id"), b = 12)
      val exact = e.groupBy(grp.as("grp"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      exact.join(sk, "grp")
        .select(col("grp").as("day"), col("n_exact"), col("nonzero_buckets"),
          Exact.fmt(col("n_hll"), 4).as("n_hll_r"),
          Exact.fmt((col("n_hll") - col("n_exact").cast("double")) /
            col("n_exact").cast("double"), 4).as("rel_err_r"))
    }),

    // O16 — sketch MERGE: per-day partial HLL register relations combined
    // by register-wise MIN must equal the direct sketch over the union —
    // exactly, not approximately (min is associative/commutative/
    // idempotent; the estimator never sees which path made the registers).
    // This is what makes the sketch a distributed data structure at 100 TB:
    // kilobyte partials land per partition/day and any later rollup is
    // answerable without re-reading the data. Both paths ship in the
    // checked row; the oracle recomputes both independently.
    // O20 — mergeable histogram partials: per-day cells under the SHARED
    // global bin spec sum-merge into exactly the direct histogram —
    // completing the sketch matrix's quantile axis beside HLL min-merge
    // (o16) and CMS sum-merge (o17). The contract is the shared spec
    // itself (per-day min/max binning would misalign cells — see
    // Sketches.histCellsByPart doc); both paths probed independently.
    "o20_hist_merge" -> ((s, dir) => {
      val e = ev(s, dir)
      val cells = graft.ops.Sketches.histCellsByPart(
        e, col("value"), 256, date_format(col("ts"), "yyyy-MM-dd"))
      val merged = cells.groupBy(col("bin"))
        .agg(sum(col("cnt")).cast("long").as("cnt_merged"))
      val direct = graft.ops.Sketches.histCellsByPart(
          e, col("value"), 256, lit("all"))
        .groupBy(col("bin")).agg(sum(col("cnt")).cast("long").as("cnt_direct"))
      merged.join(direct, "bin")
    }),

    "o16_hll_merge" -> ((s, dir) => {
      val e = ev(s, dir)
      val day = date_format(col("ts"), "yyyy-MM-dd")
      val regs = graft.ops.Sketches.hllRegistersBy(e, day, col("user_id"), b = 12)
      val merged = graft.ops.Sketches.hllMergeRegisters(
        regs.select(col("bucket"), col("t")), b = 12)
      val direct = graft.ops.Sketches.hllDistinct(e, col("user_id"), b = 12)
        .select(col("n_hll").as("n_direct"))
      val nParts = regs.select(col("part")).distinct()
        .agg(count(lit(1)).as("n_parts"))
      merged.crossJoin(direct).crossJoin(nParts)
        .select(col("n_parts"), col("sum_int"), col("nonzero_buckets"),
          Exact.fmt(col("n_hll"), 4).as("n_merged_r"),
          Exact.fmt(col("n_direct"), 4).as("n_direct_r"))
    }),

    // O12 — Count-Min heavy-hitter estimates: frequency questions without
    // shuffling every distinct key (the exchange carries <= d·w cells per
    // partition, constant in corpus size and cardinality). Integer-exact
    // end to end, so n_cms matches the oracle digit for digit; n_cms >=
    // n_exact by construction and the compare pins both.
    "o12_cms_heavy" -> ((s, dir) => {
      val e = ev(s, dir)
      // fanOut on the sketch input only: the depth×md5 hashing kernel ran
      // single-task; probes/exact below are cheap scans (r13 opt)
      val sk = graft.ops.Sketches.cmsBuild(fanOut(e, col("event_id")), col("user_id"))
      val probes = e.filter(col("user_id") < 25).select(col("user_id")).distinct()
      val est = graft.ops.Sketches.cmsEstimate(sk, probes, col("user_id"))
        .withColumnRenamed("key", "user_id")
      e.filter(col("user_id") < 25).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_exact"))
        .join(est, "user_id")
        .select(col("user_id"), col("n_exact"), col("n_cms"))
    }),

    // O17 — CMS merge (the o16 move for the frequency sketch): per-day
    // cell relations combined by cell-wise SUM must equal the direct
    // sketch exactly when the parts partition the data — counts are
    // associative/commutative (and deliberately NOT idempotent: replaying
    // a partial double-counts, the correct multiset semantics; OpsSpec
    // pins both properties). Both paths probe independently in the
    // checked row.
    "o17_cms_merge" -> ((s, dir) => {
      val e = ev(s, dir)
      val day = date_format(col("ts"), "yyyy-MM-dd")
      val merged = graft.ops.Sketches.cmsMergeCells(
        graft.ops.Sketches.cmsCellsBy(e, day, col("user_id"))
          .select(col("row"), col("bucket"), col("cnt")))
      val direct = graft.ops.Sketches.cmsBuild(e, col("user_id"))
      val probes = e.filter(col("user_id") < 25).select(col("user_id")).distinct()
      val estM = graft.ops.Sketches.cmsEstimate(merged, probes, col("user_id"))
        .withColumnRenamed("key", "user_id").withColumnRenamed("n_cms", "n_merged")
      val estD = graft.ops.Sketches.cmsEstimate(direct, probes, col("user_id"))
        .withColumnRenamed("key", "user_id").withColumnRenamed("n_cms", "n_direct")
      e.filter(col("user_id") < 25).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_exact"))
        .join(estM, "user_id").join(estD, "user_id")
    }),

    // O14 — histogram quantiles: percentiles without a global sort. Exact
    // quantiles need a full-data range exchange; the histogram needs one
    // narrow groupBy(bin) COUNT (≤ nBins integer cells per partition
    // through the exchange, constant in data size) plus a min/max pre-scan.
    // Bin ids/counts are exact integers from exactly rounded IEEE ops, the
    // cumulative walk is over the ≤1024-row bounded bin relation, and the
    // interpolation mirrors the oracle expression-for-expression — digit
    // exact, with a14_percentiles as the exact-sort counterpart.
    "o14_hist_quantile" -> ((s, dir) =>
      graft.ops.Sketches.histQuantiles(ev(s, dir), col("value"), 1024,
        Seq("0.5", "0.95", "0.99"))
        .select(col("q_str"), col("rnk"), col("bin"),
          Exact.fmt(col("est"), 4).as("est_r"))),

    // O30 — approximation AUDIT for the quantile sketch (the d10/s6/s14/
    // t20 eval-row pattern applied to o14): histogram estimate vs exact
    // interpolated percentile side by side with the signed error — the
    // number a user needs before trusting the sketch at a scale where the
    // exact global sort is unaffordable. Error is bounded by bin width
    // (hi−lo)/1024 by construction; the row makes that bound observable.
    "o30_quantile_eval" -> ((s, dir) => {
      val e = ev(s, dir)
      val hq = graft.ops.Sketches.histQuantiles(e, col("value"), 1024,
        Seq("0.5", "0.95", "0.99"))
      val exact = e.agg(
          expr("percentile(value, 0.5)").as("ex50"),
          expr("percentile(value, 0.95)").as("ex95"),
          expr("percentile(value, 0.99)").as("ex99"))
        .select(expr(
          "stack(3, '0.5', ex50, '0.95', ex95, '0.99', ex99) AS (q_str, exact)"))
      hq.join(exact, "q_str")
        .select(col("q_str"),
          Exact.fmt(col("est"), 4).as("est_r"),
          Exact.fmt(col("exact"), 4).as("exact_r"),
          Exact.fmt(col("est") - col("exact"), 4).as("err_r"))
    }),

    // O13 — Bloom-filter semi-join reduction (explicit runtime filter): the
    // classic 100 TB join move. A semi join whose probe side is the fact
    // table shuffles every probe row before most are discarded; instead,
    // broadcast a kilobyte bitset of the (filtered) build keys and drop
    // non-matching probe rows AT THE SCAN, before any exchange. Bloom has
    // no false negatives, so the exact semi join on the survivors gives the
    // exact answer while the shuffle carries only ~hit-rate of the input —
    // the oracle is the PLAIN semi join, which is the point: correctness is
    // unconditional on the sketch. (OpsSpec pins the pruning itself:
    // superset, no false negatives, and a real selectivity win.)
    "o13_bloom_semi" -> ((s, dir) => {
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val bloom = graft.ops.Sketches.bloomBuild(urgent, col("o_orderkey"))
      val pruned = graft.ops.Sketches.bloomPrune(
        Tables.lineitem(s, dir), col("l_orderkey"), bloom)
      pruned.join(urgent.withColumnRenamed("o_orderkey", "l_orderkey"),
          Seq("l_orderkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          Exact.sumD(col("l_quantity"), 2).as("sum_qty"))
    }),

    // S8 — k-means (Lloyd) centroid training, 2 iterations from the
    // deterministic seed slice: the clustering step every IVF/PQ structure
    // above takes as input, as a first-class op. Decimal-exact per-element
    // means make every iteration bit-reproducible and oracle-mirrorable
    // (the SQL unrolls one assign/mean CTE pair per iteration).
    "s8_kmeans" -> ((s, dir) => {
      val e = emb(s, dir)
      val init = e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      SimilarityOps.kmeansRefine(e, init, "vec_id", "embedding", iters = 2,
          dims = EmbDim)
        .select(col("centroid_id"), col("n"),
          concat_ws(",", transform(col("centroid_vec"),
            x => format_string("%.4f", x))).as("centroid_enc"))
    }),

    // SD1 — semantic dedup (SemDeDup, Abbas et al. 2023): k-means cluster
    // the embeddings (the s8 training, same deterministic seed slice), then
    // prune same-cluster pairs at cosine >= 0.35, lowest id canonical. The
    // pairwise compare is quadratic per CELL, linear in corpus when k grows
    // with N — the published recipe's scale contract (ops/SimilarityOps).
    "sd1_semdedup" -> ((s, dir) => {
      val e = emb(s, dir)
      val init = e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val trained = SimilarityOps.kmeansRefine(e, init, "vec_id", "embedding",
          iters = 2, dims = EmbDim)
        .select(col("centroid_id"), col("centroid_vec"))
      SimilarityOps.semDedup(e, trained, "vec_id", "embedding", tau = 0.35)
    }),

    // S7c — PQ recall@5 vs exact brute force (the s6 contract for the
    // compressed index): how many of the true top-5 the PqM-code
    // representation keeps — the quality number a pipeline tunes m/k
    // against before committing to a compression ratio.
    "s7c_pq_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
      val brute = SimilarityOps.bruteForceTopK(e, queries, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      val cb = SimilarityOps.pqCodebook(
        e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0),
        "vec_id", "embedding", m = PqM, subDim = PqSubDim)
      val codes = SimilarityOps.pqEncode(e, cb, "vec_id", "embedding", m = PqM, subDim = PqSubDim)
      SimilarityOps.pqTopK(codes, cb, queries, "vec_id", "embedding", k = 5, m = PqM, subDim = PqSubDim)
        .select(col("query_id"), col("neighbor_id"))
        .join(brute, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          (col("n_hits").cast("double") / 5).as("recall_at_5"))
    }),

    // S7E — the PQ recall LADDER with a TRAINED codebook (r11 verdict task
    // 6): the same m/subDim/seed budget as s7c, measured twice over one
    // 20-query panel — once with the raw stride-seeded codewords (s7c's
    // book) and once after Lloyd-refining them per subspace
    // ([[SimilarityOps.pqCodebookRefine]], PqTrainIters iterations), the
    // production PQ training loop, stage-exactly unrolled by the oracle.
    // One gate IS the ladder: per query, hits under both books against the
    // same exact brute-force top-5 (panel of 20, not s7c's 5 — recall@5
    // over 25 slots is noise; 100 slots resolves the training gain:
    // measured 0.32→0.39 / 0.34→0.43 / 0.21→0.24 at the three SFs, see
    // PqTrainIters). OPQ pre-rotation was MEASURED out,
    // not skipped: this corpus is isotropic (per-dim energy ratio 1.31,
    // |pairwise corr| ≈ 0.03 — docs/PLANS.md round 12), so every rotation
    // is statistically equivalent and codebook FIT is the only recall
    // lever at equal code budget.
    "s7e_pq_trained_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 20)
      val brute = SimilarityOps.bruteForceTopK(e, queries, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      val cb0 = SimilarityOps.pqCodebook(
        e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0),
        "vec_id", "embedding", m = PqM, subDim = PqSubDim)
      val cbT = SimilarityOps.pqCodebookRefine(e, cb0, "vec_id", "embedding",
        m = PqM, subDim = PqSubDim, iters = PqTrainIters)
      def hits(cb: DataFrame, name: String) = {
        val codes = SimilarityOps.pqEncode(e, cb, "vec_id", "embedding",
          m = PqM, subDim = PqSubDim)
        SimilarityOps.pqTopK(codes, cb, queries, "vec_id", "embedding",
            k = 5, m = PqM, subDim = PqSubDim)
          .select(col("query_id"), col("neighbor_id"))
          .join(brute, Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as(name))
      }
      hits(cb0, "n_hits_raw").join(hits(cbT, "n_hits_trained"), Seq("query_id"))
        .select(col("query_id"), col("n_hits_raw"), col("n_hits_trained"),
          (col("n_hits_raw").cast("double") / 5).as("recall_raw"),
          (col("n_hits_trained").cast("double") / 5).as("recall_trained"))
    }),

    // S35 — PQ quantization-distortion audit: per-subspace SSE of the raw
    // stride book vs the Lloyd-trained book (s7e's exact chain). s7c/s7e
    // gate what training buys in RECALL; this gates the mechanism itself —
    // pqCodebookRefine's doc claims every iteration reduces within-
    // subspace MSE, and `improved` turns that claim into a checked bit
    // per subspace instead of a comment. Sums ride the Exact.sumD decimal
    // accumulator; output is m rows.
    // r14 opt (guide §2.3/§2.4 — VERDICT r13 item 2): the raw and trained
    // distortion passes now share ONE corpus explode via
    // [[SimilarityOps.pqDistortionPair]] (book-tagged broadcast union,
    // per-book argmax — bit-identical SSE per book), and both codebooks
    // are localCheckpoint'd m·k-row relations, so the final action no
    // longer replans (or re-runs) the cb0 chain and the last Lloyd
    // iteration inside each distortion branch.
    "s35_pq_distortion" -> ((s, dir) => {
      val e = emb(s, dir)
      val cb0 = SimilarityOps.pqCodebook(
        e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0),
        "vec_id", "embedding", m = PqM, subDim = PqSubDim).localCheckpoint()
      val cbT = SimilarityOps.pqCodebookRefine(e, cb0, "vec_id", "embedding",
        m = PqM, subDim = PqSubDim, iters = PqTrainIters).localCheckpoint()
      SimilarityOps.pqDistortionPair(e, cb0, cbT, "vec_id", "embedding",
          PqM, PqSubDim)
        .select(col("sub"), col("n"),
          Exact.fmt(col("sse_a"), 4).as("sse_raw_r"),
          Exact.fmt(col("sse_b"), 4).as("sse_trained_r"),
          (col("sse_b") <= col("sse_a")).cast("int").as("improved"))
    }),

    // P7 — NaN encoding for model input (utils.py:124-125).
    "p7_nan_encode" -> ((s, dir) =>
      ev(s, dir).select(col("event_id"),
        when(col("value").isNull || isnan(col("value")), lit("NaN"))
          .otherwise(format_string("%.2f", col("value"))).as("target_enc"))),

    // Filter-pushdown aggregation (TPC-H Q6 shape): all predicates reach the
    // parquet scan; two-column projection prunes the read schema.
    "q6_filter_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.02 && col("l_discount") <= 0.06 &&
          col("l_quantity") < 24)
        .agg(Exact.sumD(col("l_extendedprice") * col("l_discount"), 4).as("revenue"),
          count(lit(1)).as("n_rows"))),

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
    "q3_top_orders" -> ((s, dir) => {
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
    }),

    // T6 — rarity-weighted top terms per document: tf × linear inverse
    // document frequency (score = tf/df — division is exactly rounded per
    // IEEE-754, so the ranking is engine-deterministic; tf·ln(N/df) would
    // hinge on libm ulp differences). Group top-3 compiles to
    // WindowGroupLimit: bounded per-doc heaps both sides of the exchange.
    "t6_top_terms" -> ((s, dir) => {
      val toks = docs(s, dir).filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), explode(TextOps.tokens(lower(col("text")))).as("term"))
      // tf feeds both the document-frequency rollup and the scoring join.
      // Deliberately NOT cached: measured A/B (docs/PLANS.md) shows warm
      // parity (~0.8 s both at sf0.1) while the cache charges an extra
      // materialization and pins executor memory. The recomputed subtree is
      // scan+explode+partial-agg (fully parallel); at real scale the
      // compute-once shape is a materialized tf table (the d2b pattern),
      // not an InMemoryRelation.
      val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val scored = tf.join(dfreq, "term")
        .withColumn("score", col("tf").cast("double") / col("df"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank").cast("long").as("rank"), col("term"),
          // raw double, no rounding: a single IEEE division is bit-identical
          // on both engines, while %.6f half-cases (tf/df is dyadic, e.g.
          // 1/128) split between Java half-up and C half-even
          col("tf"), col("df"), col("score"))
    }),

    // X1 — reproducible domain-weighted mixture sampling (training-data
    // assembly): keep/drop derives from a salted md5 of the doc id, so the
    // mix is auditable and identical on any engine/partitioning — never
    // rand(). One scan, one codegen'd filter. The oracle recomputes the
    // hash digit-for-digit and applies the same integer thresholds.
    "x1_mixture_sample" -> ((s, dir) =>
      graft.ops.Sampling.mixtureSample(docs(s, dir), col("doc_id"), col("lang"),
          SparkEntry.mixtureRates)
        .select(col("doc_id"), col("lang"), col("source"))),

    // X7 — token-budget mixture: x1 SAMPLES at given per-domain rates;
    // x7 DERIVES the rates from a corpus-wide token budget (60% of total,
    // split equally across sources; under-supplying sources keep all).
    // Budget, share, and each keep-threshold are BIGINT arithmetic and
    // membership is hash32 < thr — no double ever decides a row. Checked
    // per source: domain tokens, derived threshold, selected count and
    // selected token mass (pins both the derivation and the membership).
    "x7_token_budget" -> ((s, dir) => {
      val t = graft.ops.Sampling.tokenBudgetMixture(
        docs(s, dir), col("doc_id"), col("source"),
        TextOps.tokenCount(col("text")), 6, 10)
      t.groupBy(col("dom").as("source"))
        .agg(max(col("dom_tokens")).as("dom_tokens"),
          max(col("thr")).as("thr"),
          sum(col("selected")).cast("long").as("n_sel"),
          sum(col("selected") * col("n_tok")).as("sel_tokens"))
    }),

    // X8 — weighted sampling without replacement (A-Res): top-100 docs by
    // ln(u)/weight with weight = n_chars — the quality/length-weighted
    // draw a curriculum or mixture pipeline uses where x1's Bernoulli
    // treats all rows equally. Membership is reproducible md5 arithmetic;
    // the one ln sits behind a BIGINT truncation (t9 contract).
    "x8_weighted_sample" -> ((s, dir) =>
      graft.ops.Sampling.weightedTopK(
          docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
          col("doc_id"), col("n_chars"), k = 100)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("wkey"), col("wrank"))),

    // X9 — curriculum ordering: every doc ranked easiest-first (quality
    // desc) and cut into 4 equal phases by integer arithmetic — the
    // schedule a curriculum dataloader consumes. The global rank is the
    // two-pass range-partitioned Ranking core, NOT a single-partition
    // window; ordering keys on the truncated-BIGINT quality (the t2
    // expression is transcendental-free, so the key is bit-identical on
    // both engines) with doc_id ties.
    "x9_curriculum" -> ((s, dir) => {
      val q = docs(s, dir).select(col("doc_id"),
          TextOps.qualityScore(col("text")).as("quality"))
        .withColumn("qkey", floor(col("quality") * lit(1e9)).cast("long"))
      val ranked = graft.ops.Ranking.globalRowNumber(
        q.select(col("doc_id"), col("qkey"), (-col("qkey")).as("nk")),
        Seq(col("nk"), col("doc_id")), "pos")
      val n = docs(s, dir).agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(n))
        .select(col("doc_id"), col("qkey"), col("pos"),
          expr("(pos - 1) * 4 div n").as("phase"))
    }),

    // C3 — composed training-data preparation: mixture sampling (x1) →
    // curriculum ordering (x9) → sequence packing (x2) as ONE pipeline —
    // the dataloader-prep composition a training run actually executes,
    // under a single oracle so the CONTRACTS compose, not just the
    // operators: packing's running sum is taken in the curriculum order
    // (qkey desc, doc_id), membership is integer-hash-decided, the phase
    // and every sequence id are exact integers end to end.
    "c3_training_prep" -> ((s, dir) => {
      val sampled = graft.ops.Sampling.mixtureSample(
        docs(s, dir), col("doc_id"), col("lang"), mixtureRates)
      val q = sampled.select(col("doc_id"), col("text"),
          TextOps.qualityScore(col("text")).as("quality"))
        .withColumn("qkey", floor(col("quality") * lit(1e9)).cast("long"))
        .withColumn("nk", -col("qkey"))
      val packed = graft.ops.Packing.sequenceAssignments(
          q, Seq(col("nk"), col("doc_id")), TextOps.tokenCount(col("text")),
          budget = 512L)
        .select(col("doc_id"), col("qkey"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
          col("seq_first"), col("seq_last"))
      val ranked = graft.ops.Ranking.globalRowNumber(
        q.select(col("doc_id"), col("nk")), Seq(col("nk"), col("doc_id")), "pos")
      val n = sampled.agg(count(lit(1)).as("n"))
      packed.join(ranked.select(col("doc_id"), col("pos")), "doc_id")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("qkey"),
          expr("(pos - 1) * 4 div n").as("phase"),
          col("n_tokens"), col("seq_first"), col("seq_last"))
    }),

    // C5 — the pretraining-prep composition (t31 ∘ x20 ∘ x2): Gopher
    // quality rules on the RAW corpus (minWords 10, minStopwords 1 —
    // scaled to the snippet-sized fixture: the published 50/2 empty it;
    // stated, not hidden) → contamination-aware split (x20's policy: benchmark-gram
    // docs force-train) → the TRAIN slice packed into 512-token sequences
    // in doc_id order (x2's exclusive-prefix-sum machinery). Each stage is
    // individually gated (t31/x20/x2); this gate pins the COMPOSITION —
    // filters before split, split before pack, packing offsets computed
    // over exactly the surviving set. Scale: the stages' own shapes; the
    // composition adds two doc_id equi-joins.
    "c5_pretrain_prep" -> ((s, dir) => {
      val d = docs(s, dir)
      val corpus = d.filter(pmod(col("doc_id"), lit(17)) =!= 0)
      val keepIds = TextOps.gopherRules(corpus, "doc_id", "text",
          minWords = 10L, minStopwords = 1L)
        .filter(col("keep") === 1).select(col("doc_id"))
      val cont = DedupOps.contaminationCounts(corpus,
          d.filter(pmod(col("doc_id"), lit(17)) === 0), "doc_id", "text", 4)
        .select(col("id").as("doc_id"), lit(1).as("is_cont"))
      val train = graft.ops.Sampling.hashSplit(corpus, col("doc_id"),
          SparkEntry.splitFractions)
        .select(col("doc_id"), col("text"), col("split"))
        .join(cont, Seq("doc_id"), "left")
        .withColumn("is_cont", coalesce(col("is_cont"), lit(0)))
        .filter(col("split") === "train" || col("is_cont") === 1)
        .join(keepIds, Seq("doc_id"))
      graft.ops.Packing.sequenceAssignments(train, Seq(col("doc_id")),
          TextOps.tokenCount(col("text")), budget = 512L)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
          col("is_cont"), col("seq_first"), col("seq_last"))
    }),

    // C4 — soft-dedup-weighted data mixture, the composed pipeline behind
    // x17 + x13: near-dup clusters (d6) → per-doc weight 1/|cluster| →
    // per-SOURCE effective tokens Σ n_tokens·weight_bp → √-temperature
    // largest-remainder allocation over effective (not raw) mass → salted
    // hash-rank picks. The composition is the point: a source that padded
    // itself with near-duplicates gets the share its UNIQUE content earns —
    // proportional-to-raw-count mixing (x13 on row counts) rewards
    // duplication; this pipeline removes that incentive without dropping a
    // single row. All-integer end to end (the weight grid + the 1e6 sqrt
    // grid + largest remainder); scale = d6's clustering + one corpus join
    // + a strata-sized quota broadcast.
    "c4_weighted_mix" -> ((s, dir) => {
      val d = docs(s, dir)
      // DISK_ONLY, not cache(): the q22 lesson applied to the composed
      // pipelines (r11: c4 ran 13× slower in the driver's loaded 8 GiB-heap
      // bench than quiet). A deserialized MEMORY_AND_DISK cache of the
      // signature relation competes with the CC iterations' execution
      // memory; serialized disk blocks cost ~nothing to re-read through the
      // page cache and can never cascade into recompute-under-pressure.
      val sigs = DedupOps.signatures(d, "doc_id", "text", 16)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val pairs = DedupOps.pairsFromSignatures(sigs, 16, 4)
        .filter(col("est_jaccard") >= 0.5)
      val labeled = DedupOps.connectedComponents(pairs)
      val sizes = labeled.join(
          labeled.groupBy(col("cluster_id")).agg(count(lit(1)).as("cs")),
          "cluster_id")
        .select(col("id").as("doc_id"), col("cs"))
      val weighted = d
        .select(col("doc_id"), col("source"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .join(sizes, Seq("doc_id"), "left")
        .withColumn("eff_bp",
          col("n_tokens") * expr("10000 div coalesce(cs, 1)"))
      graft.ops.Sampling.temperatureExactWeighted(weighted, col("doc_id"),
          col("source"), col("eff_bp"), total = 300, salt = "c4")
        .select(col("stratum").as("source"), col("key").as("doc_id"),
          col("pick_rank"), col("eff_w"), col("quota"))
    }),

    // X2 — sequence packing (LLM dataloader): docs concatenated in doc_id
    // order, sliced into 512-token training sequences with docs splitting
    // at boundaries. The assignment is arithmetic over an exclusive global
    // running sum computed with the two-pass range-partitioned primitive —
    // no single-partition window anywhere.
    "x2_sequence_packing" -> ((s, dir) =>
      graft.ops.Packing.sequenceAssignments(
          docs(s, dir).select(col("doc_id"), col("text")),
          Seq(col("doc_id")), TextOps.tokenCount(col("text")), budget = 512L)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
          col("seq_first"), col("seq_last"), col("n_splits"))),

    // X3 — exactly-20-per-language deterministic panel: rows ranked inside
    // each domain by salted key-hash (a reproducible shuffle), first 20
    // kept — the eval-panel counterpart of x1's Bernoulli mixture. Group
    // top-k compiles to WindowGroupLimit.
    "x3_domain_panel" -> ((s, dir) =>
      graft.ops.Sampling.domainPanel(docs(s, dir), col("doc_id"), col("lang"), k = 20)
        .select(col("doc_id"), col("lang"), col("panel_rank").cast("long").as("panel_rank"))),

    // T7 — Gopher-style repetition signals: duplicate-token fraction and
    // the fraction of adjacent-2-gram slots taken by the most frequent
    // 2-gram. Per-row array math (native gram array, sort, run-length scan)
    // — no shuffle; the oracle recomputes via unnest + groupBy + max.
    "t7_repetition" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.dupTokenFraction(col("text")).as("dup_token_frac"),
        TextOps.topBigramFraction(col("text")).as("top_2gram_frac"))),

    // T8 — PII scrubbing. The synthetic corpus contains no PII, so a
    // deterministic email + phone is planted on every 5th doc first (both
    // engines build the identical augmented text); the scrubber then masks
    // with RE2-safe patterns (explicit classes, no lookarounds — Java and
    // RE2 agree). Output pins the match counts and the md5 of the scrubbed
    // text, so a single divergent replacement anywhere fails the hash.
    "t8_pii_redact" -> ((s, dir) => {
      val aug = docs(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.org or call +1-555-"),
            lpad(col("doc_id").cast("string"), 4, "0")))
          .otherwise(col("text")).as("t"))
      aug.select(col("doc_id"),
        TextOps.piiCount(col("t"), TextOps.emailPattern).as("n_emails"),
        TextOps.piiCount(col("t"), TextOps.phonePattern).as("n_phones"),
        md5(TextOps.redactPii(col("t"))).as("red_fp"))
    }),

    // T10 — frequency-ranked vocabulary (tokenizer-training lite): term →
    // count + dense id, count-desc/term-asc deterministic ids. The window
    // ranks the VOCABULARY (distinct terms), not the corpus.
    "t10_vocab" -> ((s, dir) =>
      TextOps.vocabulary(docs(s, dir), "text", topK = 50)
        .select(col("term"), col("n_occ"), col("vocab_id"))),

    // T21 — vocabulary ID-ENCODING (the dataloader transform the t10
    // vocabulary exists for): each document becomes its ordered token-id
    // sequence under the frequency-ranked vocab, OOV → −1 — the exact
    // array a training run consumes, with the OOV count as the coverage
    // signal. Order is carried by posexplode positions through the
    // broadcast vocab join and reassembled with sort_array — never an
    // implicit collect order. Output bounded to doc_id < 100 (the encode
    // itself runs corpus-wide; only the checked rendering is capped).
    "t21_encode_ids" -> ((s, dir) => {
      val d = docs(s, dir)
      val vocab = TextOps.vocabulary(d, "text", topK = 50)
        .select(col("term"), col("vocab_id"))
      val toks = d.select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "term")))
        .filter(col("term") =!= "")
      toks.join(broadcast(vocab), Seq("term"), "left")
        .withColumn("tid", coalesce(col("vocab_id"), lit(-1L)))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          count(when(col("tid") === -1L, lit(1))).as("n_oov"),
          concat_ws(",", transform(
            sort_array(collect_list(struct(col("pos"), col("tid")))),
            x => x.getField("tid").cast("string"))).as("ids"))
        .filter(col("doc_id") < 100)
    }),

    // T23 — sliding-window token CHUNKING with overlap (size 64, stride 48,
    // overlap 16): the context-window chunker every RAG and pretraining
    // pipeline runs before embedding/packing. Contract pinned: chunk i
    // starts at 48·i; a non-first start is emitted only if it adds ≥1 new
    // token past its predecessor (no pure-suffix chunks); trailing chunk
    // may be short. Chunk CONTENT is pinned by an md5 fingerprint of the
    // space-joined slice — order-sensitive, so a wrong slice bound or
    // off-by-one start hashes differently. Oracle restates the same
    // start-ladder with range() + 1-based list slicing.
    "t23_chunk_overlap" -> ((s, dir) => {
      TextOps.chunkWithOverlap(docs(s, dir), "doc_id", "text",
          chunkSize = 64, stride = 48)
        .select(col("doc_id"), col("chunk_id"), col("chunk_start"),
          size(col("chunk")).cast("long").as("n_tokens"),
          substring(md5(concat_ws(" ", col("chunk"))), 1, 8).as("fp8"))
    }),

    // T12 — bigram PMI collocations (Church & Hanks): which adjacent word
    // pairs co-occur far above chance — corpus analysis for tokenizer/
    // quality work, the set-valued counterpart of t9's LM score. Output is
    // the full ≥ minCount set (no ORDER BY on the double — membership is
    // integer-determined, so libm ULP skew cannot change the row set).
    "t12_pmi" -> ((s, dir) =>
      TextOps.bigramPmi(docs(s, dir), "text", minCount = 20L)
        .select(col("gram"), col("n_ab"), col("n_a"), col("n_b"),
          Exact.fmt(col("pmi"), 4).as("pmi_r"))),

    // T29 — skip-gram co-occurrence counts at window 3 (the word2vec/GloVe
    // training-prep relation): t12 sees only ADJACENT pairs; the context
    // window is what embedding trainers actually consume. Pair generation
    // is an in-array nested transform (narrow, codegen'd, O(len·window)
    // per row — never a positional self-join, which would shuffle the
    // token relation `window` times); the only exchange is the groupBy on
    // the canonical pair, a vocab²-bounded relation map-side combine
    // crushes. All-integer output — nothing to format.
    "t29_skipgram" -> ((s, dir) =>
      // fanOut: the in-array pair transform ran single-task (r13 opt)
      TextOps.skipGramPairs(fanOut(docs(s, dir), col("doc_id")), "text",
          window = 3, minCount = 20L)
        .select(col("w_a"), col("w_b"), col("n_pair"))),

    // T30 — RAKE keyword extraction (Rose et al. 2010): stopword-free token
    // runs as candidate phrases (gaps-and-islands per doc), scored by the
    // sum of their words' co-occurrence-degree / frequency ratios — the
    // phrase-level extraction pass beside t6's unigram top-terms and t11's
    // query-anchored BM25. Integer-exact: per-word score is deg·1e6 div
    // freq, phrase score an integer sum — no double reaches the output.
    // Islands window partitions by DOC; the score join hits the
    // vocabulary-bounded word-stat relation.
    "t30_rake_keywords" -> ((s, dir) =>
      TextOps.rakeKeywords(docs(s, dir), "doc_id", "text")
        .select(col("phrase"), col("n_words"), col("n_occ"), col("score_e6"))),

    // T31 — the published Gopher quality-filter rule battery (Rae et al.
    // 2021 §A1.1): the document-level keep/drop heuristics a crawl-scale
    // pipeline runs BEFORE dedup — word-count bounds, mean-word-length
    // bounds, symbol ratio, bullet/ellipsis line shares, alpha-word share,
    // stopword presence. The synthetic corpus is newline- and symbol-free
    // (rules 3-5 would never fire), so — the t8 PII pattern — deterministic
    // doc_id-keyed augmentation plants the failure shapes on both engines
    // identically: every 7th doc gets 10 bullet lines (>90% bullet share),
    // every 11th two trailing ellipsis lines, every 13th a '#'/'...' symbol
    // tail. Flags are emitted PER RULE (an audit tunes thresholds rule by
    // rule), each an integer cross-multiplication — no ratio double exists
    // anywhere. One narrow scan, whole-stage codegen, no exchange.
    "t31_gopher_rules" -> ((s, dir) => {
      val bullets = (1 to 10).map(i => s"- item $i").mkString("\n") + "\n"
      val aug = docs(s, dir)
        .withColumn("t0",
          when(pmod(col("doc_id"), lit(7)) === 0, concat(lit(bullets), col("text")))
            .otherwise(col("text")))
        .withColumn("t1",
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("t0"), lit("\nmore to come...\nand then...")))
            .otherwise(col("t0")))
        .withColumn("t",
          when(pmod(col("doc_id"), lit(13)) === 0,
            concat(col("t1"), lit(" ######## ... ... ...")))
            .otherwise(col("t1")))
        .select(col("doc_id"), col("t"))
      TextOps.gopherRules(aug, "doc_id", "t")
    }),

    // T11 — BM25 keyword relevance against a fixed query-term set (the
    // lexical retrieval scorer behind Lucene/Elasticsearch; Lucene-form
    // always-positive idf). k1=1.2 / b=0.75 live as source literals
    // mirrored by the oracle's CAST('…' AS DOUBLE) parses — deriving k1+1
    // or 1−b arithmetically could land 1 ULP off the other engine. Per-doc
    // sum routes through DECIMAL(30,10) (the t9 contract), so the score is
    // order-independent and the ln's libm skew stays behind %.4f.
    "t11_bm25" -> ((s, dir) =>
      TextOps.bm25(docs(s, dir), "doc_id", "text", Seq("spark", "query", "window"))
        .select(col("id").as("doc_id"), col("n_hit"),
          Exact.fmt(col("bm25"), 4).as("bm25_r"))),

    // T19 — vocabulary growth curve (Heaps' law V(N) ≈ K·N^β, the
    // companion of t14's Zipf fit): distinct-vocabulary size at each
    // corpus-prefix decile, in a fixed deterministic reading order
    // (doc_id, token index). A natural corpus grows ~N^0.5; a crawl
    // whose curve flattens early is template-heavy, one that stays
    // near-linear is noise. ENTIRELY integer-exact: global token
    // positions via the two-pass range-partitioned rank, first-occurrence
    // positions per term, decile thresholds by integer division, V(P) one
    // broadcast-checkpoint filter over the vocabulary-sized firsts
    // relation. No transcendental ever touches the output.
    "t19_vocab_growth" -> ((s, dir) => {
      val tok = docs(s, dir)
        .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("idx", "t")))
        .filter(col("t") =!= "")
      val pos = graft.ops.Ranking.globalRowNumber(
        tok, Seq(col("doc_id"), col("idx")), "pos")
      val firsts = pos.groupBy(col("t")).agg(min(col("pos")).as("fp"))
      val n = tok.count() // metadata-cheap count job (s2 precedent)
      val cps = s.createDataFrame((1 to 10).map(i => (i, n * i / 10)))
        .toDF("decile", "cp")
      firsts.crossJoin(broadcast(cps))
        .filter(col("fp") <= col("cp"))
        .groupBy(col("decile"), col("cp"))
        .agg(count(lit(1)).as("vocab_size"))
        .select(col("decile"), col("cp").as("n_tokens"), col("vocab_size"))
    }),

    // T18 — per-document token-entropy quality signal: Shannon entropy of
    // the doc's unigram distribution, H = ln N − (Σ c·ln c)/N nats — low
    // entropy flags repetitive/templated docs (the distributional
    // complement of t7's literal repetition counts: t7 sees adjacent
    // copies, entropy sees ANY skewed reuse). Each transcendental term
    // truncates to DECIMAL(30,10) before the exact sum (the t9 contract)
    // so the reduction is order-independent and the libm ULP skew stays
    // behind %.4f. One explode → two partial-aggregated groupBys, all
    // narrow — token-linear at 100 TB.
    "t18_token_entropy" -> ((s, dir) => {
      val cnt = docs(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
        .filter(col("t") =!= "")
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      cnt.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
          Exact.sumD(col("c").cast("double") * log(col("c").cast("double")), 10)
            .as("sclogc"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          Exact.fmt(log(col("n_tokens").cast("double"))
            - col("sclogc") / col("n_tokens"), 4).as("entropy_r"))
    }),

    // T9 — bigram LM quality score (CCNet/KenLM-style perplexity proxy,
    // model trained on the corpus itself): per doc, mean ln P(w2|w1) from
    // global bigram/context counts. Each log term truncates to
    // DECIMAL(30,10) before the exact sum, so the mean is order-independent
    // and digit-mirrorable.
    "t9_lm_score" -> ((s, dir) =>
      TextOps.bigramLmScore(docs(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"),
          Exact.fmt(col("mean_logp"), 4).as("mean_logp_r"))),

    // T27 — held-out perplexity scoring (the CCNet-style filter shape):
    // test docs (doc_id ≡ 0 mod 7) scored under a bigram LM trained on
    // the REST of the corpus, add-one smoothed, OOV mapped to a reserved
    // symbol — unseen bigrams get finite mass, unlike t9's self-scored
    // unsmoothed form. The ln sits behind avgD(10)+%.4f (the t9/t12
    // transcendental discipline); counts and V are exact integers.
    "t27_heldout_ppl" -> ((s, dir) => {
      val d = docs(s, dir)
      TextOps.heldOutLmScore(
          d.filter(pmod(col("doc_id"), lit(7)) =!= 0),
          d.filter(pmod(col("doc_id"), lit(7)) === 0),
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"), col("n_oov"),
          Exact.fmt(col("mean_logp"), 4).as("mean_logp_r"))
    }),

    // T32 — interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995,
    // Chen & Goodman's interpolated form, D = 3/4) on the same 1-in-7
    // held-out split as t27's add-one baseline: probabilities are exact
    // long rationals (D = 3/4 clears denominators via ×4), unseen contexts
    // back off to the continuation distribution, zero-mass bigrams are
    // counted and excluded from the mean — the published-standard smoother
    // beside the baseline, sharing its ln/DECIMAL(30,10)/%.4f rendering
    // contract.
    "t32_kneser_ney" -> ((s, dir) => {
      val d = docs(s, dir)
      TextOps.kneserNeyScore(
          d.filter(pmod(col("doc_id"), lit(7)) =!= 0),
          d.filter(pmod(col("doc_id"), lit(7)) === 0),
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"), col("n_zero"),
          when(col("mean_logp").isNull, lit(null: String))
            .otherwise(Exact.fmt(col("mean_logp"), 4)).as("mean_logp_r"))
    }),

    // T33 — tokenizer fertility by language (the multilingual-tokenizer
    // equity metric: subwords per word and characters per subword — a
    // language whose fertility runs high pays more sequence length per
    // sentence, the bias tokenizer papers report): t5's BPE-ish subword
    // count over the t1 word count, aggregated per lang, both ratios in
    // exact basis points via the x18 split-division identity. One narrow
    // scan + one |langs|-row aggregate.
    "t33_fertility" -> ((s, dir) =>
      docs(s, dir).filter(length(trim(col("text"))) > 0)
        .select(col("lang"),
          TextOps.tokenCount(col("text")).cast("long").as("n_words"),
          TextOps.bpeishTokenCount(col("text")).cast("long").as("n_sub"),
          length(regexp_replace(col("text"), "\\s", "")).cast("long").as("n_chars"))
        .groupBy(col("lang"))
        .agg(sum(col("n_words")).as("words"), sum(col("n_sub")).as("subs"),
          sum(col("n_chars")).as("chars"))
        .select(col("lang"), col("words"), col("subs"), col("chars"),
          expr("(subs div words) * 10000 + ((subs % words) * 10000) div words")
            .as("fertility_bp"),
          expr("(chars div subs) * 10000 + ((chars % subs) * 10000) div subs")
            .as("chars_per_sub_bp"))),

    // T26 — feature hashing (the "hashing trick", Weinberger '09): tokens
    // hashed into 16 signed buckets — the fixed-width featurizer that
    // needs NO vocabulary pass, which is exactly why it scales where t21's
    // vocab join can't (no dictionary to build, broadcast, or keep
    // consistent across 100 TB re-runs). bucket = md5 hex digit 1, sign =
    // digit 2's parity (collision bias cancels in expectation — the
    // signed-sum property the trick depends on); one explode + one
    // (doc, bucket) partial-aggregated sum, scan-bound.
    "t26_feature_hash" -> ((s, dir) =>
      // fanOut: tokenize+md5 kernel ran single-task on the one-split scan
      fanOut(docs(s, dir), col("doc_id")).filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
        .withColumn("hx", md5(col("t")))
        .withColumn("bucket", conv(substring(col("hx"), 1, 1), 16, 10).cast("long"))
        .withColumn("sgn", when(
          conv(substring(col("hx"), 2, 1), 16, 10).cast("int") % 2 === 0,
          1L).otherwise(-1L))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(sum(col("sgn")).as("v"))),

    // X15 — out-of-fold target encoding: the category→mean-target feature
    // with the leakage guard real ML pipelines need (a row must never see
    // its own fold's target, or the feature memorizes the label — the
    // x12/x14 leakage theme at the feature level). The closed form needs
    // no per-fold re-aggregation: oof_mean = (Σ_total − Σ_fold)/(n_total −
    // n_fold), with both sums EXACT decimals so the subtraction is exact
    // and the single double rounding happens once, mirrored. Two narrow
    // aggregates over one scan — fold count never multiplies the data
    // pass.
    "x15_target_encode" -> ((s, dir) => {
      val f = ev(s, dir)
        .select(col("event_type"), pmod(col("user_id"), lit(5)).as("fold"),
          col("value"))
        .groupBy(col("event_type"), col("fold"))
        .agg(count(lit(1)).as("n_f"),
          sum(col("value").cast("decimal(30,4)")).as("s_f"))
      val t = f.groupBy(col("event_type"))
        .agg(sum(col("n_f")).as("n_t"), sum(col("s_f")).as("s_t"))
      f.join(t, Seq("event_type"))
        // single-fold guard (ADVICE r10): if every row of a category lands
        // in one fold, n_t = n_f and the 0/0 double is engine-dependent
        // (Spark NaN vs DuckDB error/Inf) — such a category has no
        // out-of-fold rows to encode, so drop it on both sides
        .filter(col("n_t") > col("n_f"))
        .select(col("event_type"), col("fold"), col("n_f"),
          Exact.fmt((col("s_t") - col("s_f")).cast("double")
            / (col("n_t") - col("n_f")).cast("double"), 6).as("oof_r"))
    }),

    // X16 — RAG prompt packing: per query, retrieved candidates admitted
    // in relevance order while the RUNNING token total stays within the
    // context budget (256) — the few-shot/context-window assembly step
    // between retrieval and the model. Admission contract is the prefix
    // form (keep rows whose cumulative total ≤ budget): monotone and
    // order-faithful — a greedy skip-the-big-doc variant would reorder
    // relevance, which is a different operator. One prefix-sum window
    // over the per-query rank order (a top-20 relation, never the
    // corpus) joined to the doc token counts.
    "x16_prompt_pack" -> ((s, dir) => {
      val e = emb(s, dir)
      val cands = SimilarityOps.bruteForceTopK(e, e.filter(col("vec_id") < 3),
          "vec_id", "embedding", 20)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
      val toks = docs(s, dir).select(col("doc_id").as("neighbor_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
      cands.join(toks, Seq("neighbor_id"))
        .withColumn("cum_tok", sum(col("n_tok")).over(w))
        .filter(col("cum_tok") <= 256)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("n_tok"), col("cum_tok"))
    }),

    // X19 — length-grouped batching audit (the dataloader "dynamic
    // batching" trade): fixed-size batches padded to their longest member
    // waste max−len slots per doc; sorting by length before batching is the
    // standard fix (any bucketing dataloader). Both strategies are built
    // with the SAME two-pass range-partitioned global rank (Ranking.
    // globalRowNumber — never a single-partition window), batch_id =
    // (pos−1) div 32, and audited exactly: n_pad = Σ_b (max_b·|b|) − Σ len,
    // waste in integer basis points via the x18 split-division discipline.
    // Output is one row per strategy — the sorted row's waste_bp is the
    // number a dataloader owner reads off this audit.
    "x19_length_batching" -> ((s, dir) => {
      val bs = 32
      val base = docs(s, dir).select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
      def audit(ordered: DataFrame, strategy: String): DataFrame =
        ordered.withColumn("batch_id", expr(s"(pos - 1) div $bs"))
          .groupBy(col("batch_id"))
          .agg(count(lit(1)).as("n_in"), sum(col("n_tok")).as("tok"),
            max(col("n_tok")).as("mx"))
          .agg(count(lit(1)).as("n_batches"), sum(col("tok")).as("n_tokens"),
            sum(col("mx") * col("n_in")).as("n_slots"))
          .select(lit(strategy).as("strategy"), col("n_batches"),
            col("n_tokens"), (col("n_slots") - col("n_tokens")).as("n_pad"),
            expr("""((n_slots - n_tokens) div n_slots) * 10000
                   + (((n_slots - n_tokens) % n_slots) * 10000) div n_slots""")
              .as("waste_bp"))
      audit(graft.ops.Ranking.globalRowNumber(base, Seq(col("doc_id"))), "naive")
        .unionByName(
          audit(graft.ops.Ranking.globalRowNumber(base,
            Seq(col("n_tok"), col("doc_id"))), "length_sorted"))
    }),

    // X18 — deterministic multiplier bootstrap CI for the per-type mean
    // (the scale-out bootstrap family: hash-seeded weights instead of
    // resampling, cf. Chamandy et al., "Estimating Uncertainty for Massive
    // Data Streams" / the multiplier-bootstrap literature): each row gets,
    // per replica b, weight w ∈ {0,1,2} = Binomial(2,½) (mean 1, var ½)
    // read from bits (2b, 2b+1) of ONE md5 per row — so 24 replicas cost
    // one hash + 24 codegen'd shift/masks, and the oracle reconstructs
    // every weight from the same hex. Replica means are exact integer
    // basis-points via the two-step split-division identity
    // (q·10⁴ + r·10⁴ div n with q = s div n, r = s mod n — never s·10⁴,
    // so nothing overflows at any corpus size; the q22 lift lesson as a
    // DESIGN rule, not a patch). CI = 2nd / (B−1)th order statistics of
    // the 24 replica means (≈ the 4%/96% percentile bootstrap). Scale:
    // all 24 replicas partial-aggregate inside ONE groupBy scan (48 sum
    // columns, no row explode); the only exchange carries |types| rows.
    "x18_bootstrap_ci" -> ((s, dir) => {
      val B = 24
      // ONE hex parse per row (first 12 md5 digits → a 48-bit long), then
      // every replica weight is a codegen'd shift/mask: w_b = ((h>>2b & 3)
      // + 1) >> 1 — Binomial(2,½) from bits (2b, 2b+1). All 24 replicas
      // partial-aggregate inside a single groupBy(event_type) scan (48 sum
      // columns), so there is NO ×B row explode and no string op past the
      // parse — the first cut exploded 24× and conv'd a hex digit per
      // exploded row: 78 s at the 100× probe; this shape is 3.9 s.
      val base = ev(s, dir).select(col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"),
        conv(substring(md5(concat(lit("boot:"), col("event_id").cast("string"))), 1, 12),
          16, 10).cast("long").as("h"))
      def w(b: Int): Column =
        shiftright(shiftright(col("h"), 2 * b).bitwiseAND(lit(3L)) + lit(1L), 1)
      val aggCols = (0 until B).flatMap(b => Seq(
        sum(w(b) * col("cents")).as(s"swx$b"), sum(w(b)).as(s"sw$b"))) ++
        Seq(sum(col("cents")).as("sc"), count(lit(1)).as("nr")) // point est too
      val perType = base.groupBy(col("event_type"))
        .agg(aggCols.head, aggCols.tail: _*)
        .localCheckpoint() // 5 rows; both consumers read it, ONE events scan
      val rep = perType.select(col("event_type"),
          explode(array((0 until B).map(b => struct(lit(b).as("b"),
            col(s"swx$b").as("swx"), col(s"sw$b").as("sw"))): _*)).as("r"))
        .select(col("event_type"), col("r.b").as("b"),
          col("r.swx").as("swx"), col("r.sw").as("sw"))
        .filter(col("sw") > 0)
        .select(col("event_type"), col("b"),
          expr("(swx div sw) * 10000 + ((swx % sw) * 10000) div sw").as("mean_bp"))
      val wRk = Window.partitionBy(col("event_type"))
        .orderBy(col("mean_bp"), col("b"))
      val rk = rep.withColumn("rnk", row_number().over(wRk))
        .withColumn("nb", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      val pt = perType.select(col("event_type"),
        expr("(sc div nr) * 10000 + ((sc % nr) * 10000) div nr").as("point_bp"))
      pt.join(rk.filter(col("rnk") === 2)
            .select(col("event_type"), col("mean_bp").as("lo_bp")), Seq("event_type"))
        .join(rk.filter(col("rnk") === col("nb") - 1)
            .select(col("event_type"), col("mean_bp").as("hi_bp")), Seq("event_type"))
        .select(col("event_type"), col("point_bp"), col("lo_bp"), col("hi_bp"))
    }),

    // X17 — dedup-aware sampling weights ("soft dedup"): instead of
    // dropping near-duplicates, every doc gets weight 1/|cluster| over the
    // d6 near-dup clustering (singletons weigh 1), so a duplicated document
    // contributes ~once in expectation to the training mixture — the
    // repetition-aware alternative to hard removal that data-constrained
    // scaling work (Muennighoff et al. 2023) prefers when the corpus is the
    // bottleneck. Weights ship as integer basis points (10000 div size —
    // IntegralDivide, BIGINT on both engines); effective tokens =
    // n_tokens · weight_bp, still integer — nothing to format. Scale =
    // d6's (bucketed LSH + CC over the dup-pair graph, linear in corpus)
    // plus one shuffle join back to the corpus on doc_id.
    "x17_dedup_weights" -> ((s, dir) => {
      val d = docs(s, dir)
      val sigs = DedupOps.signatures(d, "doc_id", "text", 16).cache()
      val pairs = DedupOps.pairsFromSignatures(sigs, 16, 4)
        .filter(col("est_jaccard") >= 0.5)
      val labeled = DedupOps.connectedComponents(pairs)
      val sizes = labeled.join(
          labeled.groupBy(col("cluster_id")).agg(count(lit(1)).as("cs")),
          "cluster_id")
        .select(col("id").as("doc_id"), col("cs"))
      d.select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .join(sizes, Seq("doc_id"), "left")
        .withColumn("cluster_size", coalesce(col("cs"), lit(1L)))
        .withColumn("weight_bp", expr("10000 div cluster_size"))
        .select(col("doc_id"), col("cluster_size"), col("weight_bp"),
          col("n_tokens"),
          (col("n_tokens") * col("weight_bp")).as("eff_tokens_bp"))
    }),

    // X4 — benchmark decontamination: train docs sharing a word 4-gram with
    // the held-out set (doc_id % 17 == 0). 4-grams because the synthetic
    // vocabulary is ~40 words (a real pipeline uses 13-grams; the op is
    // parameterized). Shuffle key is md5(gram), fixed-width and uniform.
    "x4_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      DedupOps.contaminationCounts(
          d.filter(pmod(col("doc_id"), lit(17)) =!= 0),
          d.filter(pmod(col("doc_id"), lit(17)) === 0),
          "doc_id", "text", 4)
        .select(col("id").as("doc_id"), col("n_shared_grams"))
    }),

    // X4b — span-level DECONTAMINATION: x4 counts eval-set overlap, x4b
    // REMOVES it — every train token covered by a benchmark 4-gram is
    // scrubbed and the doc kept (the leakage fix that doesn't throw the
    // document away). d8's cover/reassemble machinery with the gram set
    // from the bench relation.
    "x4b_decontam_scrub" -> ((s, dir) => {
      val d = docs(s, dir)
      DedupOps.spanScrubAgainst(
          d.filter(pmod(col("doc_id"), lit(17)) =!= 0),
          d.filter(pmod(col("doc_id"), lit(17)) === 0),
          "doc_id", "text", 4)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_kept"),
          md5(col("cleaned")).as("scrub_fp"))
    }),

    // X5 — stable train/validation/test split: membership is a pure
    // function of the salted doc_id hash, so no row migrates between train
    // and holdout across reruns, appends, or engines — the leakage mode
    // this op prevents. Codegen'd CASE, no shuffle.
    "x5_hash_split" -> ((s, dir) =>
      graft.ops.Sampling.hashSplit(docs(s, dir), col("doc_id"), SparkEntry.splitFractions)
        .select(col("doc_id"), col("lang"), col("split"))),

    // X20 — contamination-aware splitting (x4 composed with x5): a doc
    // sharing benchmark 4-grams must never land in validation/test (it
    // would leak the benchmark into eval), so the x5 hash split is
    // overridden to 'train' for every contaminated doc. This is the other
    // half of the x12 lesson (dedup/decontaminate BEFORE splitting) as an
    // enforced policy rather than an audit. Scale = x4's gram join (one
    // bench-sided broadcastable relation) + x5's per-row hash ladder + one
    // left join on doc_id.
    "x20_decontam_split" -> ((s, dir) => {
      val d = docs(s, dir)
      val corpus = d.filter(pmod(col("doc_id"), lit(17)) =!= 0)
      val cont = DedupOps.contaminationCounts(corpus,
          d.filter(pmod(col("doc_id"), lit(17)) === 0), "doc_id", "text", 4)
        .select(col("id").as("doc_id"), lit(1).as("is_cont"))
      graft.ops.Sampling.hashSplit(corpus, col("doc_id"), SparkEntry.splitFractions)
        .select(col("doc_id"), col("split"))
        .join(cont, Seq("doc_id"), "left")
        .withColumn("is_cont", coalesce(col("is_cont"), lit(0)))
        .withColumn("final_split",
          when(col("is_cont") === 1, lit("train")).otherwise(col("split")))
    }),

    // X6 — deterministic global shuffle (training-data ordering): rows
    // ranked by salted hash via the two-pass range-partitioned rank (never
    // a single-partition window), sharded for parallel write.
    "x6_shuffle" -> ((s, dir) =>
      graft.ops.Sampling.deterministicShuffle(
          docs(s, dir).select(col("doc_id")), col("doc_id"), shards = 8)
        .select(col("doc_id"), col("pos"), col("shard"))),

    // X12 — SPLIT-LEAKAGE audit: near-dup candidate pairs that straddle
    // the x5 train/validation/test boundary — the eval-hygiene number
    // (a test doc with a train near-twin inflates benchmark scores; x4
    // checks cross-CORPUS contamination, this checks the split itself).
    // Hash-splitting is per-doc independent, so near-dup pairs land across
    // splits at the mixing rate — the audit quantifies it: total LSH
    // pairs, within/cross counts, cross rate in bp, and the count of
    // distinct TEST docs with an out-of-split twin (the rows you'd
    // quarantine). All integers.
    "x12_split_leakage" -> ((s, dir) => {
      val d = docs(s, dir)
      val split = graft.ops.Sampling.hashSplit(d, col("doc_id"),
        SparkEntry.splitFractions).select(col("doc_id"), col("split"))
      val pairs = DedupOps.lshCandidatePairs(d, "doc_id", "text", 16, 4)
        .select(col("id_a"), col("id_b"))
        .join(split.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
        .join(split.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
      val testLeaks = pairs.filter(col("sa") =!= col("sb"))
        .select(explode(array(
          struct(col("id_a").as("id"), col("sa").as("sp")),
          struct(col("id_b").as("id"), col("sb").as("sp")))).as("x"))
        .filter(col("x.sp") === "test")
        .select(col("x.id")).distinct()
      pairs.agg(count(lit(1)).as("n_pairs"),
          count(when(col("sa") === col("sb"), lit(1))).as("n_within"),
          count(when(col("sa") =!= col("sb"), lit(1))).as("n_cross"))
        .crossJoin(testLeaks.agg(count(lit(1)).as("n_test_leaked")))
        .select(col("n_pairs"), col("n_within"), col("n_cross"),
          expr("CASE WHEN n_pairs = 0 THEN NULL ELSE n_cross * 10000 div n_pairs END")
            .as("cross_bp"),
          col("n_test_leaked"))
    }),

    // D7 — cross-document duplicated n-gram fractions (span-dedup signal,
    // Lee et al. 2022): distinct 4-grams per doc that occur in >= 2 docs.
    // Both exchanges key on the gram hash; skew lands in one count row.
    // The fraction rides as integer basis points (n_dup·10⁴ div n): a
    // formatted double ties at exact binary fractions like 2/64, where Java
    // %.4f rounds half-up and C printf half-even — integer div is exact on
    // both engines.
    "d7_dup_ngrams" -> ((s, dir) =>
      // fanOut: the gram explode + md5 pass ran single-task (r13 opt)
      DedupOps.crossDocGramStats(fanOut(docs(s, dir), col("doc_id")),
          "doc_id", "text", 4)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_dup_grams"),
          expr("(n_dup_grams * 10000) div n_grams").as("dup_bp"))),

    // D8 — span-level scrub (the removal step d7's statistics motivate):
    // tokens covered by any word 8-gram occurring in ≥2 distinct docs are
    // deleted, survivors re-join in order. All heavy relations token-sized
    // and keyed on the uniform gram hash or doc id; the cleaned text ships
    // as its md5 so the compare stays fixed-width. n_tokens/n_kept are
    // exact integers.
    "d8_span_scrub" -> ((s, dir) =>
      DedupOps.spanScrub(docs(s, dir), "doc_id", "text", gramSize = 8, minDocs = 2)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_kept"),
          md5(col("cleaned")).as("scrub_fp"))),

    // D9 — asymmetric containment (Broder's other similarity): a short doc
    // quoted whole inside a long one has Jaccard |A|/|B| — arbitrarily low,
    // so MinHash bands (collision P = J^r) structurally miss it; its
    // containment is 1.0. Blocking is the rare-gram inverted-posting join
    // (df ∈ [2, cap]): a contained doc shares ALL its grams with its
    // container, so any sub-cap shared gram blocks the pair, and the cap
    // bounds every posting's fan-out at cap² — no boilerplate quadratics.
    // Exact shared-gram counts verify candidates only.
    "d9_containment" -> ((s, dir) =>
      // r13 opt note: fanOut measured flat here (2.3 s both ways) — the
      // posting joins, not the explode kernel, own the time; left alone
      DedupOps.containmentPairs(docs(s, dir), "doc_id", "text",
          gramSize = 8, dfCap = 8)
        .select(col("id_a"), col("id_b"), col("n_shared"),
          Exact.fmt(col("containment"), 4).as("containment_r"))),

    // S10 — per-dimension embedding statistics + top-variance feature
    // selection (the pruning pass before indexing: low-variance dimensions
    // carry no neighbor signal and inflate every distance computation).
    // posexplode → ONE dim-keyed exchange of exact moment sums (the COUNT
    // shape, 64 groups); variance from the moments in one mirrored double
    // chain; ranking on the truncated-BIGINT variance key.
    "s10_dim_variance" -> ((s, dir) => {
      val pts = emb(s, dir)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      graft.ops.Stats.momentsByGroup(pts, col("dim"), col("x"))
        .withColumn("mean", col("sx") / col("n"))
        .withColumn("variance",
          (col("sxx") - col("sx") * col("sx") / col("n")) / col("n"))
        .withColumn("vkey", floor(col("variance") * lit(1e9)).cast("long"))
        .withColumn("vrank",
          // global window over the per-DIM moments (embedding width rows)
          row_number().over(Window.orderBy(col("vkey").desc, col("grp"))))
        .filter(col("vrank") <= 8)
        .select(col("grp").as("dim"), col("n"),
          Exact.fmt(col("mean"), 6).as("mean_r"),
          Exact.fmt(col("variance"), 8).as("var_r"), col("vrank"))
    }),

    // T17 — out-of-vocabulary rate per doc against the corpus top-1000
    // vocabulary (t10's relation): the domain-shift / gibberish signal a
    // curation pipeline tracks per batch. The vocabulary is broadcast
    // (1000 rows) so the token relation never shuffles on term; the rate
    // ships as exact integer basis points.
    "t17_oov_rate" -> ((s, dir) => {
      val d = docs(s, dir)
      val v = TextOps.vocabulary(d, "text", 1000)
        .select(col("term"), lit(1).as("in_v"))
      d.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
        .join(broadcast(v), Seq("term"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("in_v").isNull, 1)).as("n_oov"))
        .withColumn("oov_bp", expr("n_oov * 10000 div n_tokens"))
    }),

    // O22 — snapshot diff (the reconciliation report every ingest pipeline
    // runs between versions): per-user aggregates of the first-half and
    // second-half day ranges FULL-OUTER joined on the key and classified
    // added / removed / changed / unchanged. The one join type nothing
    // else in the engine exercises; equality checks compare exact
    // decimals, so classification is engine-independent.
    "o22_snapshot_diff" -> ((s, dir) => {
      val e = ev(s, dir).select(col("user_id"),
        expr("unix_timestamp(ts) div 86400").as("day"), col("value"))
      val mid = e.agg(((min(col("day")) + max(col("day"))) / lit(2L))
        .cast("long").as("mid"))
      val tagged = e.crossJoin(broadcast(mid))
      def snap(f: Column => Column) =
        tagged.filter(f(col("mid")))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(30,2)")).as("s"))
      val a = snap(m => col("day") <= m)
        .select(col("user_id"), col("n").as("a_n"), col("s").as("a_s"))
      val b = snap(m => col("day") > m)
        .select(col("user_id"), col("n").as("b_n"), col("s").as("b_s"))
      a.join(b, Seq("user_id"), "full_outer")
        .select(col("user_id"), col("a_n"), col("b_n"),
          Exact.fmt(col("a_s").cast("double"), 2).as("a_s_r"),
          Exact.fmt(col("b_s").cast("double"), 2).as("b_s_r"),
          when(col("a_n").isNull, "added")
            .when(col("b_n").isNull, "removed")
            .when(col("a_n") === col("b_n") && col("a_s") === col("b_s"),
              "unchanged")
            .otherwise("changed").as("status"))
    }),

    // O23 — incremental materialized-view maintenance: the (event_type,
    // day) aggregate view kept in mergeable (n, exact-decimal sum) form; a
    // new delta (here: second half of each month) is partial-aggregated
    // alone and keyed-merged against the existing snapshot. The oracle is
    // the FULL recompute — the merge algebra must reproduce it bit-for-bit
    // ([[graft.ops.Incremental]]). At 100 TB the refresh scans only the
    // delta; the merge shuffles view rows, not data rows.
    "o23_incremental_agg" -> ((s, dir) => {
      val e = ev(s, dir).select(col("event_type"),
        expr("unix_timestamp(ts) div 86400").as("day"), col("value"),
        dayofmonth(col("ts")).as("dom"))
      val keys = Seq(col("event_type"), col("day"))
      val snapshot = graft.ops.Incremental.partial(
        e.filter(col("dom") <= 15), keys, col("value"))
      val delta = graft.ops.Incremental.partial(
        e.filter(col("dom") > 15), keys, col("value"))
      graft.ops.Incremental.merge(Seq(snapshot, delta), Seq("event_type", "day"))
        .select(col("event_type"), col("day"), col("n").as("n_events"),
          Exact.fmt(col("s").cast("double"), 4).as("sum_r"))
    }),

    // O39 — dataset card (the published-dataset manifest: what a datasheet
    // / dataset-card block reports about a corpus): doc/token totals,
    // vocabulary-free structural stats, language/source diversity, exact-
    // duplicate rate in basis points (t4 fingerprints), exact median doc
    // length (order statistic at (n+1) div 2 — no interpolation), per-lang
    // token mass. One narrow long-schema (metric, value) relation so the
    // card is append-only as metrics grow. All BIGINT; the only windows
    // ride the days-sized... corpus-RANK for the median, computed as a
    // max-over-filter (rank ≤ (n+1) div 2) — no single-partition window.
    "o39_dataset_card" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"), col("source"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"),
        TextOps.fingerprint(col("text")).as("fp"))
      def row(m: String, v: Column) = Seq(lit(m).as("metric"), v.as("value"))
      val totals = d.agg(
        count(lit(1)).as("docs_total"), sum(col("n_tok")).as("tokens_total"),
        countDistinct(col("lang")).as("langs"),
        countDistinct(col("source")).as("sources"),
        countDistinct(col("fp")).as("distinct_fp"),
        min(col("n_tok")).as("min_tok"), max(col("n_tok")).as("max_tok"))
      val scalar = totals.select(explode(array(
          struct(row("docs_total", col("docs_total")): _*),
          struct(row("tokens_total", col("tokens_total")): _*),
          struct(row("langs_distinct", col("langs")): _*),
          struct(row("sources_distinct", col("sources")): _*),
          struct(row("exact_dup_docs", col("docs_total") - col("distinct_fp")): _*),
          struct(row("exact_dup_bp",
            expr("(docs_total - distinct_fp) * 10000 div docs_total")): _*),
          struct(row("min_doc_tokens", col("min_tok")): _*),
          struct(row("max_doc_tokens", col("max_tok")): _*))).as("r"))
        .select(col("r.metric"), col("r.value"))
      // exact median: the (n+1) div 2-th smallest n_tok under (n_tok, doc_id)
      // order — rank from the two-pass range-partitioned ranker
      val ranked = graft.ops.Ranking.globalRowNumber(
        d.select(col("n_tok"), col("doc_id")), Seq(col("n_tok"), col("doc_id")), "pos")
      val med = ranked.crossJoin(broadcast(totals.select(col("docs_total"))))
        .filter(col("pos") === expr("(docs_total + 1) div 2"))
        .select(lit("p50_doc_tokens").as("metric"), col("n_tok").as("value"))
      val perLang = d.groupBy(col("lang"))
        .agg(sum(col("n_tok")).as("value"))
        .select(concat(lit("tokens_lang_"), col("lang")).as("metric"), col("value"))
      scalar.unionByName(med).unionByName(perLang)
    }),

    // T16 — pivot (long→wide): per-source token mass cross-tabbed by
    // language — the mixture-balance report a corpus pipeline prints.
    // Pivot values are an EXPLICIT list: without it Spark runs an eager
    // distinct scan to discover columns (a second job over the corpus at
    // 100 TB) and the output schema becomes data-dependent. Absent
    // (source, lang) cells surface as null on both engines.
    "t16_lang_pivot" -> ((s, dir) =>
      docs(s, dir)
        .select(col("source"), col("lang"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(sum(col("n_tok")))),

    // T15 — per-doc top-3 TF-IDF keywords: the corpus-statistics tagging
    // pass (tf one (doc,term) count, df one term count over it, top-k a
    // WindowGroupLimit). Rank order keys on the BIGINT-truncated score
    // (t9 ln contract) with a term tie-break — engine-exact ordering.
    "t15_tfidf" -> ((s, dir) =>
      TextOps.tfidfTopK(docs(s, dir), "doc_id", "text", k = 3)
        .select(col("id").as("doc_id"), col("term"), col("rank"),
          col("tf"), col("df"), col("score_r"))),

    // T13 — inverted index build: term → document frequency + the 10
    // lowest doc ids as a deterministic posting sample (distinct'd,
    // numerically sorted, sliced, stringified — physical layout cannot
    // reorder it). Stop-term skew lands in single grouped rows; full
    // posting lists would shard by (term, bucket) at 100 TB (see
    // TextOps.invertedIndex doc).
    "t13_inverted_index" -> ((s, dir) =>
      TextOps.invertedIndex(docs(s, dir), "doc_id", "text", topDocs = 10)
        .select(col("term"), col("df"), col("postings_head"))),

    // J6 — range (interval) join at scale: events matched to irregular
    // quadratic value bands [i², (i+1)²) via RangeJoin.viaBins — bands
    // expand to width-8 bins, the join is a plain equi-join on the bin
    // (shuffleable hash join, never a nested loop), the exact range
    // predicate remains as residual filter. Oracle uses the theta-join
    // formulation directly; both must agree row-for-row.
    "j6_range_join" -> ((s, dir) => {
      val bands = s.range(23).select(col("id").as("band_id"),
        (col("id") * col("id")).cast("double").as("lo"),
        ((col("id") + 1) * (col("id") + 1)).cast("double").as("hi"))
      graft.ops.RangeJoin.viaBins(
          ev(s, dir).select(col("value")), "value", bands, "lo", "hi", binWidth = 8.0)
        .groupBy(col("band_id"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n_events"), Exact.sumD(col("value"), 2).as("sum_value"))
    }),

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
    "j9_interval_join" -> ((s, dir) => {
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
    }),

    // S6 — ANN quality metric: recall@5 of the IVF(nprobe=2) plan against
    // the exact brute-force top-5, per query — the evaluation loop an
    // embedding pipeline runs when tuning nlist/nprobe.
    // S30 — the nprobe TUNING CURVE (the knob every IVF deployment turns:
    // recall@5 against probe breadth in one relation): the s6 recall
    // comparison swept at nprobe ∈ {1, 2, 4} over ONE shared assignment
    // (index built once — only the query-side probe set varies, exactly
    // the production trade). Emitted as exact per-(nprobe, query) hit
    // counts; monotone non-decreasing in nprobe by construction, which
    // the relation exhibits rather than asserts.
    "s30_nprobe_curve" -> ((s, dir) => {
      val e = emb(s, dir)
      val brute = SimilarityOps.bruteForceTopK(
          e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      val centroids = e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val assigned = SimilarityOps.assignToCentroids(e, centroids, "vec_id", "embedding")
      // One ranked probe set at the DEEPEST depth scores the probed cells
      // once; nprobe=np's candidate cells are exactly rank r <= np, so each
      // grid point is a filter over the shared scored relation instead of
      // its own corpus pass (3 scoreProbedCells passes + 3 probe windows
      // -> 1 + 1). Per-(nprobe, query) ranking reproduces ivfTopK's window
      // (sim desc, neighbor_id) verbatim — grid points are independent
      // window partitions.
      val probes = SimilarityOps.probeCellsRanked(
        e.filter(col("vec_id") < 5), centroids, "vec_id", "embedding", nprobe = 4)
      val wnp = Window.partitionBy(col("nprobe"), col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id"))
      assigned.select(col("vec_id").as("neighbor_id"),
          col("embedding").cast("array<double>").as("cv"), col("centroid_id"))
        .join(broadcast(probes), Seq("centroid_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          SimilarityOps.cosine(col("qv"), col("cv")).as("sim"),
          explode(filter(array(lit(1), lit(2), lit(4)), np => np >= col("r")))
            .as("nprobe"))
        .withColumn("rank", row_number().over(wnp)).filter(col("rank") <= 5)
        .select(col("nprobe"), col("query_id"), col("neighbor_id"))
        .join(brute, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("nprobe"), col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
    }),

    // S36 — nlist tuning curve (the OTHER index knob beside s30's nprobe):
    // recall@5 at nprobe=2 under a coarse (stride·4), base (the adaptive
    // default), and fine (stride/4, floor 2) centroid grid, with k_cells
    // riding along — finer grids probe fewer candidates per cell but risk
    // recall when the 2 probed cells stop covering the true neighbors;
    // the curve is what an index owner reads before re-sharding a 100 TB
    // index. Same exact chain as s2/s30 (assignment + probe tie-breaks),
    // brute truth computed once.
    "s36_nlist_curve" -> ((s, dir) => {
      val e = emb(s, dir)
      val baseStride = Adaptive.centroidStride(e.count())
      val brute = SimilarityOps.bruteForceTopK(
          e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      // The three grids are MEMBERSHIP FLAGS over one union centroid set
      // (vec_id % st == 0 per stride), so assignment, probing, scoring and
      // the cell census all ride ONE corpus pass each instead of one per
      // grid point (3 assign exchanges + 3 score passes + 3 census aggs
      // -> 1 + 1 + 1). Per-grid results are reproduced exactly: the argmax
      // is max_by over the SAME (csim, -centroid_id) struct null-masked to
      // the grid's members, and every window partitions by (nlist_tag, ...)
      // so grid points never see each other's rows.
      val grid = Seq(("coarse", baseStride * 4), ("base", baseStride),
        ("fine", math.max(2L, baseStride / 4)))
      val cents = e.filter(grid.map { case (_, st) => col("vec_id") % st === 0 }
          .reduce(_ || _))
        .select(col("vec_id").as("centroid_id"),
          col("embedding").cast("array<double>").as("cent_v"))
        .filter(SimilarityOps.isNonZero(col("cent_v")))
        .select(col("centroid_id") +: col("cent_v") +:
          grid.map { case (tag, st) => (col("centroid_id") % st === 0).as(s"in_$tag") }: _*)
      // one assign pass: per-grid argmax via null-masked max_by (a row with
      // a null ordering key is ignored, exactly the per-grid candidate set)
      val assigned = e.select(col("vec_id"), col("embedding"),
          col("embedding").cast("array<double>").as("__v"))
        .filter(SimilarityOps.isNonZero(col("__v")))
        .crossJoin(broadcast(cents))
        .select(col("vec_id") +: col("embedding") +:
          struct(SimilarityOps.cosine(col("__v"), col("cent_v")).as("csim"),
            (-col("centroid_id")).as("nid")).as("__s") +: col("centroid_id") +:
          grid.map { case (tag, _) => col(s"in_$tag") }: _*)
        .groupBy(col("vec_id"))
        .agg(first(col("embedding")).as("embedding"),
          grid.map { case (tag, _) =>
            max_by(col("centroid_id"), when(col(s"in_$tag"), col("__s")))
              .as(s"cid_$tag") }: _*)
      // one probe pass at nprobe=2 across all grids (window per grid+query)
      val wq = Window.partitionBy(col("nlist_tag"), col("query_id"))
        .orderBy(col("cdist").desc, col("centroid_id"))
      val probes = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))
        .filter(SimilarityOps.isNonZero(col("qv")))
        .crossJoin(broadcast(cents))
        .select(col("query_id"), col("qv"), col("centroid_id"),
          SimilarityOps.cosine(col("qv"), col("cent_v")).as("cdist"),
          explode(filter(array(grid.map { case (tag, _) =>
              struct(lit(tag).as("tag"), col(s"in_$tag").as("m")) }: _*),
            t => t.getField("m"))).as("t"))
        .select(col("t.tag").as("nlist_tag"), col("query_id"), col("qv"),
          col("centroid_id"), col("cdist"))
        .withColumn("r", row_number().over(wq)).filter(col("r") <= 2)
        .select(col("nlist_tag"), col("query_id"), col("qv"), col("centroid_id"))
      // one score pass: each vector contributes its per-grid cell rows
      val ws = Window.partitionBy(col("nlist_tag"), col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id"))
      val ivf = assigned.select(col("vec_id").as("neighbor_id"),
          col("embedding").cast("array<double>").as("cv"),
          explode(filter(array(grid.map { case (tag, _) =>
              struct(lit(tag).as("tag"), col(s"cid_$tag").as("cid")) }: _*),
            t => t.getField("cid").isNotNull)).as("t"))
        .select(col("neighbor_id"), col("cv"),
          col("t.tag").as("nlist_tag"), col("t.cid").as("centroid_id"))
        .join(broadcast(probes), Seq("nlist_tag", "centroid_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("nlist_tag"), col("query_id"), col("neighbor_id"),
          SimilarityOps.cosine(col("qv"), col("cv")).as("sim"))
        .withColumn("rank", row_number().over(ws)).filter(col("rank") <= 5)
      // one census pass over the (already nonzero-norm) union set
      val kExprs = grid.map { case (tag, _) =>
        coalesce(sum(when(col(s"in_$tag"), 1L)), lit(0L)).as(s"k_$tag") }
      val kCells = cents.agg(kExprs.head, kExprs.tail: _*)
        .select(explode(array(grid.map { case (tag, _) =>
            struct(lit(tag).as("tag"), col(s"k_$tag").as("k_cells")) }: _*)).as("t"))
        .select(col("t.tag").as("nlist_tag"), col("t.k_cells").as("k_cells"))
      ivf.select(col("nlist_tag"), col("query_id"), col("neighbor_id"))
        .join(broadcast(kCells), Seq("nlist_tag"))
        .join(brute, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("nlist_tag"), col("k_cells"), col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
    }),

    // X31 — temperature-mixing sensitivity grid: per-LANGUAGE share under
    // τ ∈ {1, 1/2, 1/4} — the table a pretraining lead reads before
    // committing a mixture (x13 allocates at ONE τ; the grid shows what
    // the knob DOES: τ=1 proportional, lower τ flattens toward uniform).
    // Exponents are deliberately sqrt-composable only (sqrt is IEEE
    // correctly-rounded → engine-identical; pow(x, 0.7) is libm-ULP
    // exposed — the x13 constraint extended to a grid). Weights land on
    // the 1e10 floor grid and shares fold through DECIMAL(38,0) integer
    // division (w·10⁴ overflows a BIGINT once a stratum passes ~8.5e17
    // rows). One strata-sized relation; every exchange is |sources| rows.
    "x31_tau_grid" -> ((s, dir) => {
      val sizes = docs(s, dir).groupBy(col("lang").as("stratum"))
        .agg(count(lit(1)).as("n_s"))
      def grid(tag: String, w: Column): DataFrame = {
        val ws = sizes.select(col("stratum"), col("n_s"),
          w.cast("decimal(38,0)").as("w"))
        ws.crossJoin(broadcast(ws.agg(sum(col("w")).as("wt"))))
          .select(lit(tag).as("tau"), col("stratum"), col("n_s"),
            expr("(w * 10000) div wt").as("share_bp"))
      }
      grid("1", col("n_s"))
        .unionByName(grid("1/2",
          floor(sqrt(col("n_s").cast("double")) * lit(1e10))))
        .unionByName(grid("1/4",
          floor(sqrt(sqrt(col("n_s").cast("double"))) * lit(1e10))))
    }),

    // D18 — duplication profile BY SOURCE (where the dup mass lives —
    // the drill-down that turns d1's corpus-wide rate into a curation
    // decision about which feeds to throttle): per-source exact-dup rate
    // in basis points off the d1 fingerprint. Two partial-agg exchanges.
    "d18_dup_by_source" -> ((s, dir) =>
      docs(s, dir)
        .groupBy(col("source"), TextOps.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("source"))
        .agg(sum(col("n")).as("n_docs"),
          count(lit(1)).as("n_distinct"),
          sum(col("n") - 1).as("n_dup_docs"))
        .withColumn("dup_bp", expr("n_dup_docs * 10000 div n_docs"))),

    "s6_ann_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val brute = SimilarityOps.bruteForceTopK(
          e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      val centroids = e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val assigned = SimilarityOps.assignToCentroids(e, centroids, "vec_id", "embedding")
      SimilarityOps.ivfTopK(assigned, centroids, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 5, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"))
        .join(brute, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          (col("n_hits").cast("double") / 5).as("recall_at_5"))
    }),

    // P8/S2 — the producer's ≤ maxBytes envelope batcher under oracle: txs
    // rendered at FIXED width (so the greedy packing reduces to exact
    // arithmetic the oracle can mirror: 7 txs/envelope at these constants),
    // every 50th event oversize and discarded (lib.js:136-143). The real
    // EnvelopeBatcher.split runs per user on executors; the oracle
    // recomputes counts from the packing arithmetic.
    "p8_envelope_batcher" -> ((s, dir) => {
      import s.implicits._
      val txs = ev(s, dir).select(col("user_id"),
        when(pmod(col("event_id"), lit(50)) === 0,
          // fixed oversize width 212 > maxBytes - overhead → always dropped
          concat(lit("{\"pad\":\""), lpad(lit("x"), 200, "x"), lit("\"}")))
          .otherwise(format_string("{\"fee\":\"%05d\"}",
            pmod(col("event_id"), lit(10000)))).as("tx"))
      // per-user collect_list is bounded by events-per-user (the reference
      // batches per Lambda invocation, i.e. per poll — a few hundred txs);
      // an unbounded-fanout producer would need the two-pass running-sum
      // packing of ops/Packing.scala instead
      txs.groupBy(col("user_id")).agg(collect_list(col("tx")).as("txs"))
        .as[(Long, Seq[String])]
        .map { case (uid, ts) =>
          val (batches, dropped) =
            graft.streaming.EnvelopeBatcher.split("[", "]", ts, maxBytes = 128)
          (uid, ts.length.toLong, batches.length.toLong,
            dropped.length.toLong, batches.map(_.length).sum.toLong)
        }
        .toDF("user_id", "n_txs", "n_envelopes", "n_dropped", "n_packed")
    }),

    // T5 — BPE-ish subword tokenization: greedy left-to-right merge-or-char
    // scan against a fixed merge vocabulary (what one round of BPE training
    // learns), as a per-row codegen'd expression. n_merges = chars saved by
    // merges — the compression a real subword vocab buys on this corpus.
    "t5_bpe_tokens" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.bpeishTokenCount(col("text")).cast("long").as("n_subwords"),
        (length(regexp_replace(col("text"), "\\s", "")) -
          TextOps.bpeishTokenCount(col("text"))).cast("long").as("n_merges"))),

    // T28 — the BPE TRAINING pass t5's fixed merge list stands in for
    // (r10 verdict task 5): 4 rounds of count-pairs → merge-argmax →
    // re-segment over the distinct-word relation. See
    // [[TextOps.bpeTrain]] for the two load-bearing design points
    // (vocabulary-not-corpus iteration; greedy merge ≡ string replace on
    // separator-joined symbols, which is what makes the oracle an
    // unrolled CTE triple per round — g1's unrolled-iteration contract).
    "t28_bpe_train" -> ((s, dir) =>
      TextOps.bpeTrain(docs(s, dir), "text", rounds = 4)),

    // MON1 — fleet monitoring, oracle-grade: one metrics row per user_id
    // series (per-minute mean value), naive last-observation forecast over
    // the final 5 points, RMSE + mean weighted quantile loss per key — the
    // distributed form of the reference's single-metric monitoring job
    // (custom_monitoring_metrics.py:140-169), scaled past one metric via
    // groupByKey + flatMapSortedGroups with ring-buffered per-key state.
    // Metrics rounded to 4 dp: the per-key loops sum 5 doubles sequentially,
    // the oracle sums relationally — algebraically identical, ulp-different.
    "mon1_fleet_metrics" -> ((s, dir) => {
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
    }),

    // MON8 — the fleet metrics under a REAL forecaster: Holt linear-trend
    // smoothing (α = β = 1/4, exact binary) in the reference's opaque-model
    // slot, per-series driver-side recurrence at the documented model
    // boundary (runFleet's flatMapSortedGroups — executor-side per key,
    // bounded ring). Every level/trend update is a fixed-order IEEE chain,
    // so the oracle's RECURSIVE CTE reproduces the forecasts bit for bit —
    // the first suite row exercising recursive SQL on the oracle side.
    "mon8_holt_fleet" -> ((s, dir) => {
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
    }),

    // MON10 — ROBUST outlier quarantine via MAD (median absolute
    // deviation): the mean/σ screens (mon6's 3σ) are themselves dragged by
    // the outliers they hunt; median/MAD have a 50% breakdown point. Flag
    // |x − med| > 4.4478·MAD (3σ-equivalent under normality; the constant
    // ships as ONE literal, never derived arithmetic). Both medians are
    // exact interpolated percentiles — the a14 cross-engine parity — and
    // the per-group stats relation is metadata-sized and broadcast back.
    "mon10_mad_outliers" -> ((s, dir) => {
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
    }),

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
    "mon11_psi" -> ((s, dir) => {
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
    }),

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
    "mon9_decompose" -> ((s, dir) => {
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
    }),

    // M1 — multimodal decode, oracle-grade: one WAV payload synthesized per
    // user (16-bit PCM, amplitudes 0/±16384 derived from event_id so every
    // feature is exactly representable in float), decoded back through the
    // REAL pure-JVM RIFF/PCM parser (Multimodal.BuiltinDecoder) via the
    // per-partition decode pipeline. The compared features are
    // order-insensitive (frame count, #nonzero via rms², peak), so the
    // oracle recomputes them relationally without replaying sample order.
    "m1_wav_features" -> ((s, dir) => {
      import s.implicits._
      val samples = ev(s, dir).select(col("user_id"),
        when(pmod(col("event_id"), lit(3)) === 0, 16384)
          .when(pmod(col("event_id"), lit(3)) === 1, -16384)
          .otherwise(0).as("amp"))
      val payloads = samples.groupBy(col("user_id"))
        .agg(collect_list(col("amp")).as("amps"))
        .as[(Long, Array[Int])]
        .map { case (uid, amps) => (uid, Multimodal.encodeWavPcm16(amps)) }
        .toDF("id", "data")
      val media = Multimodal.asMediaFrame(payloads, "id", "data", "audio", "wav")
      Multimodal.decodeFeatures(media, new Multimodal.BuiltinDecoder)(s)
        .select(col("content_id"),
          element_at(col("features"), 2).cast("long").as("n_frames"),
          // rms² · n · 4 = #nonzero samples (|s| ∈ {0, 0.5}) — integer-exact
          round(pow(element_at(col("features"), 3), 2) *
            element_at(col("features"), 2) * 4).cast("long").as("n_nonzero"),
          round(element_at(col("features"), 5) * 2).cast("long").as("peak2"))
    }),

    // M14 — audio downsampling (integer-factor decimation with a box
    // anti-alias filter — the resample step of an audio-prep pipeline,
    // stub-free because it stays in exact integers): per user, a
    // deterministic PCM sequence (ordered by event_id — the collect is
    // sorted, so the byte stream is reproducible) rides through the REAL
    // WAV encoder and parser, then decimates 4:1 by exact block means
    // (sum div 4 over nonnegative amplitudes; the tail block is dropped on
    // both engines). Emitted features are exact BIGINTs incl. an
    // order-SENSITIVE position-weighted checksum — valid here precisely
    // because the input order is pinned, which is what the oracle's
    // row_number replay states. Same narrow mapPartitions economics as the
    // rest of the codec ladder.
    "m14_wav_resample" -> ((s, dir) => {
      import s.implicits._
      val samples = ev(s, dir).select(col("user_id"),
        struct(col("event_id"), (pmod(col("event_id"), lit(201)) * 50)
          .cast("int").as("amp")).as("sa"))
      samples.groupBy(col("user_id"))
        .agg(sort_array(collect_list(col("sa"))).as("sas"))
        .as[(Long, Seq[(Long, Int)])]
        .map { case (uid, sas) =>
          val wav = Multimodal.encodeWavPcm16(sas.map(_._2).toArray)
          val dec = Multimodal.decodeWavPcm16Mono(wav)
          val outs = dec.grouped(4).filter(_.length == 4)
            .map(b => b.map(_.toLong).sum / 4).toArray
          val wsum = outs.zipWithIndex
            .map { case (v, b) => v * ((b % 9) + 1) }.sum
          (uid, outs.length.toLong, outs.sum, wsum)
        }
        .toDF("content_id", "n_out", "sum_out", "wsum")
    }),

    // M2 — multimodal image decode, oracle-grade: one 24-bit BMP synthesized
    // per user (pixel channels 0/255 derived from event_id divisibility, so
    // every channel mean times the pixel count is an exact multiple of 255),
    // decoded back through the REAL pure-JVM BITMAPINFOHEADER parser
    // (Multimodal.BuiltinDecoder, bottom-up row order + 4-byte row padding
    // both exercised). The compared features are order-insensitive (dims +
    // the decoder's exact per-channel bright-pixel counts), so the oracle
    // recomputes them relationally without replaying pixel placement.
    "m2_bmp_features" -> ((s, dir) => {
      import s.implicits._
      val bmpW = 8
      val px = ev(s, dir).select(col("user_id"),
        (when(pmod(col("event_id"), lit(2)) === 0, 255).otherwise(0) +
         when(pmod(col("event_id"), lit(3)) === 0, 255 * 256).otherwise(0) +
         when(pmod(col("event_id"), lit(5)) === 0, 255 * 65536).otherwise(0))
          .as("rgb"))
      val payloads = px.groupBy(col("user_id"))
        .agg(collect_list(col("rgb")).as("pxs"))
        .as[(Long, Array[Int])]
        .map { case (uid, pxs) => (uid, Multimodal.encodeBmp24(pxs, bmpW)) }
        .toDF("id", "data")
      val media = Multimodal.asMediaFrame(payloads, "id", "data", "image", "bmp")
      // per-channel counts come from the decoder's EXACT bright-pixel
      // features (slots 10-12, integer-exact in Float32 to 2^24 px) —
      // reconstructing them from the rounded Float32 channel mean drifts
      // once a user has ~30k+ pixels. Fixture channels are 0/255, so
      // bright (> 127) ≡ channel-set and the oracle's COUNT(*) agrees.
      Multimodal.decodeFeatures(media, new Multimodal.BuiltinDecoder)(s)
        .select(col("content_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 10).cast("long").as("n_blue"),
          element_at(col("features"), 11).cast("long").as("n_green"),
          element_at(col("features"), 12).cast("long").as("n_red"))
    }),

    // M12 — GIF87a/LZW round trip: the variable-width-LZW member of the
    // codec ladder (BMP/PGM uncompressed, PNG/DEFLATE, JPEG/DCT) — per
    // user, palette indices render through the REAL encoder (dictionary
    // growth, width bumps, KwKwK, 4096-slot clear cycles) and back through
    // the decoder; only order-independent integer features leave
    // (collect_list order is partition-dependent, so the byte length — an
    // order-sensitive LZW artifact — deliberately never surfaces). The
    // oracle recomputes the features from the pixel formula alone: any
    // codec drift (lost/duplicated pixel, bad padding, wrong dims)
    // mismatches.
    "m12_gif_features" -> ((s, dir) => {
      import s.implicits._
      val payloads = ev(s, dir)
        .select(col("user_id"), pmod(col("event_id"), lit(256)).cast("int").as("idx"))
        .groupBy(col("user_id"))
        .agg(collect_list(col("idx")).as("pxs"))
        .as[(Long, Array[Int])]
        .map { case (uid, pxs) => (uid, graft.ops.Gif.encodeGif8(pxs, 8)) }
        .toDF("id", "data")
      payloads.as[(Long, Array[Byte])].map { case (id, bytes) =>
        val (w, h, n, sum) = graft.ops.Gif.gifFeatures(bytes)
        (id, w.toLong, h.toLong, n, sum)
      }.toDF("content_id", "width", "height", "n_px", "idx_sum")
    }),

    // M13 — animated-GIF frame SAMPLING (the m5 MJPEG economics on the
    // LZW container): six frames per user through the real multi-image
    // encoder, then features for every 3rd frame only — unsampled frames
    // are skipped by hopping sub-block length bytes, ZERO LZW work (the
    // property that makes frame sampling at 100 TB cost stride-fraction of
    // the decode, not all of it). Frame f's pixel formula is
    // (event_id·31 + f·17) % 256, so the oracle recomputes sampled-frame
    // sums blind to the container.
    "m13_gif_frames" -> ((s, dir) => {
      import s.implicits._
      ev(s, dir)
        .select(col("user_id"), col("event_id"))
        .groupBy(col("user_id"))
        .agg(collect_list(col("event_id")).as("ids"))
        .as[(Long, Array[Long])]
        .flatMap { case (uid, ids) =>
          val frames = (0 until 6).map(f =>
            ids.map(id => ((id * 31 + f * 17) % 256).toInt))
          val bytes = graft.ops.Gif.encodeGifAnim(frames, 8)
          graft.ops.Gif.sampledFrameFeatures(bytes, stride = 3)
            .map { case (fr, n, sum) => (uid, fr, n, sum) }
        }
        .toDF("content_id", "frame", "n_px", "idx_sum")
    }),

    // M6 — resize: nearest-neighbor ×2 downsample as a real binary→binary
    // media transform (decode → integer-grid sample → re-encode), then
    // features on the RESIZED payload. Pixel order now matters (sampling
    // picks positions, not just counts), so the fixture pins it: pixels
    // sort by event_id inside the array (sort_array of structs — exact,
    // layout-independent), and the oracle replays the same rank arithmetic
    // (row = rn div 8, col = rn mod 8, sampled iff both even). Black pad
    // pixels on the trailing partial row are never bright, so sampled pads
    // change no count.
    "m6_resize_features" -> ((s, dir) => {
      import s.implicits._
      val bmpW = 8
      val px = ev(s, dir).select(col("user_id"), col("event_id"),
        (when(pmod(col("event_id"), lit(2)) === 0, 255).otherwise(0) +
         when(pmod(col("event_id"), lit(3)) === 0, 255 * 256).otherwise(0) +
         when(pmod(col("event_id"), lit(5)) === 0, 255 * 65536).otherwise(0))
          .as("rgb"))
      val payloads = px.groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("event_id"), col("rgb")))).as("pxs"))
        .select(col("user_id"),
          transform(col("pxs"), x => x.getField("rgb")).as("pxs"))
        .as[(Long, Array[Int])]
        .map { case (uid, pxs) =>
          (uid, Multimodal.resizeBmpNearest(Multimodal.encodeBmp24(pxs, bmpW), 2)) }
        .toDF("id", "data")
      val media = Multimodal.asMediaFrame(payloads, "id", "data", "image", "bmp")
      Multimodal.decodeFeatures(media, new Multimodal.BuiltinDecoder)(s)
        .select(col("content_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 10).cast("long").as("n_blue"),
          element_at(col("features"), 11).cast("long").as("n_green"),
          element_at(col("features"), 12).cast("long").as("n_red"))
    }),

    // M7 — IMAGE near-dup via dHash: the multimodal leg of the dedup
    // family. Per-user 9×8 grayscale "avatar tiles" derived from the user
    // relation (family = user_id % 5 shares a base image; users ≥ 75 get
    // ≤ 1 deterministic pixel flip) go through the REAL binary round trip
    // — encodeBmp24 → dhashBmp parses the container — while the oracle
    // recomputes the hash from the pixel formula alone, so any codec or
    // hash-layout drift mismatches. Candidates by 8-bit band equality
    // (pigeonhole: hamming ≤ 7 ⇒ caught), verified by exact popcount;
    // a flipped pixel touches ≤ 2 comparisons, so true near-dups sit at
    // hamming ≤ 2 and cross-family pairs land far above the ≤ 4 cut.
    // All-integer end to end.
    "m7_image_neardup" -> ((s, dir) => dhashPairs(s, dir)),

    // M8 — image DUP CLUSTERS: the m7 pair relation fed through the d6
    // connected-components contract (one canonical image per component,
    // never drop-id_b-of-every-pair) — the cross-family composition a
    // multimodal curation pipeline actually runs. Oracle reuses the m7
    // pixel-formula chain + the d6 recursive-reachability labels.
    // CLASS-LEVEL CC (r11 sweep finding, see dhashRelations): identical
    // images are one node, so the iteration runs over the class graph
    // (bounded by image-space size — 365 nodes at 100× data, where the
    // member-pair graph is ~103 M edges) and members inherit their class's
    // component. cluster_id stays the component's min USER id and
    // cluster_size the member count, so the output is row-for-row the old
    // member-level CC's.
    "m8_image_clusters" -> ((s, dir) => {
      // NOTE (r13 opt, measured and left alone): persisting classPairs
      // DISK_ONLY here (the c8 form) was A/B'd at sf0.1 and came out
      // neutral-to-worse — both classPairs subtrees are plan-identical, so
      // ReusedExchange already shares the band self-join at runtime and the
      // persist only adds a write. c8 keeps its persists because FOUR
      // subtrees reuse the relations there under memory pressure (the c4
      // lesson); two identical references don't justify it.
      val (members, classPairs) = dhashRelations(s, dir)
      val perClass = members.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"), min(col("id")).as("min_id"))
      // in-graph classes: ≥2 members (their hamming-0 pairs are edges) or
      // any cross-class edge; singleton classes with no edge emit nothing
      val withEdge = classPairs.select(col("cid_a").as("cid"))
        .unionByName(classPairs.select(col("cid_b").as("cid"))).distinct()
      val inGraph = perClass.filter(col("n_members") >= 2).select(col("cid"))
        .unionByName(withEdge).distinct()
      // self-edges keep isolated multi-member classes as their own
      // single-class component through the CC contract
      val edges = classPairs.select(col("cid_a"), col("cid_b"))
        .unionByName(inGraph.select(col("cid").as("cid_a"),
          col("cid").as("cid_b")))
      val comp = DedupOps.connectedComponents(edges, "cid_a", "cid_b")
        .select(col("id").as("cid"), col("cluster_id").as("comp"))
      val compAgg = comp.join(perClass, "cid")
        .groupBy(col("comp"))
        .agg(min(col("min_id")).as("cluster_id"),
          sum(col("n_members")).as("cluster_size"))
      members.join(comp, "cid").join(compAgg, "comp")
        .select(col("id").as("user_id"), col("cluster_id"),
          col("cluster_size"))
    }),

    // C8 — cross-modal composition closing the IMAGE-leakage loop the text
    // side closed in x14 (VERDICT r12 item 7): m7's dHash near-dup pairs
    // (hamming ≤ 4) are the edge relation, m8's factored class-level
    // connected components the group labels, and the train/val/test split
    // keys on the CLUSTER — so no near-dup image pair can straddle splits.
    // Output is the per-split composition (images, groups, largest group)
    // a dataset card reports, PLUS a self-audit column: n_leaked counts
    // dHash pairs whose endpoints landed in different splits, and must be
    // 0 by construction — the gate pins the guarantee itself, not just
    // membership. Scale: everything below the split is m7/m8's factored
    // machinery (class-level CC, never the expanded clone pairs); the
    // split adds one narrow left join + a salted hash; the leak audit
    // joins the PAIR relation (already bucket-bounded) against the
    // two-column assignment — nothing wider than m7 already shuffles.
    "c8_image_cluster_split" -> ((s, dir) => {
      // members feeds four subtrees (labels, split, both leak-audit arms)
      // and classPairs three — share them DISK_ONLY (the c4 lesson:
      // deserialized MEMORY blocks compete with execution memory at
      // local[32]; Bench/Verify clear the cache after the action)
      val (members0, classPairs0) = dhashRelations(s, dir)
      val members = members0.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val classPairs = classPairs0.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val perClass = members.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"), min(col("id")).as("min_id"))
      val withEdge = classPairs.select(col("cid_a").as("cid"))
        .unionByName(classPairs.select(col("cid_b").as("cid"))).distinct()
      val inGraph = perClass.filter(col("n_members") >= 2).select(col("cid"))
        .unionByName(withEdge).distinct()
      val edges = classPairs.select(col("cid_a"), col("cid_b"))
        .unionByName(inGraph.select(col("cid").as("cid_a"),
          col("cid").as("cid_b")))
      val comp = DedupOps.connectedComponents(edges, "cid_a", "cid_b")
        .select(col("id").as("cid"), col("cluster_id").as("comp"))
      val compLabel = comp.join(perClass, "cid")
        .groupBy(col("comp")).agg(min(col("min_id")).as("cluster_id"))
      val labeled = members.join(comp, "cid").join(compLabel, "comp")
        .select(col("id").as("user_id"), col("cluster_id"))
      val imgs = ev(s, dir).select(col("user_id")).distinct()
      val grp = imgs.join(labeled, Seq("user_id"), "left")
        .select(col("user_id"),
          coalesce(col("cluster_id"), col("user_id")).as("gid"))
      val assigned = graft.ops.Sampling.hashSplit(grp, col("gid"),
        splitFractions, salt = "isplit")
      // Leak audit at the CLASS level — the 100 TB shape: the expanded
      // member-pair relation is quadratic in class size (identical-image
      // blocks pair all-vs-all; ~10× users makes it ~100× pairs), but a
      // member pair can only straddle splits if its CLASS pair does (all
      // members of a class share the class's component gid, hence split;
      // same-class pairs can never straddle at all). So count straddling
      // member pairs exactly as Σ n_members_a · n_members_b over the
      // class-pair relation — the same number the oracle computes over the
      // expanded pairs, from a relation that never expands.
      val classSplit = graft.ops.Sampling.hashSplit(
        perClass.join(comp, "cid").join(compLabel, "comp")
          .select(col("cid"), col("n_members"), col("cluster_id").as("gid")),
        col("gid"), splitFractions, salt = "isplit")
      val leaks = classPairs
        .join(classSplit.select(col("cid").as("cid_a"),
          col("split").as("split_a"), col("n_members").as("na")), "cid_a")
        .join(classSplit.select(col("cid").as("cid_b"),
          col("split").as("split_b"), col("n_members").as("nb")), "cid_b")
        .filter(col("split_a") =!= col("split_b"))
        .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("n_leaked"))
      assigned.groupBy(col("split"), col("gid"))
        .agg(count(lit(1)).as("gsz"))
        .groupBy(col("split"))
        .agg(sum(col("gsz")).as("n_imgs"), count(lit(1)).as("n_groups"),
          max(col("gsz")).as("max_group"))
        .crossJoin(broadcast(leaks))
    }),

    // C9 — the dedup LADDER d19's measurement endorses as the production
    // recipe: EXACT dedup first (verbatim blocks collapse at hash-agg
    // cost — the operator that owns them), THEN bucket-capped LSH banding
    // over the canonical survivors (the cap can no longer cost recall on
    // verbatim blocks because stage 1 already removed them — d19 showed
    // that is the ONLY recall the cap ever costs), THEN component-
    // canonical keep (min doc_id per near-dup cluster — chain-safe where
    // dropping the id_b side of raw pairs over/under-drops on chains).
    // The gate rides the d19 degenerate fixture (300 verbatim clones of
    // doc 0) so the division of labor is observable: stage 1 MUST fold
    // the 301-doc block to one survivor, and stage 2's capped banding
    // then never meets an over-cap bucket. Output = per-stage census +
    // keep-set membership pinned by doc-id sum (the t41 convention).
    // Scale: stage 1 is one fingerprint groupBy; stage 2 is d2's banded
    // geometry over an already-shrunk relation; stage 3 is d6's CC.
    "c9_dedup_ladder" -> ((s, dir) => {
      val d0 = docs(s, dir)
      val clones = s.range(1, 301)
        .crossJoin(broadcast(
          d0.filter(col("doc_id") === 0).select(col("text"))))
        .select((col("id") + 10000L).as("doc_id"), col("text"))
      val corpus = d0.select(col("doc_id"), col("text")).unionByName(clones)
      val sur = corpus
        .groupBy(TextOps.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"))
        .join(corpus, Seq("doc_id"))
        .select(col("doc_id"), col("text"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val pairs = DedupOps.pairsFromSignatures(
          DedupOps.signatures(sur, "doc_id", "text", 16), 16, 4, 400)
        .filter(col("est_jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val labeled = DedupOps.connectedComponents(pairs)
      val kept = sur.select(col("doc_id"))
        .join(labeled.select(col("id").as("doc_id"), col("cluster_id")),
          Seq("doc_id"), "left")
        .filter(col("doc_id") === coalesce(col("cluster_id"), col("doc_id")))
      corpus.agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(sur.agg(count(lit(1)).as("n_exact_survivors"))))
        .crossJoin(broadcast(pairs.agg(count(lit(1)).as("n_lsh_pairs"))))
        .crossJoin(broadcast(kept.agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("kept_id_sum"))))
    }),

    // M9 — ORDER-SENSITIVE audio segmentation through the real WAV byte
    // round trip: per-user sample stream (ordered by event_id, amplitudes
    // 0/±16384/8192 from event_id mod 5) encoded with encodeWavPcm16,
    // decoded back sample-by-sample with decodeWavPcm16Mono (the m1
    // feature decoder only exposes order-insensitive aggregates — this is
    // the sample-level path), then energy-gate VAD segmentation
    // (|s| > 4096). Unlike every other m* gate the compared features
    // (segment count, longest voiced run) depend on sample ORDER, so the
    // byte layout of the container is pinned end to end; the oracle
    // restates segmentation relationally as gaps-and-islands over the same
    // event_id-ordered stream. Scale shape: one bounded payload per user
    // assembled map-side; at 100 TB payloads arrive as binary columns and
    // the decode+VAD runs embarrassingly parallel per row.
    // M11 — Netpbm PGM (P5) round trip: the simplest real raster container
    // (scientific/scanner feeds), closing the uncompressed-format ladder
    // under BMP/PNG/JPEG. Per-user grayscale fixture (event_id ≡ 0 mod 3 →
    // 200, else 17) through encodePgm → the strict header-grammar parser →
    // integer features (dims, bright count, exact gray sum). Zero-padding
    // of the last row changes height, never the bright count or sum.
    "m11_pgm_features" -> ((s, dir) => {
      import s.implicits._
      ev(s, dir).select(col("user_id"), col("event_id"),
          when(pmod(col("event_id"), lit(3)) === 0, 200).otherwise(17).as("g"))
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("event_id"), col("g")))).as("seq"))
        .select(col("user_id"), expr("transform(seq, x -> x.g)").as("grays"))
        .as[(Long, Array[Int])]
        .map { case (uid, grays) =>
          val (w, h, px) = Multimodal.decodePgm(Multimodal.encodePgm(grays, 8))
          (uid, w.toLong, h.toLong, px.count(_ > 127).toLong,
            px.map(_.toLong).sum)
        }
        .toDF("user_id", "width", "height", "n_bright", "sum_gray")
    }),

    "m9_audio_segments" -> ((s, dir) => {
      import s.implicits._
      val samples = ev(s, dir).select(col("user_id"), col("event_id"),
        when(pmod(col("event_id"), lit(5)) === 0, 16384)
          .when(pmod(col("event_id"), lit(5)) === 1, -16384)
          .when(pmod(col("event_id"), lit(5)) === 2, 8192)
          .otherwise(0).as("amp"))
      samples.groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("event_id"), col("amp"))))
          .as("seq"))
        .select(col("user_id"), expr("transform(seq, x -> x.amp)").as("amps"))
        .as[(Long, Array[Int])]
        .map { case (uid, amps) =>
          val decoded =
            Multimodal.decodeWavPcm16Mono(Multimodal.encodeWavPcm16(amps))
          val (nSeg, nVoiced, maxRun) = Multimodal.segmentVoiced(decoded, 4096)
          (uid, decoded.length.toLong, nSeg, nVoiced, maxRun)
        }
        .toDF("user_id", "n_samples", "n_segments", "n_voiced", "max_run")
    }),

    // M3 — multimodal image decode through the COMPRESSED container: the
    // same per-user pixel construction as M2 but encoded as a real PNG
    // (zlib IDAT, per-row rotating scanline filters) and decoded back
    // through the pure-JVM critical-chunk parser (Inflater + all five
    // filter reconstructions). Identical feature layout to BMP, so the
    // oracle differs from m2 only in width — container correctness is
    // isolated exactly.
    "m3_png_features" -> ((s, dir) => {
      import s.implicits._
      val pngW = 7 // odd width; last partial row padded with black
      val px = ev(s, dir).select(col("user_id"),
        (when(pmod(col("event_id"), lit(2)) === 0, 255).otherwise(0) +
         when(pmod(col("event_id"), lit(3)) === 0, 255 * 256).otherwise(0) +
         when(pmod(col("event_id"), lit(5)) === 0, 255 * 65536).otherwise(0))
          .as("rgb"))
      val payloads = px.groupBy(col("user_id"))
        .agg(collect_list(col("rgb")).as("pxs"))
        .as[(Long, Array[Int])]
        .map { case (uid, pxs) => (uid, Multimodal.encodePng(pxs, pngW)) }
        .toDF("id", "data")
      val media = Multimodal.asMediaFrame(payloads, "id", "data", "image", "png")
      // exact bright-pixel count features, as in m2
      Multimodal.decodeFeatures(media, new Multimodal.BuiltinDecoder)(s)
        .select(col("content_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 10).cast("long").as("n_blue"),
          element_at(col("features"), 11).cast("long").as("n_green"),
          element_at(col("features"), 12).cast("long").as("n_red"))
    }),

    // M4 — multimodal image decode through the LOSSY container: per-user
    // grayscale built from event parity, each value an 8×8 UNIFORM block
    // (the shape a quality-100 baseline JPEG stores exactly: one integer DC,
    // mathematically zero ACs — nothing lost to coefficient rounding), then
    // encoded as a real baseline JPEG (std Annex K Huffman, byte stuffing)
    // and decoded back through the pure-JVM entropy + IDCT path. Features
    // read the decoder's exact bright-count slot; the oracle recomputes
    // dims/counts relationally (6-block-wide image ⇒ 48 px; each source
    // value is 64 px).
    "m4_jpeg_features" -> ((s, dir) => {
      import s.implicits._
      val wBlocks = 6
      val px = ev(s, dir).select(col("user_id"),
        when(pmod(col("event_id"), lit(2)) === 0, 255).otherwise(0).as("g"))
      // explicit AQE-exempt repartition FEEDING the agg (r13 opt, the
      // dhashRelations pattern — placed before the groupBy so the agg
      // reuses its partitioning and a post-agg repartition can't be
      // collapsed away): AQE otherwise coalesces the KB-sized collect_list
      // shuffle to ~4 partitions, serializing the DCT+Huffman encode AND
      // the downstream entropy decode on 4 of 32 cores. The byte-based
      // coalescer cannot see that each narrow row explodes into heavy CPU
      // work (guide §2.5). Features are per-block counts — order-
      // insensitive — so list arrival order is immaterial.
      val shufP = s.sessionState.conf.numShufflePartitions
      val payloads = px.repartition(shufP, col("user_id"))
        .groupBy(col("user_id"))
        .agg(collect_list(col("g")).as("gs"))
        .as[(Long, Array[Int])]
        .map { case (uid, gs) => (uid, graft.ops.Jpeg.encodeGrayBlocks(gs, wBlocks)) }
        .toDF("id", "data")
      val media = Multimodal.asMediaFrame(payloads, "id", "data", "image", "jpeg")
      Multimodal.decodeFeatures(media, new Multimodal.BuiltinDecoder)(s)
        .select(col("content_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 10).cast("long").as("n_bright"))
    }),

    // M4b — the 4:2:0 CHROMA-SUBSAMPLED color JPEG path (the sampling real
    // corpora overwhelmingly use) under an exact oracle. Each event renders
    // one uniform 16×16 MCU colored white/red/blue/black by event_id % 4:
    // black/white are bit-exact through the subsampled pipeline (integer
    // YCbCr, uniform blocks in both tiers after the chroma box average) and
    // red/blue decode with >100 margin to the 127 channel threshold, so the
    // decoder's nz channel counts are integer-exact and relational
    // (n_white = nzG; red contributes only to nzR, blue only to nzB).
    "m4b_jpeg420_features" -> ((s, dir) => {
      import s.implicits._
      val wMcus = 3
      val px = ev(s, dir).select(col("user_id"),
        when(pmod(col("event_id"), lit(4)) === 0, lit(0xffffff))
          .when(pmod(col("event_id"), lit(4)) === 1, lit(0xff0000))
          .when(pmod(col("event_id"), lit(4)) === 2, lit(0x0000ff))
          .otherwise(lit(0x000000)).as("c"))
      // AQE-exempt repartition before the encode map — same rationale as m4
      // (the coalesced shuffle serialized this query's encode+decode on 4
      // of 32 cores; measured 4.7 s with 4 tasks at sf0.1)
      val shufP = s.sessionState.conf.numShufflePartitions
      val payloads = px.repartition(shufP, col("user_id"))
        .groupBy(col("user_id"))
        .agg(collect_list(col("c")).as("cs"))
        .as[(Long, Array[Int])]
        .map { case (uid, cs) => (uid, graft.ops.Jpeg.encodeColorMcus(cs, wMcus)) }
        .toDF("id", "data")
      val media = Multimodal.asMediaFrame(payloads, "id", "data", "image", "jpeg")
      Multimodal.decodeFeatures(media, new Multimodal.BuiltinDecoder)(s)
        .select(col("content_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 11).cast("long").as("n_white_px"),
          (element_at(col("features"), 12) - element_at(col("features"), 11))
            .cast("long").as("n_red_px"),
          (element_at(col("features"), 10) - element_at(col("features"), 11))
            .cast("long").as("n_blue_px"))
    }),

    // M5 — multimodal VIDEO through a real container: per-user 4-frame
    // Motion-JPEG AVI (RIFF avih/strl/movi/idx1, each frame an independent
    // baseline JPEG keyframe), frame f holding that user's events with
    // event_id ≡ f (mod 4) as uniform 8×8 blocks (255 where event_id ≡ 0
    // mod 3 — a residue system NOT aligned with the frame split, so
    // per-frame bright mass varies). The decoder samples every 2nd frame
    // (0 and 2) — MJPEG keyframe independence means unsampled frames are
    // never entropy-decoded. Uniform blocks round-trip the lossy codec
    // exactly (m4), so every feature is an exact relational recompute:
    // empty frames carry one black placeholder block; pad blocks black.
    "m5_video_features" -> ((s, dir) => {
      import s.implicits._
      val wBlocks = 6; val nFrames = 4
      val px = ev(s, dir).select(col("user_id"), col("event_id"))
      // AQE-exempt repartition before the encode map — the m4/m4b rationale
      // (four JPEG frames per user encoded in the map; per-frame features
      // are residue-class counts, order-insensitive)
      val shufP = s.sessionState.conf.numShufflePartitions
      val payloads = px.repartition(shufP, col("user_id"))
        .groupBy(col("user_id"))
        .agg(collect_list(col("event_id")).as("ids"))
        .as[(Long, Array[Long])]
        .map { case (uid, ids) =>
          val frames = (0 until nFrames).map { f =>
            val vals = ids.filter(_ % nFrames == f)
              .map(id => if (id % 3 == 0) 255 else 0)
            graft.ops.Jpeg.encodeGrayBlocks(if (vals.isEmpty) Array(0) else vals, wBlocks)
          }
          val rows0 = (math.max(ids.count(_ % nFrames == 0), 1) + wBlocks - 1) / wBlocks
          (uid, graft.ops.Avi.encodeMjpeg(frames, wBlocks * 8, rows0 * 8, fps = 10))
        }
        .toDF("id", "data")
      val media = Multimodal.asMediaFrame(payloads, "id", "data", "video", "avi")
      Multimodal.decodeFeatures(media, new Multimodal.BuiltinDecoder)(s)
        .select(col("content_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 3).cast("long").as("n_frames"),
          element_at(col("features"), 4).cast("long").as("n_sampled"),
          element_at(col("features"), 5).cast("long").as("n_px"),
          element_at(col("features"), 6).cast("long").as("n_bright"))
    }),

    // M10 — scene-change detection over the SAME per-user MJPEG AVI m5
    // builds, decoding EVERY frame (m5's clip summary samples stride 2;
    // shot boundaries need the full time series). The codec layer emits one
    // bright-pixel mass per frame ([[Multimodal.frameBrightness]]); the
    // TEMPORAL operator — diff consecutive frames, flag |Δ| ≥ 128 px (two
    // 8×8 blocks) as a cut — is declarative: posexplode → lag window →
    // conditional count, all on the user_id partitioning the build groupBy
    // already established, so frame rows never re-shuffle. At 100 TB the
    // decode is embarrassingly parallel per clip and only (clip, frame,
    // mass) triples — not pixels — reach the window operator.
    "m10_scene_cuts" -> ((s, dir) => {
      import s.implicits._
      val wBlocks = 6; val nFrames = 4
      val px = ev(s, dir).select(col("user_id"), col("event_id"))
      // AQE-exempt repartition feeding the agg — the m4/m4b/m5 fix (the
      // per-user AVI encode+brightness decode otherwise runs on ~4 tasks)
      val shufP = s.sessionState.conf.numShufflePartitions
      val brights = px.repartition(shufP, col("user_id"))
        .groupBy(col("user_id"))
        .agg(collect_list(col("event_id")).as("ids"))
        .as[(Long, Array[Long])]
        .map { case (uid, ids) =>
          val frames = (0 until nFrames).map { f =>
            val vals = ids.filter(_ % nFrames == f)
              .map(id => if (id % 3 == 0) 255 else 0)
            graft.ops.Jpeg.encodeGrayBlocks(if (vals.isEmpty) Array(0) else vals, wBlocks)
          }
          val rows0 = (math.max(ids.count(_ % nFrames == 0), 1) + wBlocks - 1) / wBlocks
          val avi = graft.ops.Avi.encodeMjpeg(frames, wBlocks * 8, rows0 * 8, fps = 10)
          (uid, Multimodal.frameBrightness(avi))
        }
        .toDF("user_id", "brights")
      val perFrame = brights.select(col("user_id"),
        posexplode(col("brights")).as(Seq("frame_idx", "bright")))
      val w = Window.partitionBy(col("user_id")).orderBy(col("frame_idx"))
      perFrame
        .withColumn("delta", col("bright") - lag(col("bright"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(when(abs(col("delta")) >= 128, 1L).otherwise(0L)).as("n_cuts"),
          max(abs(col("delta"))).as("max_abs_delta"))
    }),

    // O10/S7 — offline full-history scan: the reference's Athena `SELECT *`
    // quietly returns duplicate minutes, one per upsert version
    // (pipelines/blockchain/preprocess.py:77-87 dedups them downstream;
    // SURVEY §7.4.3). Two upserts — first-half days, then a full
    // recomputation — make every day ≤ 15 minute a 2-version key; readAll
    // must expose BOTH versions (identical aggregates: a minute never spans
    // days, so the second upsert recomputes the same value), later minutes
    // exactly one.
    "o10_version_history" -> ((s, dir) => {
      val work = scratch("o10")
      val table = new graft.store.KeyedParquetTable(s"$work/table", "tx_minute")
      def minuteAgg(df: DataFrame, v: Double) =
        MinuteAggregate(df, "ts", "value").withColumn("event_time", lit(v))
      table.upsert(minuteAgg(ev(s, dir).filter(dayofmonth(col("ts")) <= 15), 0.0), 0, bulk = true)
      table.upsert(minuteAgg(ev(s, dir), 1.0), 1, bulk = true)
      table.readAll(s)
        .groupBy(col("tx_minute"))
        .agg(count(lit(1)).as("n_versions"),
          countDistinct(col("total_nb_trx_1min")).as("n_distinct_counts"),
          sum(col("total_nb_trx_1min")).as("sum_over_versions"))
    }),

    // O24 — time travel: three DISJOINT day-range deltas land as upsert
    // versions 0/1/2; `readAsOf(1)` reconstructs the table state as of
    // version 1 — days ≤ 20 present, each row reporting the version that
    // wrote it, version-2 rows invisible. The Delta/Iceberg `VERSION AS OF`
    // read on the engine's append-only parquet log
    // ([[graft.store.KeyedParquetTable.readAsOf]]); complements o10's
    // full-history scan and o18's SCD2 validity intervals.
    "o24_time_travel" -> ((s, dir) => {
      val work = scratch("o24")
      val table = new graft.store.KeyedParquetTable(s"$work/table", "tx_minute")
      val e = ev(s, dir)
      val dom = dayofmonth(col("ts"))
      table.upsert(MinuteAggregate(e.filter(dom <= 10), "ts", "value"), 0, bulk = true)
      table.upsert(MinuteAggregate(e.filter(dom.between(11, 20)), "ts", "value"), 1, bulk = true)
      table.upsert(MinuteAggregate(e.filter(dom > 20), "ts", "value"), 2, bulk = true)
      table.readAsOf(s, 1)
        .select(col("tx_minute"), col("version"), col("total_nb_trx_1min"))
    }),

    // E2E streaming additive view maintenance (§2.8, seventh replay): an
    // all-time per-user aggregate has unbounded key lifetime, so windowed
    // stream state is the wrong shape — instead each micro-batch appends
    // its mergeable partial as a replay-idempotent epoch and cadence
    // compaction merges checkpoint-committed epochs
    // ([[graft.streaming.StreamView]]). Served view ≡ the batch aggregate.
    "e2e_view_maintain" -> ((s, dir) => {
      val work = scratch("e2eview")
      graft.streaming.StreamView.run(s, ev(s, dir), work)
        .select(col("user_id"), col("n").as("n_events"),
          Exact.fmt(col("s").cast("double"), 4).as("sum_r"))
    }),

    // E2E vacuum under the full read gate: the e2e_view_maintain replay,
    // then EVERY garbage class injected deliberately (a crashed-stage
    // negative orphan epoch carrying poison rows, a stale .tmp manifest),
    // then StreamView.vacuum, then serve. The DuckDB truth is the same
    // per-user rollup over the raw events — so a vacuum that deletes a
    // LIVE epoch (losing rows) or fails to keep the orphan invisible
    // (double-count) hash-mismatches here, not just in a unit test. The
    // runtime complement of IncrementalMipsSpec's crash-injection spec.
    "e2e_vacuum" -> ((s, dir) => {
      val work = scratch("e2e_vacuum")
      graft.streaming.StreamView.run(s, ev(s, dir), work).count()
      val viewPath = s"$work/view"
      // poison orphan: would corrupt the rollup if it ever became visible
      graft.streaming.StreamView.writeEpoch(
        graft.ops.Incremental.partial(
          s.range(1).select(lit(1L).as("user_id"), lit(1e9).as("value")),
          Seq(col("user_id")), col("value")),
        viewPath, -9999L)
      new java.io.File(viewPath, "_manifest.g9999.tmp").createNewFile()
      require(graft.streaming.StreamView.vacuum(s, viewPath) >= 2,
        "vacuum must reclaim the injected orphan and tmp manifest")
      graft.streaming.StreamView.served(s, viewPath, Seq("user_id"))
        .select(col("user_id"), col("n").as("n_events"),
          Exact.fmt(col("s").cast("double"), 4).as("sum_r"))
    }),

    // E2E streaming KMV sketch maintenance (§2.8): per-micro-batch per-day
    // bottom-k partials landed as epochs, served by value-merge — the
    // sketch-algebra instance of e2e_view_maintain's epoch discipline, and
    // the replay-safety contrast: additive (n, sum) partials double-count
    // on replay (exactly-once leans on the epoch overwrite), KMV
    // value-merge is IDEMPOTENT, so a double-landed partial is
    // algebraically harmless. A day's events span several batches; the
    // merged state must equal the direct per-day sketch the oracle
    // recomputes (see streaming/StreamSketch).
    "e2e_kmv_sketch" -> ((s, dir) => {
      val work = scratch("e2e_kmv")
      graft.streaming.StreamSketch.run(s, ev(s, dir), work)
        .select(col("part").as("day"), col("n_kept"), col("kth"),
          Exact.fmt(col("est"), 4).as("est_r"))
    }),

    // O25 — retention truncation under the full read gate: same three
    // deltas as o24, then [[graft.store.KeyedParquetTable.truncateHistory]]
    // physically drops pre-version-1 history; the as-of-2 read afterwards
    // must still be bit-identical to the never-truncated state (version
    // attribution included). The destructive half of time travel, proven
    // non-destructive for every retained state.
    "o25_retention" -> ((s, dir) => {
      val work = scratch("o25")
      val table = new graft.store.KeyedParquetTable(s"$work/table", "tx_minute")
      val e = ev(s, dir)
      val dom = dayofmonth(col("ts"))
      table.upsert(MinuteAggregate(e.filter(dom <= 10), "ts", "value"), 0, bulk = true)
      table.upsert(MinuteAggregate(e.filter(dom.between(11, 20)), "ts", "value"), 1, bulk = true)
      table.upsert(MinuteAggregate(e.filter(dom > 20), "ts", "value"), 2, bulk = true)
      table.truncateHistory(s, keepFrom = 1)
      table.readAsOf(s, 2)
        .select(col("tx_minute"), col("version"), col("total_nb_trx_1min"))
    }),

    // O31 — the full CDC lifecycle against the keyed store (the Delta
    // MERGE WHEN MATCHED DELETE analog on the parquet log): backfill (v0,
    // days ≤ 20) → overlapping re-upsert with doubled fees (v1, days
    // 15-25: keys 15-20 OVERWRITE) → tombstone delete of day 5 (v2) →
    // re-insert day 5 tripled (v3: resurrection after delete). The served
    // state must show exactly v-precedence per day band; tombstones are
    // full-schema null rows the serving reads filter and maintenance
    // passes preserve (mergeSchema reads keep the flag visible across
    // pre-deletion files — a footer-sampled schema would silently
    // resurrect). Oracle recomputes the final state per day band.
    "o31_cdc_apply" -> ((s, dir) => {
      val work = scratch("o31")
      val table = new graft.store.KeyedParquetTable(s"$work/t", "tx_minute")
      val e = ev(s, dir)
      val dom = dayofmonth(col("ts"))
      table.upsert(MinuteAggregate(e.filter(dom <= 20), "ts", "value"), 0, bulk = true)
      table.upsert(MinuteAggregate(
        e.filter(dom.between(15, 25)).withColumn("value", col("value") * 2),
        "ts", "value"), 1, bulk = true)
      table.deleteKeys(s,
        MinuteAggregate(e.filter(dom === 5), "ts", "value").select(col("tx_minute")), 2)
      table.upsert(MinuteAggregate(
        e.filter(dom === 5).withColumn("value", col("value") * 3),
        "ts", "value"), 3, bulk = true)
      table.readLatest(s)
        .select(col("tx_minute"), col("total_nb_trx_1min"),
          Exact.fmt(col("total_fee_1min"), 4).as("fee_r"))
    }),

    // E2E streaming (S3/S4/S6/S10 + P1/P2/P3 + A1 in their STREAMING forms):
    // events rendered as polled envelope fixtures — with overlap duplicates
    // and health-check noise — replayed as a real multi-microbatch
    // Structured Streaming run through unnest → dedup → 1-min window agg →
    // keyed upsert; the returned table state must equal the oracle's clean
    // batch recomputation (see graft.streaming.EndToEnd).
    // withAuxSinks also replays the S5 raw-archive leg and the S11 metrics
    // listener, asserting completeness of both (failures fail this row).
    "e2e_stream_agg" -> ((s, dir) => {
      val work = scratch("e2e")
      // 3-day fixture files (r10 verdict task 3): replay wall time is
      // trigger-count-bound; 10 files / 4 per trigger = 3 microbatches
      // still exercise cross-batch dedup carry-over and the cumulative
      // minute-window upsert (file boundaries stay 30 s past midnight, so
      // a 00:00 window still spans two files AND two batches at the
      // file-3|4 edge). EndToEndSpec keeps the fine day-per-file variant.
      graft.streaming.EndToEnd.run(s, ev(s, dir), work,
        envelopesPerFile = 8640L, withAuxSinks = true)
    }),

    // E2E IDLE-STREAM serving (r10 verdict task 7 — the explicit gate for
    // the documented Flink divergence, resources/flink/main.py:34): the
    // reference needs a per-partition idle-source timeout to keep serving
    // when the firehose goes quiet, because its results ride the
    // watermark. This design doesn't: update-mode emits every window's
    // current aggregate each microbatch and the keyed upsert overwrites,
    // so when the stream goes quiet 30 s into the last minute — that
    // window NEVER sealed by any watermark — the table still serves it
    // with the partial-so-far counts. The oracle recomputes the batch
    // aggregate over the truncated firehose INCLUDING the open window;
    // a watermark-gated (append-like) pipeline would miss that row and
    // rows-mismatch.
    "e2e_idle" -> ((s, dir) => {
      val work = scratch("e2e_idle")
      val e = ev(s, dir)
      val maxSec = e.agg(max(unix_timestamp(col("ts")))).head().getLong(0)
      val cutoff = maxSec / 60L * 60L + 30L // 30 s into the final minute
      val quiet = e.filter(unix_timestamp(col("ts")) < cutoff)
      graft.streaming.EndToEnd.run(s, quiet, work, envelopesPerFile = 8640L)
    }),

    // E2E stream-stream interval join (§2.8): two event-bus subscriptions
    // of one firehose (the reference's one-bus/per-consumer-rule pattern)
    // joined per user on a bounded event-time interval, watermarks on both
    // sides, append sink. Ordered day-chunked replay ⇒ eviction cannot
    // race arrival (streaming/StreamJoin.scala doc), so the sink holds
    // exactly the batch join the oracle recomputes.
    // E2E stream-stream LEFT OUTER join (§2.8): the semantics twin of
    // e2e_stream_join whose hard part is the NULL side — an unmatched
    // click may only emit after the watermark proves no match can arrive,
    // and the trailing clicks need a sentinel PAIR (per-side filters mean
    // per-side watermarks; the global one is their min) to seal. Sink must
    // equal the batch LEFT JOIN row set exactly (see StreamJoin.runLeftOuter).
    "e2e_stream_outer_join" -> ((s, dir) => {
      val work = scratch("e2ejo")
      // 3-day chunks (task 3): the sentinel pair sits 2 days past max ts —
      // day 31 → its own chunk 10 past the last data chunk 9, so the
      // sealing discipline is untouched; eviction-vs-arrival only gets
      // safer with coarser ordered chunks (see Replay.writeDayChunked doc)
      graft.streaming.StreamJoin.runLeftOuter(s, ev(s, dir), work,
        daysPerChunk = 3)
    }),

    "e2e_stream_join" -> ((s, dir) => {
      val work = scratch("e2ej")
      graft.streaming.StreamJoin.run(s, ev(s, dir), work, daysPerChunk = 3)
    }),

    // E2E streaming dedup replay (S10's OWN gate — previously covered only
    // by unit specs + the batch p2 oracle): the firehose re-emits an exact
    // copy of every third event; dropDuplicatesWithinWatermark on event_id
    // must land the ORIGINAL row set exactly. Copies are byte-identical
    // (kept-arrival unobservable) and the 48 h delay dwarfs the ≤1-day
    // original→copy arrival gap a chunk-splitting trigger can introduce,
    // so eviction can never race a duplicate (StreamDedupReplay doc).
    "e2e_stream_dedup" -> ((s, dir) => {
      val work = scratch("e2ededup")
      graft.streaming.StreamDedupReplay.run(s, ev(s, dir), work)
    }),

    // E2E streaming dedup under OUT-OF-ORDER replay (round 13 — the
    // in-order form's adversarial complement): every third event's copy
    // arrives ~30 h AFTER its original, in a LATER day chunk, so arrival
    // order no longer tracks event time. The 48 h watermark still covers
    // the copy's staleness from both sides (state resident, copy not
    // late-discarded — see StreamDedupReplay.runOutOfOrder); the sink must
    // equal the original row set exactly, same oracle as e2e_stream_dedup.
    "e2e_stream_dedup_ooo" -> ((s, dir) => {
      val work = scratch("e2ededupooo")
      graft.streaming.StreamDedupReplay.runOutOfOrder(s, ev(s, dir), work)
    }),

    // E2E stream-STATIC broadcast enrichment (§2.8's third join topology):
    // stateless per-micro-batch hash join against a storage-resident
    // dimension — no watermark, no keyed state, firehose never shuffled.
    // Users ≡ 0 (mod 17) are withheld from the dim to exercise the
    // dim-miss → 'unknown' contract. Sink must equal the batch LEFT JOIN
    // row for row (see streaming/StreamEnrich.scala).
    "e2e_stream_enrich" -> ((s, dir) => {
      val work = scratch("e2een")
      graft.streaming.StreamEnrich.run(s, ev(s, dir), work)
    }),

    // E2E streaming session windows (§2.8): the one windowed aggregate
    // whose state MERGES (a new event can fuse two open sessions). Ordered
    // day-chunked replay ⇒ eviction cannot race a merge (gap in place of
    // the join window — streaming/StreamSession.scala doc); a sentinel
    // high-watermark event seals the trailing sessions so the append sink
    // holds exactly the batch sessionization the oracle recomputes.
    "e2e_session" -> ((s, dir) => {
      val work = scratch("e2es")
      graft.streaming.StreamSession.run(s, ev(s, dir), work)
    }),

    // E2E transformWithState (§2.8, Spark 4's arbitrary-state API): the
    // per-user running profile replayed through typed ValueState +
    // MapState on the RocksDB store — the modern successor to the
    // [flatM|m]apGroupsWithState paths StreamDedup/StreamCdc exercise.
    // Integer-only state arithmetic makes the final latest-wins snapshot
    // a pure function of the row SET (batch-slicing-independent), so the
    // oracle is the plain batch recomputation (see streaming/StreamTws).
    "e2e_tws_profile" -> ((s, dir) => {
      val work = scratch("e2etws")
      graft.streaming.StreamTws.run(s, ev(s, dir), work)
    }),

    // Streaming sibling of mon12: the hysteresis alarm as RESIDENT per-key
    // state (flatMapGroupsWithState) over the day-chunked replay. The op
    // is order-sensitive — determinism comes from ordered file feed across
    // batches + an explicit per-key (ts, event_id) sort within each batch
    // (see graft.streaming.StreamHysteresis). Oracle = mon12's batch
    // recomputation, so any state carried wrong across a batch boundary
    // hash-mismatches.
    "e2e_hysteresis" -> ((s, dir) => {
      val work = scratch("e2ehyst")
      graft.streaming.StreamHysteresis.run(s, ev(s, dir), work)
    }),

    // Watermark DISCARD semantics (the reference's core lateness contract,
    // resources/flink/main.py:77): a deterministic subset of events arrives
    // a full microbatch-group of files late, beyond the 60 s watermark; the
    // oracle recomputes the aggregate EXCLUDING exactly those rows, so any
    // late row admitted (or on-time row dropped) hash-mismatches. 3-DAY
    // fixture files, 4 files/trigger, arrivals delayed 10 files. The
    // determinism constraint is d ≥ 2m+2 in FILE units (the late-events
    // filter lags one batch behind the arrival batch's watermark), and the
    // no-gap constraint is F_ontime ≥ d (a chunk gap would let the
    // fixture's compact reindexing shrink the effective delay): the events
    // table spans 30 days at every SF → F = 10 three-day chunks, so
    // (m=4, d=10) sits exactly on both bounds and the replay runs
    // ceil((F+d)/m) = 5 triggers — the structural minimum for this file
    // width; the r11 (m=2, d=6) form ran 8. See graft.streaming.EndToEnd's
    // late-variant doc; EndToEndSpec keeps the day-per-file variant pinned.
    "e2e_late_drop" -> ((s, dir) => {
      val work = scratch("e2e_late")
      graft.streaming.EndToEnd.run(s, ev(s, dir), work,
        maxFilesPerTrigger = 4, envelopesPerFile = 8640L, lateDelayFiles = 10)
    }),

    // O21 — z-order file skipping, demonstrated on the real write→stats→
    // read path (maintenance round trip, j8's shape): events clustered
    // into 16 range-partitioned files on the o19 Morton key, footer
    // min/max ranges extracted (the manifest relation a table format
    // serves), and a 2-D box served from the clustered table. The oracle
    // pins the exact box count; LayoutSpec pins the pruning inequalities
    // (a one-dim sort reads ALL files for a box on the other dim; z-order
    // reads ~√selectivity of them on EITHER dim).
    "o21_zorder_skip" -> ((s, dir) => {
      val work = scratch("o21")
      val e = ev(s, dir).select(col("user_id"),
        floor(col("value")).cast("long").as("vb"), col("event_id"))
      val z = e.withColumn("zkey",
        graft.ops.Layout.morton16(col("user_id"), col("vb")))
      graft.ops.Layout.clusteredWrite(z, col("zkey"), 16, s"$work/zorder")
      s.read.parquet(s"$work/zorder")
        .filter(col("user_id").between(10, 19) && col("vb").between(100, 119))
        .agg(count(lit(1)).as("n_rows"))
    }),

    // E2E streaming CDC (§2.8): the streaming form of o18's change
    // detection — one state row per (user, event_type) carrying the last
    // value, change rows emitted within the microbatch (no watermark, no
    // sentinel: flatMapGroupsWithState/NoTimeout has no window to seal).
    // The union of per-batch emissions must equal the batch lag-based
    // change relation the oracle recomputes (see streaming/StreamCdc).
    "e2e_cdc" -> ((s, dir) => {
      val work = scratch("e2e_cdc")
      graft.streaming.StreamCdc.run(s, ev(s, dir), work)
    }),

    // Streaming near-dup dedup e2e — the resident LLM-pipeline query:
    // documents replayed in multiple micro-batches, per-batch signature
    // append + incremental band join vs the accumulated signature table;
    // the union of per-batch pair emissions must equal d2's batch
    // recomputation over the full corpus (same DuckDB oracle). Pair
    // emission is structurally exactly-once, so a replay/band-join bug
    // shows up as a row-count mismatch (see graft.streaming.StreamNearDup).
    "e2e_neardup" -> ((s, dir) => {
      val work = scratch("e2e_neardup")
      graft.streaming.StreamNearDup.run(s, docs(s, dir), work,
        numFiles = 8, maxFilesPerTrigger = 2)
    })
  )

  // ---- DuckDB oracles ---------------------------------------------------

  /** Decomposed suffix for t22: e+U+0301, a+U+0300, o+U+0302 — one Scala
    * constant interpolated into BOTH the query and the oracle so the two
    * can never drift. */
  private val nfcSuffix = "e\u0301a\u0300o\u0302"

  private val fpSql = raw"md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))"
  private val toksSql = raw"regexp_split_to_array(trim(text), '\s+')"

  /** Shared CTE chain computing the MinHash signature relation, its banded
    * view, and the distinct LSH candidate pairs — mirrored by
    * DedupOps.signatures/bandedSignatures/lshCandidateIds. `source` is the
    * relation scanned for (doc_id, text) — `documents` everywhere except
    * d19, which bands a synthesized degenerate corpus. */
  private def minhashCtes: String = minhashCtesFrom("documents")

  private def minhashCtesFrom(source: String): String = {
    import graft.ops.DedupOps.{minhashParams, MinhashP => P}
    // 32-bit value of md5's first 8 hex chars, rebuilt digit-by-digit
    val hexVal = (1 to 8).map(j =>
      s"(strpos('0123456789abcdef', substr(md5(t), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
      .mkString(" + ")
    val comps = minhashParams(16).zipWithIndex.map { case ((a, b), i) =>
      s"min((bh * $a + $b) % $P) AS h$i"
    }.mkString(", ")
    val bands = (0 until 4).map { b =>
      val cat = (b * 4 until b * 4 + 4).map(i => s"CAST(h$i AS VARCHAR)").mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $cat AS bsig FROM sig"
    }.mkString(" UNION ALL ")
    // distinct 3-word shingles, mirroring DedupOps.shingles (incl. the
    // short-doc fallback to one whole-text shingle)
    val shingleSql =
      """CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |     ELSE list_transform(range(1, len(tk) - 1),
        |                         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END""".stripMargin
    s"""tk0 AS (SELECT doc_id, $toksSql AS tk FROM $source),
       |tok AS (SELECT DISTINCT doc_id, unnest($shingleSql) AS t FROM tk0),
       |bhs AS (SELECT doc_id, ($hexVal) % $P AS bh FROM tok),
       |sig AS (SELECT doc_id, $comps FROM bhs GROUP BY doc_id),
       |banded AS ($bands),
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** t24 oracle: the same distinct-shingle relation (same tokenizer, same
    * short-doc fallback), first occurrence as a window MIN, novelty in
    * truncating integer basis points. */
  private def noveltyOracle: String = {
    val shingleSql =
      """CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |     ELSE list_transform(range(1, len(tk) - 1),
        |                         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END""".stripMargin
    s"""WITH tk0 AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |tok AS (SELECT DISTINCT doc_id, unnest($shingleSql) AS t FROM tk0),
       |fst AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY t) AS first_doc
       |        FROM tok)
       |SELECT doc_id, COUNT(*) AS n_shingles,
       |  COUNT(*) FILTER (WHERE first_doc = doc_id) AS n_novel,
       |  CAST((COUNT(*) FILTER (WHERE first_doc = doc_id) * 10000) // COUNT(*)
       |       AS BIGINT) AS novelty_bp
       |FROM fst GROUP BY 1""".stripMargin
  }

  /** d10 oracle: exact shingle-Jaccard truth on the doc_id < 500 subset vs
    * the band-collision candidates (per-doc banding → subset-filtering the
    * full pairs relation equals banding the subset). */
  private def lshRecallOracle: String =
    s"""WITH $minhashCtes,
       |ssub AS (SELECT doc_id, t FROM tok WHERE doc_id < 500),
       |sizes AS (SELECT doc_id, COUNT(*) AS ns FROM ssub GROUP BY 1),
       |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS ni
       |  FROM ssub x JOIN ssub y USING (t) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
       |truth AS (SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE ni * 2 >= sa.ns + sb.ns - ni),
       |candsub AS (SELECT id_a, id_b FROM pairs WHERE id_a < 500 AND id_b < 500),
       |hits AS (SELECT t.id_a, t.id_b FROM truth t JOIN candsub c USING (id_a, id_b))
       |SELECT (SELECT COUNT(*) FROM truth) AS n_true,
       |  (SELECT COUNT(*) FROM candsub) AS n_cand,
       |  (SELECT COUNT(*) FROM hits) AS n_hits,
       |  CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN NULL
       |       ELSE (SELECT COUNT(*) FROM hits) * 10000 // (SELECT COUNT(*) FROM truth) END AS recall_bp,
       |  CASE WHEN (SELECT COUNT(*) FROM candsub) = 0 THEN NULL
       |       ELSE (SELECT COUNT(*) FROM hits) * 10000 // (SELECT COUNT(*) FROM candsub) END AS precision_bp""".stripMargin

  /** d19 oracle: the d10 truth machinery over the synthesized degenerate
    * corpus (200-doc slice + 300 verbatim clones of doc 0), with the
    * engine's bucket-cap guard restated relationally — buckets sized over
    * the FULL banded relation, pairs admitted only through buckets with
    * count ≤ cap, one result row per cap. */
  private def capRecallOracle: String = {
    val caps = Seq(100, 400, 1600)
    val perCap = caps.map { c =>
      s"""p$c AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
         |  JOIN bn ON bn.band = a.band AND bn.bsig = a.bsig
         |  WHERE bn.c <= $c),
         |h$c AS (SELECT t.id_a, t.id_b FROM truth t JOIN p$c USING (id_a, id_b))""".stripMargin
    }.mkString(",\n")
    val rows = caps.map { c =>
      s"""SELECT CAST($c AS BIGINT) AS cap,
         |  (SELECT COUNT(*) FROM truth) AS n_true,
         |  (SELECT COUNT(*) FROM p$c) AS n_cand,
         |  (SELECT COUNT(*) FROM h$c) AS n_hits,
         |  CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN NULL
         |       ELSE (SELECT COUNT(*) FROM h$c) * 10000 // (SELECT COUNT(*) FROM truth) END AS recall_bp,
         |  CASE WHEN (SELECT COUNT(*) FROM p$c) = 0 THEN NULL
         |       ELSE (SELECT COUNT(*) FROM h$c) * 10000 // (SELECT COUNT(*) FROM p$c) END AS precision_bp""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 200
       |  UNION ALL
       |  SELECT 10000 + r AS doc_id,
       |         (SELECT text FROM documents WHERE doc_id = 0) AS text
       |  FROM range(1, 301) t(r)),
       |${minhashCtesFrom("corpus")},
       |bn AS (SELECT band, bsig, COUNT(*) AS c FROM banded GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, COUNT(*) AS ns FROM tok GROUP BY 1),
       |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS ni
       |  FROM tok x JOIN tok y USING (t) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
       |truth AS (SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE ni * 2 >= sa.ns + sb.ns - ni),
       |$perCap
       |$rows""".stripMargin
  }

  /** g1 oracle: the s13 k-NN edge relation + three unrolled PageRank
    * iterations (the s8 kmeans unrolling pattern), every contribution
    * truncated to DECIMAL(30,10) before its exact sum and every constant a
    * string-cast double. */
  private def pageRankOracle: String = {
    val iters = (1 to 3).map { i =>
      s"""s$i AS (SELECT e.dst,
         |    CAST(CAST(SUM(CAST(floor(p.pr / o.out_deg * 1e10) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e10 AS in_sum
         |  FROM e JOIN pr${i - 1} p ON p.id = e.src JOIN outdeg o ON o.src = e.src GROUP BY 1),
         |pr$i AS (SELECT spine.id,
         |    (CAST('1.0' AS DOUBLE) - CAST('0.85' AS DOUBLE)) / (SELECT n FROM nn)
         |      + CAST('0.85' AS DOUBLE) * COALESCE(in_sum, CAST('0.0' AS DOUBLE)) AS pr
         |  FROM spine LEFT JOIN s$i ON s$i.dst = spine.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |$adaptiveParamsSql,
       |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm,
       |      substr($signStrSql, 1, (SELECT sd FROM params)) AS bucket FROM v
       |      WHERE list_inner_product(ve, ve) > 0),
       |cand AS (SELECT a.vec_id AS src, b.vec_id AS dst,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      list_inner_product(a.ve, b.ve) / (a.nrm * b.nrm) DESC, b.vec_id) AS rank
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |e AS (SELECT src, dst FROM cand WHERE rank <= 4),
       |spine AS (SELECT vec_id AS id FROM n),
       |nn AS (SELECT COUNT(*) AS n FROM spine),
       |outdeg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY 1),
       |indeg AS (SELECT dst, COUNT(*) AS in_deg FROM e GROUP BY 1),
       |pr0 AS (SELECT id, CAST('1.0' AS DOUBLE) / (SELECT n FROM nn) AS pr FROM spine),
       |$iters
       |SELECT spine.id AS vec_id, CAST(floor(pr3.pr * 1e12) AS BIGINT) AS pr_e12,
       |  CAST(COALESCE(o.out_deg, 0) AS BIGINT) AS out_deg,
       |  CAST(COALESCE(i.in_deg, 0) AS BIGINT) AS in_deg
       |FROM spine JOIN pr3 ON pr3.id = spine.id
       |LEFT JOIN outdeg o ON o.src = spine.id
       |LEFT JOIN indeg i ON i.dst = spine.id""".stripMargin
  }

  /** g10 oracle: [[pageRankOracle]]'s k-NN prefix and iteration chain with
    * the teleport term personalized — (1−d)/|seeds| at seed nodes, 0
    * elsewhere — and the walk started on the seed distribution. */
  private def pprOracle: String = {
    val iters = (1 to 3).map { i =>
      s"""s$i AS (SELECT e.dst,
         |    CAST(CAST(SUM(CAST(floor(p.pr / o.out_deg * 1e10) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e10 AS in_sum
         |  FROM e JOIN pr${i - 1} p ON p.id = e.src JOIN outdeg o ON o.src = e.src GROUP BY 1),
         |pr$i AS (SELECT spine.id,
         |    CASE WHEN sd.id IS NOT NULL
         |         THEN (CAST('1.0' AS DOUBLE) - CAST('0.85' AS DOUBLE)) / (SELECT sn FROM ns)
         |         ELSE CAST('0.0' AS DOUBLE) END
         |      + CAST('0.85' AS DOUBLE) * COALESCE(in_sum, CAST('0.0' AS DOUBLE)) AS pr
         |  FROM spine LEFT JOIN s$i ON s$i.dst = spine.id
         |  LEFT JOIN seeds sd ON sd.id = spine.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |$adaptiveParamsSql,
       |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm,
       |      substr($signStrSql, 1, (SELECT sd FROM params)) AS bucket FROM v
       |      WHERE list_inner_product(ve, ve) > 0),
       |cand AS (SELECT a.vec_id AS src, b.vec_id AS dst,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      list_inner_product(a.ve, b.ve) / (a.nrm * b.nrm) DESC, b.vec_id) AS rank
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |e AS (SELECT src, dst FROM cand WHERE rank <= 4),
       |spine AS (SELECT vec_id AS id FROM n),
       |seeds AS (SELECT DISTINCT vec_id AS id FROM embeddings WHERE vec_id % 10 = 0),
       |ns AS (SELECT COUNT(*) AS sn FROM seeds),
       |outdeg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY 1),
       |pr0 AS (SELECT sp.id,
       |    CASE WHEN sd.id IS NOT NULL THEN CAST('1.0' AS DOUBLE) / (SELECT sn FROM ns)
       |         ELSE CAST('0.0' AS DOUBLE) END AS pr
       |  FROM spine sp LEFT JOIN seeds sd ON sd.id = sp.id),
       |$iters
       |SELECT spine.id AS vec_id, CAST(floor(pr3.pr * 1e12) AS BIGINT) AS ppr_e12
       |FROM spine JOIN pr3 ON pr3.id = spine.id""".stripMargin
  }

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

  /** s30 oracle: the s6 recall chain with the probe width swept — one
    * shared assignment, per-nprobe probe/score/rank/hit CTEs, UNION ALL.
    * Shared prefix CTEs MATERIALIZED (the g11 lesson: three per-nprobe
    * branches referencing them would re-inline the parquet scan). */
  private def nprobeCurveOracle: String = {
    val per = Seq(1, 2, 4).map { np =>
      s"""probes$np AS (SELECT qid, cid FROM (
         |  SELECT q.vec_id AS qid, c.cid, row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY list_inner_product(q.ve, c.cv) / (q.nrm * c.cnrm) DESC, c.cid) AS rn
         |  FROM n q CROSS JOIN cent c WHERE q.vec_id < 5) WHERE rn <= $np),
         |scored$np AS (
         |  SELECT p.qid AS query_id, x.vec_id AS neighbor_id,
         |         list_inner_product(q.ve, x.ve) / (q.nrm * x.nrm) AS sim
         |  FROM probes$np p JOIN assign a ON a.cid = p.cid
         |  JOIN n x ON x.vec_id = a.vec_id JOIN n q ON q.vec_id = p.qid
         |  WHERE x.vec_id <> p.qid),
         |ivf$np AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM scored$np) WHERE rank <= 5),
         |hits$np AS (SELECT $np AS nprobe, i.query_id,
         |    CAST(SUM(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_hits
         |  FROM ivf$np i LEFT JOIN brute b USING (query_id, neighbor_id)
         |  GROUP BY 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |$adaptiveParamsSql,
       |n AS MATERIALIZED (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm FROM v
       |      WHERE list_inner_product(ve, ve) > 0),
       |brute AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY list_inner_product(q.ve, c.ve) / (q.nrm * c.nrm) DESC,
       |                    c.vec_id) AS rank
       |  FROM n q JOIN n c ON q.vec_id < 5 AND q.vec_id <> c.vec_id) WHERE rank <= 5),
       |cent AS MATERIALIZED (SELECT vec_id AS cid, ve AS cv, nrm AS cnrm FROM n
       |        WHERE vec_id % (SELECT stride FROM params) = 0),
       |assign AS MATERIALIZED (SELECT vec_id, cid FROM (
       |  SELECT a.vec_id, c.cid, row_number() OVER (PARTITION BY a.vec_id
       |    ORDER BY list_inner_product(a.ve, c.cv) / (a.nrm * c.cnrm) DESC, c.cid) AS rn
       |  FROM n a CROSS JOIN cent c) WHERE rn = 1),
       |$per
       |SELECT nprobe, query_id, n_hits FROM hits1
       |UNION ALL SELECT nprobe, query_id, n_hits FROM hits2
       |UNION ALL SELECT nprobe, query_id, n_hits FROM hits4""".stripMargin
  }

  /** Mirrors s36: the s30 probe/score/topk chain per stride variant, the
    * same GREATEST floor on the fine grid, k_cells counted per tag. */
  private def nlistCurveOracle: String = {
    val tags = Seq(("coarse", "(SELECT stride FROM params) * 4"),
      ("base", "(SELECT stride FROM params)"),
      ("fine", "GREATEST((SELECT stride FROM params) // 4, 2)"))
    val per = tags.map { case (tag, strideExpr) =>
      s"""cent_$tag AS MATERIALIZED (SELECT vec_id AS cid, ve AS cv, nrm AS cnrm
         |  FROM n WHERE vec_id % ($strideExpr) = 0),
         |assign_$tag AS MATERIALIZED (SELECT vec_id, cid FROM (
         |  SELECT a.vec_id, c.cid, row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY list_inner_product(a.ve, c.cv) / (a.nrm * c.cnrm) DESC, c.cid) AS rn
         |  FROM n a CROSS JOIN cent_$tag c) WHERE rn = 1),
         |probes_$tag AS (SELECT qid, cid FROM (
         |  SELECT q.vec_id AS qid, c.cid, row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY list_inner_product(q.ve, c.cv) / (q.nrm * c.cnrm) DESC, c.cid) AS rn
         |  FROM n q CROSS JOIN cent_$tag c WHERE q.vec_id < 5) WHERE rn <= 2),
         |ivf_$tag AS (SELECT query_id, neighbor_id FROM (
         |  SELECT p.qid AS query_id, x.vec_id AS neighbor_id,
         |         row_number() OVER (PARTITION BY p.qid
         |           ORDER BY list_inner_product(q.ve, x.ve) / (q.nrm * x.nrm) DESC,
         |                    x.vec_id) AS rank
         |  FROM probes_$tag p JOIN assign_$tag a ON a.cid = p.cid
         |  JOIN n x ON x.vec_id = a.vec_id JOIN n q ON q.vec_id = p.qid
         |  WHERE x.vec_id <> p.qid) WHERE rank <= 5),
         |hits_$tag AS (SELECT '$tag' AS nlist_tag,
         |    (SELECT COUNT(*) FROM cent_$tag) AS k_cells, i.query_id,
         |    CAST(SUM(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_hits
         |  FROM ivf_$tag i LEFT JOIN brute b USING (query_id, neighbor_id)
         |  GROUP BY 3)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |$adaptiveParamsSql,
       |n AS MATERIALIZED (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm FROM v
       |      WHERE list_inner_product(ve, ve) > 0),
       |brute AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY list_inner_product(q.ve, c.ve) / (q.nrm * c.nrm) DESC,
       |                    c.vec_id) AS rank
       |  FROM n q JOIN n c ON q.vec_id < 5 AND q.vec_id <> c.vec_id) WHERE rank <= 5),
       |$per
       |SELECT nlist_tag, k_cells, query_id, n_hits FROM hits_coarse
       |UNION ALL SELECT nlist_tag, k_cells, query_id, n_hits FROM hits_base
       |UNION ALL SELECT nlist_tag, k_cells, query_id, n_hits FROM hits_fine""".stripMargin
  }

  /** g11 oracle: the k-NN prefix, canonicalized undirected edges, then
    * FOUR UNROLLED Luby rounds — each a min-over-active-neighbors
    * aggregate, the priority-precedes select, the neighbor removal, and
    * the survivor set, with the identical md5(id)‖len‖id priority string. */
  private def misOracle: String = {
    // AS MATERIALIZED throughout: DuckDB inlines plain CTEs, and each
    // round references the previous one ~5 times, so the unrolled chain
    // would expand to ~5^4 scans of the base parquet — past the open-file
    // limit. Materialization evaluates each round once.
    val rounds = (1 to 4).map { r =>
      s"""mn$r AS MATERIALIZED (SELECT nb.id, MIN(x.h) AS mn
         |  FROM nb JOIN a${r - 1} x ON x.id = nb.nb
         |  JOIN a${r - 1} y ON y.id = nb.id GROUP BY 1),
         |sel$r AS MATERIALIZED (SELECT a.id FROM a${r - 1} a LEFT JOIN mn$r m ON m.id = a.id
         |  WHERE m.mn IS NULL OR a.h < m.mn),
         |rem$r AS MATERIALIZED (SELECT DISTINCT nb.id FROM nb JOIN sel$r s ON s.id = nb.nb
         |  JOIN a${r - 1} y ON y.id = nb.id
         |  WHERE nb.id NOT IN (SELECT id FROM sel$r)),
         |a$r AS MATERIALIZED (SELECT a.id, a.h FROM a${r - 1} a
         |  WHERE a.id NOT IN (SELECT id FROM sel$r)
         |    AND a.id NOT IN (SELECT id FROM rem$r))""".stripMargin
    }.mkString(",\n")
    val states = (1 to 4).map { r =>
      s"""SELECT id, 'selected' AS state, $r AS rnd FROM sel$r
         |UNION ALL SELECT id, 'removed', $r FROM rem$r""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |$adaptiveParamsSql,
       |n AS MATERIALIZED (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm,
       |      substr($signStrSql, 1, (SELECT sd FROM params)) AS bucket FROM v
       |      WHERE list_inner_product(ve, ve) > 0),
       |cand AS (SELECT a.vec_id AS src, b.vec_id AS dst,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      list_inner_product(a.ve, b.ve) / (a.nrm * b.nrm) DESC, b.vec_id) AS rank
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |e AS MATERIALIZED (SELECT src, dst FROM cand WHERE rank <= 4),
       |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |        FROM e WHERE src <> dst),
       |nb AS MATERIALIZED (SELECT a AS id, b AS nb FROM und
       |       UNION ALL SELECT b, a FROM und),
       |a0 AS MATERIALIZED (SELECT vec_id AS id,
       |    md5(CAST(vec_id AS VARCHAR))
       |      || CAST(length(CAST(vec_id AS VARCHAR)) AS VARCHAR)
       |      || ':' || CAST(vec_id AS VARCHAR) AS h
       |  FROM n),
       |$rounds
       |SELECT id AS vec_id, state, CAST(rnd AS INT) AS rnd FROM (
       |$states
       |UNION ALL SELECT id, 'active', 0 FROM a4)""".stripMargin
  }

  /** g6 oracle: the s13 k-NN edge relation (same prefix as
    * [[pageRankOracle]]), symmetrized, then THREE UNROLLED label-prop
    * rounds — each a vote count / (count DESC, label) argmax / clamped
    * update triple. Sync-iteration semantics can't be expressed by
    * recursive SQL (each round needs the FULL previous state, not a
    * frontier), so the round count is a fixed contract constant unrolled
    * here, exactly like pageRank's iterations. */
  private def labelPropOracle: String = {
    val rounds = (1 to 3).map { i =>
      s"""v$i AS (SELECT e.src AS id, st.label AS nlabel, COUNT(*) AS c
         |  FROM e2 e JOIN l${i - 1} st ON st.id = e.dst
         |  WHERE st.label IS NOT NULL GROUP BY 1, 2),
         |m$i AS (SELECT id, nlabel FROM (
         |    SELECT id, nlabel, row_number() OVER (PARTITION BY id
         |      ORDER BY c DESC, nlabel) AS rn FROM v$i) WHERE rn = 1),
         |l$i AS (SELECT l.id, COALESCE(s.label, m.nlabel, l.label) AS label
         |  FROM l${i - 1} l LEFT JOIN seeds s ON s.id = l.id
         |  LEFT JOIN m$i m ON m.id = l.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |$adaptiveParamsSql,
       |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm,
       |      substr($signStrSql, 1, (SELECT sd FROM params)) AS bucket FROM v
       |      WHERE list_inner_product(ve, ve) > 0),
       |cand AS (SELECT a.vec_id AS src, b.vec_id AS dst,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      list_inner_product(a.ve, b.ve) / (a.nrm * b.nrm) DESC, b.vec_id) AS rank
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |e AS (SELECT src, dst FROM cand WHERE rank <= 4),
       |e2 AS (SELECT DISTINCT src, dst FROM
       |       (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)),
       |seeds AS (SELECT vec_id AS id, label FROM embeddings WHERE vec_id % 10 = 0),
       |spine AS (SELECT vec_id AS id FROM embeddings),
       |l0 AS (SELECT sp.id, s.label FROM spine sp LEFT JOIN seeds s ON s.id = sp.id),
       |$rounds
       |SELECT id AS vec_id, label FROM l3""".stripMargin
  }

  /** g7 oracle: the s13 k-NN edge relation (same prefix as
    * [[pageRankOracle]], directed) + two unrolled HITS rounds in pure
    * BIGINT arithmetic — h₀=1 makes round-1 authority the indegree, and
    * every later score an exact integer sum, so there is no floating grid
    * to reconcile. */
  private def hitsOracle: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |$adaptiveParamsSql,
       |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm,
       |      substr($signStrSql, 1, (SELECT sd FROM params)) AS bucket FROM v
       |      WHERE list_inner_product(ve, ve) > 0),
       |cand AS (SELECT a.vec_id AS src, b.vec_id AS dst,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      list_inner_product(a.ve, b.ve) / (a.nrm * b.nrm) DESC, b.vec_id) AS rank
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |e AS (SELECT src, dst FROM cand WHERE rank <= 4),
       |spine AS (SELECT vec_id AS id FROM n),
       |a1 AS (SELECT e.dst AS id, COUNT(*) AS v FROM e GROUP BY 1),
       |h1 AS (SELECT e.src AS id, CAST(SUM(COALESCE(a1.v, 0)) AS BIGINT) AS v
       |       FROM e LEFT JOIN a1 ON a1.id = e.dst GROUP BY 1),
       |a2 AS (SELECT e.dst AS id, CAST(SUM(COALESCE(h1.v, 0)) AS BIGINT) AS v
       |       FROM e LEFT JOIN h1 ON h1.id = e.src GROUP BY 1),
       |h2 AS (SELECT e.src AS id, CAST(SUM(COALESCE(a2.v, 0)) AS BIGINT) AS v
       |       FROM e LEFT JOIN a2 ON a2.id = e.dst GROUP BY 1)
       |SELECT spine.id AS vec_id, CAST(COALESCE(a2.v, 0) AS BIGINT) AS auth,
       |  CAST(COALESCE(h2.v, 0) AS BIGINT) AS hub
       |FROM spine LEFT JOIN a2 ON a2.id = spine.id
       |           LEFT JOIN h2 ON h2.id = spine.id""".stripMargin

  /** x14 oracle: d6's recursive component labeling (same CTE chain as
    * [[clusterOracle]]) + the x5 hash ladder applied to the GROUP id. */
  private def clusterSplitOracle: String = {
    val eq = (0 until 16).map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END").mkString(" + ")
    val hexVal = (1 to 8).map(j =>
      s"(strpos('0123456789abcdef', substr(md5('csplit:' || CAST(gid AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
      .mkString(" + ")
    val ladder = graft.ops.Sampling.splitBoundaries(splitFractions)
      .map { case (name, bound) => s"WHEN ($hexVal) < $bound THEN '$name'" }
      .mkString(" ")
    s"""WITH RECURSIVE $minhashCtes,
       |scored AS (
       |  SELECT p.id_a, p.id_b FROM pairs p
       |  JOIN sig sa ON p.id_a = sa.doc_id JOIN sig sb ON p.id_b = sb.doc_id
       |  WHERE CAST(($eq) AS DOUBLE) / 16 >= CAST('0.5' AS DOUBLE)),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM scored
       |          UNION SELECT id_b, id_a FROM scored),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT re.id, e.dst FROM reach re JOIN edges e ON re.r = e.src),
       |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |grp AS (SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS gid
       |        FROM documents d LEFT JOIN lab l ON l.id = d.doc_id),
       |asg AS (SELECT doc_id, gid, CASE $ladder END AS split FROM grp),
       |gs AS (SELECT split, gid, COUNT(*) AS gsz FROM asg GROUP BY 1, 2)
       |SELECT split, CAST(SUM(gsz) AS BIGINT) AS n_docs,
       |  COUNT(*) AS n_groups, CAST(MAX(gsz) AS BIGINT) AS max_group
       |FROM gs GROUP BY 1""".stripMargin
  }

  /** c8 oracle: the m8 chain (dHash pairs → recursive reachability labels)
    * + the x14 split ladder keyed on the image cluster + the straddling-
    * pair leak count (must be 0 — the guarantee under test). */
  private def imageClusterSplitOracle: String = {
    val hexVal = (1 to 8).map(j =>
      s"(strpos('0123456789abcdef', substr(md5('isplit:' || CAST(gid AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
      .mkString(" + ")
    val ladder = graft.ops.Sampling.splitBoundaries(splitFractions)
      .map { case (name, bound) => s"WHEN ($hexVal) < $bound THEN '$name'" }
      .mkString(" ")
    s"""WITH RECURSIVE $dhashPairsCtes,
       |pp AS (SELECT id_a, id_b FROM p WHERE hamming <= 4),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pp
       |          UNION SELECT id_b, id_a FROM pp),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT re.id, e.dst FROM reach re JOIN edges e ON re.r = e.src),
       |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |grp AS (SELECT u.user_id, COALESCE(l.cluster_id, u.user_id) AS gid
       |        FROM u LEFT JOIN lab l ON l.id = u.user_id),
       |asg AS (SELECT user_id, gid, CASE $ladder END AS split FROM grp),
       |leak AS (SELECT COUNT(*) AS n_leaked
       |  FROM pp JOIN asg a ON a.user_id = pp.id_a
       |          JOIN asg b ON b.user_id = pp.id_b
       |  WHERE a.split <> b.split),
       |gs AS (SELECT split, gid, COUNT(*) AS gsz FROM asg GROUP BY 1, 2)
       |SELECT split, CAST(SUM(gsz) AS BIGINT) AS n_imgs,
       |  COUNT(*) AS n_groups, CAST(MAX(gsz) AS BIGINT) AS max_group,
       |  (SELECT n_leaked FROM leak) AS n_leaked
       |FROM gs GROUP BY 1""".stripMargin
  }

  /** c9 oracle: the ladder restated — window-min exact survivors, the
    * shared minhash CTEs over them, bucket-capped + signature-scored
    * pairs, recursive reachability labels, min-id keep-set. */
  private def dedupLadderOracle: String = {
    val eq = (0 until 16).map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH RECURSIVE corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT 10000 + r AS doc_id,
       |         (SELECT text FROM documents WHERE doc_id = 0) AS text
       |  FROM range(1, 301) t(r)),
       |fpt AS (SELECT doc_id, text, $fpSql AS fp FROM corpus),
       |sur AS (SELECT doc_id, text FROM (
       |    SELECT doc_id, text, MIN(doc_id) OVER (PARTITION BY fp) AS m
       |    FROM fpt) WHERE doc_id = m),
       |${minhashCtesFrom("sur")},
       |bn AS (SELECT band, bsig, COUNT(*) AS c FROM banded GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
       |  JOIN bn ON bn.band = a.band AND bn.bsig = a.bsig
       |  WHERE bn.c <= 400),
       |scored AS (SELECT id_a, id_b FROM cand
       |  JOIN sig sa ON id_a = sa.doc_id JOIN sig sb ON id_b = sb.doc_id
       |  WHERE CAST(($eq) AS DOUBLE) / 16 >= CAST('0.5' AS DOUBLE)),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM scored
       |          UNION SELECT id_b, id_a FROM scored),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT re.id, e.dst FROM reach re JOIN edges e ON re.r = e.src),
       |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |kept AS (SELECT s.doc_id FROM sur s LEFT JOIN lab l ON l.id = s.doc_id
       |         WHERE s.doc_id = COALESCE(l.cluster_id, s.doc_id))
       |SELECT (SELECT COUNT(*) FROM corpus) AS n_docs,
       |  (SELECT COUNT(*) FROM sur) AS n_exact_survivors,
       |  (SELECT COUNT(*) FROM scored) AS n_lsh_pairs,
       |  (SELECT COUNT(*) FROM kept) AS n_kept,
       |  (SELECT CAST(SUM(doc_id) AS BIGINT) FROM kept) AS kept_id_sum""".stripMargin
  }

  /** g2 oracle: the s13 k-NN edge relation (same prefix as
    * [[pageRankOracle]]) undirected + canonicalized, the same
    * (degree, id)-ordered orientation, wedge closure, and per-node
    * triangle/coefficient arithmetic — exact integers throughout. */
  private def triangleOracle: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |$adaptiveParamsSql,
       |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm,
       |      substr($signStrSql, 1, (SELECT sd FROM params)) AS bucket FROM v
       |      WHERE list_inner_product(ve, ve) > 0),
       |cand AS (SELECT a.vec_id AS src, b.vec_id AS dst,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      list_inner_product(a.ve, b.ve) / (a.nrm * b.nrm) DESC, b.vec_id) AS rank
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |e AS (SELECT src, dst FROM cand WHERE rank <= 4),
       |spine AS (SELECT vec_id AS id FROM n),
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |        FROM e WHERE src <> dst),
       |deg AS (SELECT id, COUNT(*) AS deg FROM
       |        (SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
       |        GROUP BY 1),
       |o AS (SELECT CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END AS s,
       |             CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END AS t
       |      FROM und u JOIN deg da ON da.id = u.a JOIN deg db ON db.id = u.b),
       |tri AS (SELECT o1.s AS apex, o1.t AS x, o2.t AS y
       |        FROM o o1 JOIN o o2 ON o1.s = o2.s AND o1.t < o2.t
       |        WHERE EXISTS (SELECT 1 FROM und u
       |                      WHERE u.a = o1.t AND u.b = o2.t)),
       |pn AS (SELECT id, COUNT(*) AS tri FROM
       |       (SELECT apex AS id FROM tri UNION ALL SELECT x FROM tri
       |        UNION ALL SELECT y FROM tri) GROUP BY 1)
       |SELECT spine.id AS vec_id,
       |  CAST(COALESCE(d.deg, 0) AS BIGINT) AS deg,
       |  CAST(COALESCE(pn.tri, 0) AS BIGINT) AS tri,
       |  CAST(CASE WHEN COALESCE(d.deg, 0) >= 2
       |       THEN COALESCE(pn.tri, 0) * 2 * 10000 // (d.deg * (d.deg - 1))
       |       ELSE 0 END AS BIGINT) AS cc_bp
       |FROM spine LEFT JOIN deg d ON d.id = spine.id
       |LEFT JOIN pn ON pn.id = spine.id""".stripMargin

  /** d11 oracle: the same distinct-shingle relation, (df, token)-ordered
    * per-doc positions, integer prefix bound, prefix-token candidate join,
    * and integer verification — mirrored relation for relation. */
  private def setSimJoinOracle: String = {
    val shingleSql =
      """CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |     ELSE list_transform(range(1, len(tk) - 1),
        |                         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END""".stripMargin
    s"""WITH tk0 AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |tok AS (SELECT DISTINCT doc_id, unnest($shingleSql) AS t FROM tk0),
       |dfreq AS (SELECT t, COUNT(*) AS df FROM tok GROUP BY 1),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
       |rk AS (SELECT k.doc_id, k.t,
       |       row_number() OVER (PARTITION BY k.doc_id ORDER BY d.df, k.t) AS pos
       |       FROM tok k JOIN dfreq d USING (t)),
       |pre AS (SELECT r.doc_id, r.t FROM rk r JOIN sz s USING (doc_id)
       |        WHERE r.pos <= s.n - ((8 * s.n + 9) // 10) + 1),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM pre a JOIN pre b USING (t) WHERE a.doc_id < b.doc_id),
       |i AS (SELECT c.id_a, c.id_b, COUNT(*) AS ni
       |      FROM cand c JOIN tok x ON x.doc_id = c.id_a
       |      JOIN tok y ON y.doc_id = c.id_b AND y.t = x.t
       |      GROUP BY 1, 2)
       |SELECT i.id_a, i.id_b, sa.n AS na, sb.n AS nb, i.ni,
       |  i.ni * 10000 // (sa.n + sb.n - i.ni) AS j_bp
       |FROM i JOIN sz sa ON sa.doc_id = i.id_a
       |JOIN sz sb ON sb.doc_id = i.id_b
       |WHERE 10 * i.ni >= 8 * (sa.n + sb.n - i.ni)""".stripMargin
  }

  /** Shared k-NN graph prefix for the g4/g5 oracles: the same s13 edge
    * relation as g1/g2/g3 plus its undirected closure and neighbor/degree
    * relations. */
  private def knnUndirectedCtes: String =
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |$adaptiveParamsSql,
       |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm,
       |      substr($signStrSql, 1, (SELECT sd FROM params)) AS bucket FROM v
       |      WHERE list_inner_product(ve, ve) > 0),
       |cand AS (SELECT a.vec_id AS src, b.vec_id AS dst,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      list_inner_product(a.ve, b.ve) / (a.nrm * b.nrm) DESC, b.vec_id) AS rank
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |e AS (SELECT src, dst FROM cand WHERE rank <= 4),
       |spine AS (SELECT vec_id AS id FROM n),
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |        FROM e WHERE src <> dst),
       |nbr AS (SELECT a AS id, b AS nb FROM und
       |        UNION ALL SELECT b AS id, a AS nb FROM und),
       |dg AS (SELECT id, COUNT(*) AS deg FROM nbr GROUP BY 1)""".stripMargin

  /** g4 oracle: four unrolled BFS rounds from the mod-97 seed set —
    * frontier k = neighbors of frontier k−1 minus everything settled. */
  private def bfsOracle: String = {
    val settledThrough = (k: Int) =>
      (0 to k).map(i => s"SELECT id FROM s$i").mkString(" UNION ")
    val rounds = (1 to 4).map { k =>
      s"""s$k AS (SELECT DISTINCT nb AS id FROM nbr
         |  WHERE id IN (SELECT id FROM s${k - 1})
         |    AND nb NOT IN (${settledThrough(k - 1)}))""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnUndirectedCtes,
       |s0 AS (SELECT id FROM spine WHERE id % 97 = 0),
       |$rounds
       |SELECT spine.id AS vec_id,
       |  CAST(CASE WHEN id IN (SELECT id FROM s0) THEN 0
       |            WHEN id IN (SELECT id FROM s1) THEN 1
       |            WHEN id IN (SELECT id FROM s2) THEN 2
       |            WHEN id IN (SELECT id FROM s3) THEN 3
       |            WHEN id IN (SELECT id FROM s4) THEN 4
       |            ELSE -1 END AS BIGINT) AS dist
       |FROM spine""".stripMargin
  }

  /** g5 oracle: wedges through deg≤64 intermediates, pair scores, the
    * non-adjacency anti join, and the three integer scores. */
  private def linkPredOracle: String =
    s"""WITH $knnUndirectedCtes,
       |mid AS (SELECT nr.nb AS z, nr.id, d.deg AS degz
       |        FROM nbr nr JOIN dg d ON d.id = nr.nb WHERE d.deg <= 64),
       |sc AS (SELECT m1.id AS id_a, m2.id AS id_b, COUNT(*) AS cn,
       |         SUM(10000000000 // m1.degz) AS ra
       |       FROM mid m1 JOIN mid m2 ON m1.z = m2.z AND m1.id < m2.id
       |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |na AS (SELECT * FROM sc WHERE NOT EXISTS
       |        (SELECT 1 FROM und WHERE und.a = sc.id_a AND und.b = sc.id_b))
       |SELECT na.id_a, na.id_b, CAST(na.cn AS BIGINT) AS cn,
       |  CAST(na.cn * 10000 // (da.deg + db.deg - na.cn) AS BIGINT) AS jacc_bp,
       |  CAST(na.ra AS BIGINT) AS ra_e10
       |FROM na JOIN dg da ON da.id = na.id_a
       |JOIN dg db ON db.id = na.id_b""".stripMargin

  /** g3 oracle: the g1/g2 edge-chain prefix + three unrolled peel rounds
    * (round 1 on full degree, rounds 2-3 on induced degree), survivor
    * flags left-joined per round — integer arithmetic only. */
  private def kCoreOracle: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |$adaptiveParamsSql,
       |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm,
       |      substr($signStrSql, 1, (SELECT sd FROM params)) AS bucket FROM v
       |      WHERE list_inner_product(ve, ve) > 0),
       |cand AS (SELECT a.vec_id AS src, b.vec_id AS dst,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      list_inner_product(a.ve, b.ve) / (a.nrm * b.nrm) DESC, b.vec_id) AS rank
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |e AS (SELECT src, dst FROM cand WHERE rank <= 4),
       |spine AS (SELECT vec_id AS id FROM n),
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |        FROM e WHERE src <> dst),
       |deg AS (SELECT id, COUNT(*) AS deg FROM
       |        (SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
       |        GROUP BY 1),
       |a1 AS (SELECT id FROM deg WHERE deg >= 3),
       |e2 AS (SELECT u.a, u.b FROM und u
       |       WHERE u.a IN (SELECT id FROM a1) AND u.b IN (SELECT id FROM a1)),
       |d2 AS (SELECT id, COUNT(*) AS dk FROM
       |       (SELECT a AS id FROM e2 UNION ALL SELECT b AS id FROM e2)
       |       GROUP BY 1),
       |a2 AS (SELECT id FROM d2 WHERE dk >= 3),
       |e3 AS (SELECT u.a, u.b FROM und u
       |       WHERE u.a IN (SELECT id FROM a2) AND u.b IN (SELECT id FROM a2)),
       |d3 AS (SELECT id, COUNT(*) AS dk FROM
       |       (SELECT a AS id FROM e3 UNION ALL SELECT b AS id FROM e3)
       |       GROUP BY 1),
       |a3 AS (SELECT id FROM d3 WHERE dk >= 3)
       |SELECT spine.id AS vec_id,
       |  CAST(COALESCE(d.deg, 0) AS BIGINT) AS deg,
       |  CAST((CASE WHEN f1.id IS NULL THEN 0 ELSE 1 END)
       |     + (CASE WHEN f2.id IS NULL THEN 0 ELSE 1 END)
       |     + (CASE WHEN f3.id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
       |    AS rounds_survived,
       |  CAST(CASE WHEN f3.id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_core
       |FROM spine LEFT JOIN deg d ON d.id = spine.id
       |LEFT JOIN a1 f1 ON f1.id = spine.id
       |LEFT JOIN a2 f2 ON f2.id = spine.id
       |LEFT JOIN a3 f3 ON f3.id = spine.id""".stripMargin

  private def minhashOracle: String = {
    val eq = (0 until 16).map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $minhashCtes
       |SELECT p.id_a, p.id_b, CAST(($eq) AS DOUBLE) / 16 AS est_jaccard
       |FROM pairs p JOIN sig sa ON p.id_a = sa.doc_id JOIN sig sb ON p.id_b = sb.doc_id""".stripMargin
  }

  /** The composed cleaning pipeline (c1): filters → exact dedup → near-dup
    * removal, sharing the minhash CTE chain. est_jaccard ≥ 0.5 over 16
    * components ⟺ ≥ 8 equal components (integer compare, no fp literal). */
  private def corpusCleanOracle: String = {
    val eq = (0 until 16).map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $minhashCtes,
       |dup AS (SELECT DISTINCT p.id_b FROM pairs p
       |  JOIN sig sa ON p.id_a = sa.doc_id JOIN sig sb ON p.id_b = sb.doc_id
       |  WHERE ($eq) >= 8),
       |b AS (SELECT doc_id, text,
       |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS ntok,
       |  CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
       |       ELSE len(list_filter($toksSql, t -> t IN ($stopIn))) END AS nsw,
       |  CASE WHEN length(text) = 0 THEN 0.0
       |       ELSE CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE)
       |            / length(text) END AS praw,
       |  CAST(length(lower(text)) - length(regexp_replace(lower(text), '[aeiou]', '', 'g')) AS DOUBLE)
       |    / greatest(length(lower(text)), 1) AS vr,
       |  $fpSql AS fp
       |  FROM documents),
       |q AS (SELECT doc_id, fp,
       |  CASE WHEN vr >= 0.42 THEN 'en' WHEN vr >= 0.36 THEN 'es' ELSE 'de' END AS lang,
       |  ntok AS n_tokens,
       |  (least(length(text) / 500.0, 1.0)
       |   + (1.0 - least(praw * 5.0, 1.0))
       |   + least((CASE WHEN ntok = 0 THEN 0.0 ELSE CAST(nsw AS DOUBLE) / ntok END) * 4.0, 1.0)
       |  ) / 3.0 AS quality
       |  FROM b),
       |kept AS (SELECT * FROM q WHERE n_tokens >= 5 AND quality >= CAST('0.5' AS DOUBLE)),
       |canon AS (SELECT fp, min(doc_id) AS doc_id FROM kept GROUP BY fp)
       |SELECT k.doc_id, k.lang, k.n_tokens, printf('%.4f', k.quality) AS quality_r
       |FROM kept k JOIN canon c ON k.fp = c.fp AND k.doc_id = c.doc_id
       |WHERE k.doc_id NOT IN (SELECT id_b FROM dup)""".stripMargin
  }

  /** Exact unigram-token Jaccard over the LSH candidate pairs (d4). */
  private def blockedJaccardOracle: String =
    s"""WITH $minhashCtes,
       |tks AS (SELECT doc_id, list_distinct($toksSql) AS toks FROM documents)
       |SELECT p.id_a, p.id_b,
       |  CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) = 0 THEN 0.0
       |       ELSE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
       |            / len(list_distinct(list_concat(a.toks, b.toks))) END AS jaccard
       |FROM pairs p JOIN tks a ON p.id_a = a.doc_id JOIN tks b ON p.id_b = b.doc_id""".stripMargin

  private def annOracle: String = {
    // explicit left-to-right dot/norm fold matching SimilarityOps exactly
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm FROM v
       |      WHERE list_inner_product(ve, ve) > 0),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         list_inner_product(q.ve, c.ve) / (q.nrm * c.nrm) AS sim
       |  FROM n q JOIN n c ON q.vec_id < 5 AND q.vec_id <> c.vec_id)
       |SELECT query_id, rank, neighbor_id, printf('%.4f', sim) AS sim_r FROM (
       |  SELECT query_id, neighbor_id, sim,
       |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM scored) WHERE rank <= 10""".stripMargin
  }

  /** s23 oracle: the annOracle candidate relation (top-16, queries
    * vec_id < 3) with cosines floored to the 1e10 integer grid, the
    * pool-pairwise penalty relation, then FIVE UNROLLED greedy MMR rounds —
    * each a max-penalty / integer-score / argmax CTE triple (greedy
    * selection is sequential; fixed round count is the contract, exactly
    * like pageRank's iterations). Scores are BIGINTs (7·simS − 3·penS): no
    * double ever reaches an ORDER BY. */
  private def mmrOracle: String = {
    val rounds = (2 to 5).map { i =>
      s"""pen$i AS (SELECT cp.query_id, cp.id_a AS neighbor_id, MAX(cp.pen_s) AS mp
         |  FROM cp JOIN all${i - 1} s
         |    ON s.query_id = cp.query_id AND s.neighbor_id = cp.id_b
         |  GROUP BY 1, 2),
         |sc$i AS (SELECT c.query_id, c.neighbor_id,
         |    7 * c.qs - 3 * p.mp AS score_s
         |  FROM cand c
         |  JOIN pen$i p ON p.query_id = c.query_id AND p.neighbor_id = c.neighbor_id
         |  LEFT JOIN all${i - 1} s
         |    ON s.query_id = c.query_id AND s.neighbor_id = c.neighbor_id
         |  WHERE s.neighbor_id IS NULL),
         |sel$i AS (SELECT query_id, $i AS pick, neighbor_id, score_s FROM (
         |    SELECT query_id, neighbor_id, score_s, row_number() OVER (
         |      PARTITION BY query_id ORDER BY score_s DESC, neighbor_id) AS rn
         |    FROM sc$i) WHERE rn = 1),
         |all$i AS (SELECT query_id, neighbor_id FROM all${i - 1}
         |  UNION ALL SELECT query_id, neighbor_id FROM sel$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm FROM v
       |      WHERE list_inner_product(ve, ve) > 0),
       |cand AS (SELECT query_id, neighbor_id,
       |    CAST(floor(sim * 1e10) AS BIGINT) AS qs FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         list_inner_product(q.ve, c.ve) / (q.nrm * c.nrm) AS sim,
       |         row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |           list_inner_product(q.ve, c.ve) / (q.nrm * c.nrm) DESC,
       |           c.vec_id) AS rank
       |  FROM n q JOIN n c ON q.vec_id < 3 AND q.vec_id <> c.vec_id)
       |  WHERE rank <= 16),
       |cv AS (SELECT c.query_id, c.neighbor_id AS id, n.ve, n.nrm
       |       FROM cand c JOIN n ON n.vec_id = c.neighbor_id),
       |cp AS (SELECT a.query_id, a.id AS id_a, b.id AS id_b,
       |    CAST(floor(list_inner_product(a.ve, b.ve) / (a.nrm * b.nrm) * 1e10)
       |      AS BIGINT) AS pen_s
       |  FROM cv a JOIN cv b ON a.query_id = b.query_id AND a.id <> b.id),
       |sel1 AS (SELECT query_id, 1 AS pick, neighbor_id, 7 * qs AS score_s FROM (
       |    SELECT query_id, neighbor_id, qs, row_number() OVER (
       |      PARTITION BY query_id ORDER BY qs DESC, neighbor_id) AS rn
       |    FROM cand) WHERE rn = 1),
       |all1 AS (SELECT query_id, neighbor_id FROM sel1),
       |$rounds
       |SELECT query_id, pick, neighbor_id, score_s FROM sel1
       |UNION ALL SELECT query_id, pick, neighbor_id, score_s FROM sel2
       |UNION ALL SELECT query_id, pick, neighbor_id, score_s FROM sel3
       |UNION ALL SELECT query_id, pick, neighbor_id, score_s FROM sel4
       |UNION ALL SELECT query_id, pick, neighbor_id, score_s FROM sel5""".stripMargin
  }

  private val stopIn = TextOps.defaultStopwords.map(w => s"'$w'").mkString(", ")

  private def simhashOracle: String = {
    // bit b of the 32-bit value of md5's first 8 hex chars: hex digit at
    // 1-based position 8 - b/4, bit b%4 within the digit
    val bitSums = (0 until 32).map { b =>
      val pos = 8 - b / 4
      val shift = 1 << (b % 4)
      s"sum(((strpos('0123456789abcdef', substr(hx, $pos, 1)) - 1) // $shift) % 2) AS s$b"
    }.mkString(", ")
    val compose = (0 until 32)
      .map(b => s"CASE WHEN s$b * 2 >= n THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"""WITH tok AS (SELECT DISTINCT doc_id, unnest($toksSql) AS t FROM documents),
       |h AS (SELECT doc_id, substr(md5(t), 1, 8) AS hx FROM tok),
       |agg AS (SELECT doc_id, count(*) AS n, $bitSums FROM h GROUP BY doc_id)
       |SELECT doc_id, CAST($compose AS BIGINT) AS simhash FROM agg""".stripMargin
  }

  /** d12 oracle: the d3 simhash chain + one global (simhash, id) rank +
    * the bounded successor window, hamming via xor bit_count. */
  private def sortedNearDupOracle: String =
    s"""WITH sh AS ($simhashOracle),
       |r AS (SELECT doc_id, simhash,
       |      row_number() OVER (ORDER BY simhash, doc_id) AS pos FROM sh),
       |p AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
       |      bit_count(xor(a.simhash, b.simhash)) AS hamming
       |      FROM r a JOIN r b ON b.pos > a.pos AND b.pos <= a.pos + 4)
       |SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b,
       |  CAST(hamming AS BIGINT) AS hamming
       |FROM p WHERE hamming <= 3""".stripMargin

  /** Mixture weights for x1 (lang → sampling rate); the oracle SQL is
    * generated from this same map so the two can never drift. */
  private[graft] val mixtureRates: Map[String, Double] =
    Map("en" -> 0.9, "zh" -> 0.5, "es" -> 0.5, "de" -> 0.25, "fr" -> 0.1)

  /** Split fractions for x5; oracle CASE ladder generated from the same
    * boundary list ([[graft.ops.Sampling.splitBoundaries]]). */
  private[graft] val splitFractions: Seq[(String, Double)] =
    Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1)

  /** Recursive-transitive-closure component labeling of the thresholded
    * LSH pair graph (shared by d6 and d6b — same contract, two algorithms). */
  /** Shared m7/m8 oracle CTE chain ending in `p` (id_a, id_b, hamming):
    * dHash from the pixel formula alone — never the container. */
  private def dhashPairsCtes: String =
    """u AS (SELECT DISTINCT user_id FROM events),
      |px AS (SELECT user_id, unnest(generate_series(0, 71)) AS i FROM u),
      |g AS (SELECT user_id, i,
      |  CASE WHEN user_id >= 75 AND (i + user_id) % 89 = 0
      |       THEN 255 - ((i * 37 + (user_id % 5) * 11) % 97) * 2
      |       ELSE ((i * 37 + (user_id % 5) * 11) % 97) * 2 END AS v
      |  FROM px),
      |bits AS (SELECT l.user_id, l.i // 9 AS r, l.i % 9 AS c,
      |    CASE WHEN l.v < rr.v THEN 1 ELSE 0 END AS b
      |  FROM g l JOIN g rr ON rr.user_id = l.user_id AND rr.i = l.i + 1
      |  WHERE l.i % 9 < 8),
      |h AS (SELECT user_id,
      |    SUM(CASE WHEN r < 4 THEN b * (CAST(1 AS BIGINT) << (r * 8 + c))
      |             ELSE 0 END) AS hi,
      |    SUM(CASE WHEN r >= 4 THEN b * (CAST(1 AS BIGINT) << ((r - 4) * 8 + c))
      |             ELSE 0 END) AS lo
      |  FROM bits GROUP BY 1),
      |bands AS (SELECT user_id, j,
      |    CASE WHEN j < 4 THEN (hi >> (8 * j)) & 255
      |         ELSE (lo >> (8 * (j - 4))) & 255 END AS bv
      |  FROM h, (SELECT unnest(generate_series(0, 7)) AS j)),
      |cand AS (SELECT DISTINCT a.user_id AS id_a, b.user_id AS id_b
      |  FROM bands a JOIN bands b ON a.j = b.j AND a.bv = b.bv
      |    AND a.user_id < b.user_id),
      |p AS (SELECT id_a, id_b,
      |    bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo)) AS hamming
      |  FROM cand JOIN h ha ON ha.user_id = id_a JOIN h hb ON hb.user_id = id_b)""".stripMargin

  private def clusterOracle: String = {
    val eq = (0 until 16).map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH RECURSIVE $minhashCtes,
       |scored AS (
       |  SELECT p.id_a, p.id_b FROM pairs p
       |  JOIN sig sa ON p.id_a = sa.doc_id JOIN sig sb ON p.id_b = sb.doc_id
       |  WHERE CAST(($eq) AS DOUBLE) / 16 >= CAST('0.5' AS DOUBLE)),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM scored
       |          UNION SELECT id_b, id_a FROM scored),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT re.id, e.dst FROM reach re JOIN edges e ON re.r = e.src),
       |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT l.id AS doc_id, l.cluster_id, CAST(c.n AS BIGINT) AS cluster_size
       |FROM lab l JOIN (SELECT cluster_id, count(*) AS n FROM lab GROUP BY 1) c
       |  USING (cluster_id)""".stripMargin
  }

  /** Full 64-char sign string of the embedding (1-indexed dims in DuckDB);
    * the adaptive bucket key is a prefix substring of width sd (out-of-range
    * dims read NULL → '0', matching Spark's null-index semantics). */
  private def signStrSql: String =
    (1 to 64).map(i => s"(CASE WHEN ve[$i] >= 0 THEN '1' ELSE '0' END)").mkString(" || ")

  /** `params` CTE exposing the corpus-adaptive knobs (see [[Adaptive]]) —
    * integer CASE ladders over COUNT(*), exact on both engines. */
  private def adaptiveParamsSql: String =
    s"""params AS (SELECT ${Adaptive.strideSql("cnt")} AS stride,
       |                  ${Adaptive.signDimsSql("cnt")} AS sd
       |           FROM (SELECT count(*) AS cnt FROM embeddings))""".stripMargin

  private def ivfOracle: String =
    ivfOracle("vec_id % (SELECT stride FROM params) = 0")

  /** IVF top-k oracle parameterized by the centroid-set predicate (s2/s4 use
    * the stride-0 set; s5's drift re-assignment the stride/2 offset), the
    * base-vector relation `vSql` (s12b substitutes the MIPS-augmented
    * corpus) and the query relation `qSql` (s12b substitutes zero-augmented
    * queries — the augmentation is asymmetric by construction). */
  private def ivfOracle(centroidPred: String,
      vSql: String = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings",
      qSql: String = "SELECT vec_id, ve, nrm FROM n WHERE vec_id < 5",
      candJoin: String = ""): String =
    s"""WITH v AS ($vSql),
       |$adaptiveParamsSql,
       |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm FROM v
       |      WHERE list_inner_product(ve, ve) > 0),
       |qn AS ($qSql),
       |cent AS (SELECT vec_id AS cid, ve AS cv, nrm AS cnrm FROM n WHERE $centroidPred),
       |assign AS (SELECT vec_id, cid FROM (
       |  SELECT a.vec_id, c.cid, row_number() OVER (PARTITION BY a.vec_id
       |    ORDER BY list_inner_product(a.ve, c.cv) / (a.nrm * c.cnrm) DESC, c.cid) AS rn
       |  FROM n a CROSS JOIN cent c) WHERE rn = 1),
       |probes AS (SELECT qid, cid FROM (
       |  SELECT q.vec_id AS qid, c.cid, row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY list_inner_product(q.ve, c.cv) / (q.nrm * c.cnrm) DESC, c.cid) AS rn
       |  FROM qn q CROSS JOIN cent c) WHERE rn <= 2),
       |scored AS (
       |  SELECT p.qid AS query_id, x.vec_id AS neighbor_id,
       |         list_inner_product(q.ve, x.ve) / (q.nrm * x.nrm) AS sim
       |  FROM probes p
       |  JOIN assign s ON s.cid = p.cid
       |  JOIN n x ON x.vec_id = s.vec_id
       |  JOIN qn q ON q.vec_id = p.qid
       |  $candJoin
       |  WHERE x.vec_id <> p.qid)
       |SELECT query_id, rank, neighbor_id, printf('%.4f', sim) AS sim_r FROM (
       |  SELECT query_id, neighbor_id, sim, row_number() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM scored) WHERE rank <= 5""".stripMargin

  /** Exact-MIPS top-10 oracle shared by s12 (brute force) and s15 (norm-
    * band pruned — lossless by the ‖q‖·maxNorm bound, so the same relation). */
  private def mipsExactOracle: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings)
      |SELECT query_id, rank, neighbor_id, printf('%.4f', ip) AS ip_r FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         list_inner_product(q.ve, c.ve) AS ip,
      |         row_number() OVER (PARTITION BY q.vec_id
      |           ORDER BY list_inner_product(q.ve, c.ve) DESC, c.vec_id) AS rank
      |  FROM v q JOIN v c ON q.vec_id < 5 AND q.vec_id <> c.vec_id)
      |WHERE rank <= 10""".stripMargin

  /** s12b oracle: the same IVF pipeline over the MIPS-augmented space —
    * corpus rows carry the sqrt(M²−‖x‖²) coordinate, queries a trailing
    * exact 0 (mirrors [[graft.ops.SimilarityOps.mipsAugmentCorpus]] /
    * `mipsAugmentQueries` term-for-term). */
  private def mipsIvfOracle: String = ivfOracle(
    "vec_id % (SELECT stride FROM params) = 0",
    vSql = """SELECT vec_id, list_append(ov, sqrt(m2 - list_inner_product(ov, ov))) AS ve
      |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ov FROM embeddings)
      |  CROSS JOIN (SELECT MAX(list_inner_product(o2, o2)) AS m2
      |              FROM (SELECT CAST(embedding AS DOUBLE[]) AS o2 FROM embeddings))""".stripMargin,
    qSql = """SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm FROM (
      |    SELECT vec_id, list_append(CAST(embedding AS DOUBLE[]), 0.0) AS ve
      |    FROM embeddings WHERE vec_id < 5)
      |  WHERE list_inner_product(ve, ve) > 0""".stripMargin)

  /** Exact oracle for the TWO-TIER IVF path (s2b): mirrors every stage of
    * the tiered computation — top-cell routing (probeTop=2), centroid
    * grouping with top centroids pinned to their own cell, candidate-pruned
    * argmax assign, candidate-pruned query probe (nprobe=2) — with the same
    * (csim DESC, id ASC) tie-break at every step. The tiered path is
    * approximate RELATIVE TO FLAT IVF but fully deterministic, so it gets
    * a bit-exact oracle of its own semantics rather than a luck-dependent
    * match against the flat one. */
  private def ivfTieredOracle: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |$adaptiveParamsSql,
       |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm FROM v
       |      WHERE list_inner_product(ve, ve) > 0),
       |cent AS (SELECT vec_id AS cid, ve AS cv, nrm AS cnrm FROM n
       |         WHERE vec_id % (SELECT stride FROM params) = 0),
       |tp AS (SELECT vec_id AS tid, ve AS tv, nrm AS tnrm FROM n
       |       WHERE vec_id % (8 * (SELECT stride FROM params)) = 0),
       |crouted AS (
       |  SELECT cid, cv, cnrm, cid AS tid FROM cent WHERE cid IN (SELECT tid FROM tp)
       |  UNION ALL
       |  SELECT cid, cv, cnrm, tid FROM (
       |    SELECT c.cid, c.cv, c.cnrm, t.tid, row_number() OVER (PARTITION BY c.cid
       |      ORDER BY list_inner_product(c.cv, t.tv) / (c.cnrm * t.tnrm) DESC, t.tid) AS rn
       |    FROM cent c CROSS JOIN tp t
       |    WHERE c.cid NOT IN (SELECT tid FROM tp)) WHERE rn = 1),
       |vrouted AS (SELECT vec_id, tid FROM (
       |  SELECT a.vec_id, t.tid, row_number() OVER (PARTITION BY a.vec_id
       |    ORDER BY list_inner_product(a.ve, t.tv) / (a.nrm * t.tnrm) DESC, t.tid) AS rn
       |  FROM n a CROSS JOIN tp t) WHERE rn <= 2),
       |assign AS (SELECT vec_id, cid FROM (
       |  SELECT a.vec_id, c.cid, row_number() OVER (PARTITION BY a.vec_id
       |    ORDER BY list_inner_product(a.ve, c.cv) / (a.nrm * c.cnrm) DESC, c.cid) AS rn
       |  FROM n a JOIN vrouted r ON r.vec_id = a.vec_id
       |  JOIN crouted c ON c.tid = r.tid) WHERE rn = 1),
       |probes AS (SELECT qid, cid FROM (
       |  SELECT q.vec_id AS qid, c.cid, row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY list_inner_product(q.ve, c.cv) / (q.nrm * c.cnrm) DESC, c.cid) AS rn
       |  FROM n q JOIN vrouted r ON r.vec_id = q.vec_id
       |  JOIN crouted c ON c.tid = r.tid
       |  WHERE q.vec_id < 5) WHERE rn <= 2),
       |scored AS (
       |  SELECT p.qid AS query_id, x.vec_id AS neighbor_id,
       |         list_inner_product(q.ve, x.ve) / (q.nrm * x.nrm) AS sim
       |  FROM probes p
       |  JOIN assign s ON s.cid = p.cid
       |  JOIN n x ON x.vec_id = s.vec_id
       |  JOIN n q ON q.vec_id = p.qid
       |  WHERE x.vec_id <> p.qid)
       |SELECT query_id, rank, neighbor_id, printf('%.4f', sim) AS sim_r FROM (
       |  SELECT query_id, neighbor_id, sim, row_number() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM scored) WHERE rank <= 5""".stripMargin

  /** Width of every `embeddings.embedding` vector in the fixture. */
  private val EmbDim = 64

  /** PQ shape: 8 subspaces × 8 dims, codebook seeds at the centroid stride
    * ((32,64] codewords per subspace). Chosen by a measured recall sweep on
    * the synthetic corpus (uniform random vectors — VQ's worst case):
    * m=4/subDim=16/seeds at 4·stride gave recall@5 0.12; this shape gives
    * 0.40 at the same sub-linear scaling, and still compresses 64 float32
    * dims (2048 bits) to 8 codes × 6 bits = 48 bits ≈ 42×. Single source for
    * both the Spark queries and the oracle SQL generator. */
  private val PqM = 8
  private val PqSubDim = 8

  /** Lloyd iterations for the trained-codebook gate (s7e). Chosen by a
    * measured 20-query recall ladder (100 ground-truth slots) at all three
    * SFs: iters=3 is the first depth strictly above the raw stride book at
    * EVERY scale (sf0.001 32→39, sf0.01 34→43, sf0.1 21→24 hits); 2 ties
    * sf0.1, 4-5 plateau at the 3-iteration numbers. */
  private val PqTrainIters = 3

  /** Shared PQ oracle prefix: corpus cast, adaptive params, nonZero filter
    * with norms (assumes the `embeddings` table). */
  private def pqPrefixCtes: String =
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |$adaptiveParamsSql,
       |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm FROM v
       |      WHERE list_inner_product(ve, ve) > 0)""".stripMargin

  /** Shared PQ stage CTEs (codebook, encode argmin, query set, ADC lookup) —
    * the per-subspace argmin goes via argmax of ip − ‖c‖²/2 (inner products
    * only, so DuckDB's list_inner_product is the single float primitive);
    * tie-breaks toward the smallest code id. Assumes [[pqPrefixCtes]]. */
  private def pqStageCtes: String = {
    val d = PqSubDim
    val subVals = (0 until PqM).map(i => s"($i)").mkString(", ")
    s"""cb AS (
       |  SELECT vec_id AS code_id, s.sub,
       |         list_slice(ve, s.sub * $d + 1, s.sub * $d + $d) AS cw,
       |         list_inner_product(list_slice(ve, s.sub * $d + 1, s.sub * $d + $d),
       |                            list_slice(ve, s.sub * $d + 1, s.sub * $d + $d)) AS cwip
       |  FROM n CROSS JOIN (VALUES $subVals) AS s(sub)
       |  WHERE vec_id % (SELECT stride FROM params) = 0),
       |enc AS (SELECT vec_id, sub, code_id FROM (
       |  SELECT a.vec_id, c.sub, c.code_id, row_number() OVER (
       |    PARTITION BY a.vec_id, c.sub
       |    ORDER BY list_inner_product(list_slice(a.ve, c.sub * $d + 1, c.sub * $d + $d),
       |                                c.cw) - 0.5 * c.cwip DESC, c.code_id) AS rn
       |  FROM n a CROSS JOIN cb c) WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, ve, nrm AS qnrm FROM n WHERE vec_id < 5),
       |qd AS (SELECT q.qid, c.sub, c.code_id,
       |         list_inner_product(list_slice(q.ve, c.sub * $d + 1, c.sub * $d + $d),
       |                            c.cw) AS ipq,
       |         c.cwip
       |       FROM q CROSS JOIN cb c)""".stripMargin
  }

  /** Flat ADC reduction (no cell pruning): DECIMAL-exact sums per
    * (query, vector). Assumes [[pqStageCtes]]. */
  private def pqScFlatCte: String =
    """sc AS (SELECT d.qid AS query_id, e.vec_id AS neighbor_id,
      |         CAST(SUM(CAST(d.ipq AS DECIMAL(30,10))) AS DOUBLE) AS aip,
      |         CAST(SUM(CAST(d.cwip AS DECIMAL(30,10))) AS DOUBLE) AS an2
      |       FROM enc e JOIN qd d ON d.sub = e.sub AND d.code_id = e.code_id
      |       WHERE e.vec_id <> d.qid
      |       GROUP BY 1, 2)""".stripMargin

  /** Top-k tail over an `sc` relation: zero-reconstruction drop and the
    * (sim DESC, id ASC) tie-break mirrored from [[SimilarityOps.pqTopK]]. */
  private def pqTopSelect: String =
    """SELECT query_id, rank, neighbor_id, printf('%.4f', sim) AS sim_r FROM (
      |  SELECT s.query_id, s.neighbor_id,
      |         s.aip / (q.qnrm * sqrt(s.an2)) AS sim,
      |         row_number() OVER (PARTITION BY s.query_id
      |           ORDER BY s.aip / (q.qnrm * sqrt(s.an2)) DESC, s.neighbor_id) AS rank
      |  FROM sc s JOIN q ON q.qid = s.query_id
      |  WHERE s.an2 > 0) WHERE rank <= 5""".stripMargin

  /** Stage-exact oracle for PQ/ADC (s7). */
  private def pqOracle: String =
    s"WITH $pqPrefixCtes,\n$pqStageCtes,\n$pqScFlatCte\n$pqTopSelect"

  /** Two-stage PQ shortlist → exact-cosine re-rank (s11): stage-1 rank
    * mirrors [[SimilarityOps.pqTopK]] over the ADC sums, stage 2 re-scores
    * the 20 survivors with the exact n-relation cosine. */
  private def pqRerankOracle: String =
    s"""WITH $pqPrefixCtes,
       |$pqStageCtes,
       |$pqScFlatCte,
       |short AS (SELECT query_id, neighbor_id FROM (
       |  SELECT s.query_id, s.neighbor_id, row_number() OVER (
       |    PARTITION BY s.query_id
       |    ORDER BY s.aip / (q.qnrm * sqrt(s.an2)) DESC, s.neighbor_id) AS rank
       |  FROM sc s JOIN q ON q.qid = s.query_id
       |  WHERE s.an2 > 0) WHERE rank <= 20),
       |rr AS (SELECT sh.query_id, sh.neighbor_id,
       |         list_inner_product(q.ve, c.ve) / (q.qnrm * c.nrm) AS sim
       |       FROM short sh JOIN q ON q.qid = sh.query_id
       |       JOIN n c ON c.vec_id = sh.neighbor_id)
       |SELECT query_id, rank, neighbor_id, printf('%.4f', sim) AS sim_r FROM (
       |  SELECT query_id, neighbor_id, sim, row_number() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM rr) WHERE rank <= 5""".stripMargin

  /** PQ recall@5 vs exact brute force (s7c) — same contract as the IVF
    * recall row s6: how many of the true top-5 the compressed index kept. */
  private def pqRecallOracle: String =
    s"""WITH $pqPrefixCtes,
       |$pqStageCtes,
       |$pqScFlatCte,
       |pqtop AS (SELECT query_id, neighbor_id FROM (
       |  SELECT s.query_id, s.neighbor_id, row_number() OVER (
       |    PARTITION BY s.query_id
       |    ORDER BY s.aip / (q.qnrm * sqrt(s.an2)) DESC, s.neighbor_id) AS rank
       |  FROM sc s JOIN q ON q.qid = s.query_id
       |  WHERE s.an2 > 0) WHERE rank <= 5),
       |brute AS (SELECT query_id, neighbor_id FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY list_inner_product(q.ve, c.ve) / (q.nrm * c.nrm) DESC,
       |                    c.vec_id) AS rank
       |  FROM n q JOIN n c ON q.vec_id < 5 AND q.vec_id <> c.vec_id) WHERE rank <= 5)
       |SELECT p.query_id,
       |  CAST(SUM(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST(SUM(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 5 AS recall_at_5
       |FROM pqtop p LEFT JOIN brute b USING (query_id, neighbor_id)
       |GROUP BY 1""".stripMargin

  /** Stage-exact oracle for the TRAINED-codebook recall LADDER (s7e):
    * one 20-query panel, hits measured under BOTH the raw stride-seeded
    * book (cb0 — s7c's) and the book after `iters` unrolled Lloyd
    * iterations per subspace — assignment = the same ip − ‖c‖²/2 argmax
    * with the smallest-code-id tie-break, new codewords = exact-DECIMAL
    * per-dim means / COUNT (the kmeansOracle contract), codes that win no
    * members drop out. */
  /** The unrolled Lloyd-training CTE chain cb0 → cb`iters` over `sv` —
    * shared by the s7e recall oracle and the s35 distortion oracle. */
  private def pqTrainCtesSql(iters: Int): String =
    (1 to iters).map { i =>
      s"""e$i AS (SELECT vec_id, sub, code_id FROM (
         |  SELECT v.vec_id, c.sub, c.code_id, row_number() OVER (
         |    PARTITION BY v.vec_id, c.sub
         |    ORDER BY list_inner_product(v.sv, c.cw) - 0.5 * c.cwip DESC, c.code_id) AS rn
         |  FROM sv v JOIN cb${i - 1} c ON c.sub = v.sub) WHERE rn = 1),
         |m$i AS (SELECT e.sub, e.code_id, x.dim,
         |    CAST(SUM(CAST(x.val AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) AS mv
         |  FROM e$i e JOIN (SELECT vec_id, sub, unnest(sv) AS val,
         |                          generate_subscripts(sv, 1) AS dim FROM sv) x
         |    ON x.vec_id = e.vec_id AND x.sub = e.sub
         |  GROUP BY 1, 2, 3),
         |cb$i AS (SELECT code_id, sub, cw, list_inner_product(cw, cw) AS cwip
         |  FROM (SELECT code_id, sub, list(mv ORDER BY dim) AS cw
         |        FROM m$i GROUP BY 1, 2))""".stripMargin
    }.mkString(",\n")

  /** The (vec, sub) subvector relation + stride-seeded raw book cb0 —
    * assumes [[pqPrefixCtes]]; shared with [[pqTrainCtesSql]] consumers. */
  private def pqSvCb0Ctes: String = {
    val d = PqSubDim
    val subVals = (0 until PqM).map(i => s"($i)").mkString(", ")
    s"""sv AS (SELECT vec_id, s.sub,
       |         list_slice(ve, s.sub * $d + 1, s.sub * $d + $d) AS sv
       |       FROM n CROSS JOIN (VALUES $subVals) AS s(sub)),
       |cb0 AS (SELECT vec_id AS code_id, sub, sv AS cw,
       |          list_inner_product(sv, sv) AS cwip
       |        FROM sv WHERE vec_id % (SELECT stride FROM params) = 0)""".stripMargin
  }

  private def pqTrainedRecallOracle(iters: Int): String = {
    val d = PqSubDim
    val trainCtes = pqTrainCtesSql(iters)
    // hits under one book: encode vs the named cb, ADC, top-5, brute join
    def hitsCtes(cb: String, tag: String): String =
      s"""enc_$tag AS (SELECT vec_id, sub, code_id FROM (
         |  SELECT v.vec_id, c.sub, c.code_id, row_number() OVER (
         |    PARTITION BY v.vec_id, c.sub
         |    ORDER BY list_inner_product(v.sv, c.cw) - 0.5 * c.cwip DESC, c.code_id) AS rn
         |  FROM sv v JOIN $cb c ON c.sub = v.sub) WHERE rn = 1),
         |qd_$tag AS (SELECT q.qid, c.sub, c.code_id,
         |         list_inner_product(list_slice(q.ve, c.sub * $d + 1, c.sub * $d + $d),
         |                            c.cw) AS ipq,
         |         c.cwip
         |       FROM q CROSS JOIN $cb c),
         |sc_$tag AS (SELECT dd.qid AS query_id, e.vec_id AS neighbor_id,
         |         CAST(SUM(CAST(dd.ipq AS DECIMAL(30,10))) AS DOUBLE) AS aip,
         |         CAST(SUM(CAST(dd.cwip AS DECIMAL(30,10))) AS DOUBLE) AS an2
         |       FROM enc_$tag e JOIN qd_$tag dd
         |         ON dd.sub = e.sub AND dd.code_id = e.code_id
         |       WHERE e.vec_id <> dd.qid
         |       GROUP BY 1, 2),
         |top_$tag AS (SELECT query_id, neighbor_id FROM (
         |  SELECT s.query_id, s.neighbor_id, row_number() OVER (
         |    PARTITION BY s.query_id
         |    ORDER BY s.aip / (q.qnrm * sqrt(s.an2)) DESC, s.neighbor_id) AS rank
         |  FROM sc_$tag s JOIN q ON q.qid = s.query_id
         |  WHERE s.an2 > 0) WHERE rank <= 5),
         |hits_$tag AS (SELECT p.query_id,
         |    CAST(SUM(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n
         |  FROM top_$tag p LEFT JOIN brute b USING (query_id, neighbor_id)
         |  GROUP BY 1)""".stripMargin
    s"""WITH $pqPrefixCtes,
       |$pqSvCb0Ctes,
       |$trainCtes,
       |q AS (SELECT vec_id AS qid, ve, nrm AS qnrm FROM n WHERE vec_id < 20),
       |brute AS (SELECT query_id, neighbor_id FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY list_inner_product(q.ve, c.ve) / (q.nrm * c.nrm) DESC,
       |                    c.vec_id) AS rank
       |  FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id) WHERE rank <= 5),
       |${hitsCtes("cb0", "raw")},
       |${hitsCtes(s"cb$iters", "tr")}
       |SELECT r.query_id, r.n AS n_hits_raw, t.n AS n_hits_trained,
       |  CAST(r.n AS DOUBLE) / 5 AS recall_raw,
       |  CAST(t.n AS DOUBLE) / 5 AS recall_trained
       |FROM hits_raw r JOIN hits_tr t USING (query_id)""".stripMargin
  }

  /** Mirrors s35_pq_distortion: same training chain as the s7e oracle
    * ([[pqTrainCtesSql]]), the same argmax encode, SSE via the expanded
    * ‖sv‖² − 2⟨sv,cw⟩ + ‖cw‖² with per-row DECIMAL(30,10) accumulation. */
  private def pqDistortionOracle(iters: Int): String = {
    def sseCtes(cb: String, tag: String): String =
      s"""enc_$tag AS (SELECT vec_id, sub, code_id FROM (
         |  SELECT v.vec_id, c.sub, c.code_id, row_number() OVER (
         |    PARTITION BY v.vec_id, c.sub
         |    ORDER BY list_inner_product(v.sv, c.cw) - 0.5 * c.cwip DESC, c.code_id) AS rn
         |  FROM sv v JOIN $cb c ON c.sub = v.sub) WHERE rn = 1),
         |s_$tag AS (SELECT v.sub, COUNT(*) AS n,
         |    CAST(SUM(CAST(list_inner_product(v.sv, v.sv)
         |      - 2 * list_inner_product(v.sv, c.cw) + c.cwip AS DECIMAL(30,10)))
         |      AS DOUBLE) AS sse
         |  FROM enc_$tag e
         |  JOIN sv v ON v.vec_id = e.vec_id AND v.sub = e.sub
         |  JOIN $cb c ON c.sub = e.sub AND c.code_id = e.code_id
         |  GROUP BY 1)""".stripMargin
    s"""WITH $pqPrefixCtes,
       |$pqSvCb0Ctes,
       |${pqTrainCtesSql(iters)},
       |${sseCtes("cb0", "raw")},
       |${sseCtes(s"cb$iters", "tr")}
       |SELECT r.sub, r.n, printf('%.4f', r.sse) AS sse_raw_r,
       |  printf('%.4f', t.sse) AS sse_trained_r,
       |  CAST(CASE WHEN t.sse <= r.sse THEN 1 ELSE 0 END AS INT) AS improved
       |FROM s_raw r JOIN s_tr t ON t.sub = r.sub""".stripMargin
  }

  /** Stage-exact oracle for IVF-PQ (s7b): the flat-IVF assign/probe stages
    * (cosine argmax, tie-break smallest centroid id) restrict the ADC
    * candidate set to the probed cells; the PQ stages are identical to
    * [[pqOracle]]. A vector appears through exactly one cell (assign is
    * argmax-unique), so the candidate join cannot double-count. */
  private def pqIvfOracle: String =
    s"""WITH $pqPrefixCtes,
       |cent AS (SELECT vec_id AS cid, ve AS cv, nrm AS cnrm FROM n
       |         WHERE vec_id % (SELECT stride FROM params) = 0),
       |assign AS (SELECT vec_id, cid FROM (
       |  SELECT a.vec_id, c.cid, row_number() OVER (PARTITION BY a.vec_id
       |    ORDER BY list_inner_product(a.ve, c.cv) / (a.nrm * c.cnrm) DESC, c.cid) AS rn
       |  FROM n a CROSS JOIN cent c) WHERE rn = 1),
       |probes AS (SELECT qid, cid FROM (
       |  SELECT q.vec_id AS qid, c.cid, row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY list_inner_product(q.ve, c.cv) / (q.nrm * c.cnrm) DESC, c.cid) AS rn
       |  FROM n q CROSS JOIN cent c WHERE q.vec_id < 5) WHERE rn <= 2),
       |$pqStageCtes,
       |sc AS (SELECT d.qid AS query_id, e.vec_id AS neighbor_id,
       |         CAST(SUM(CAST(d.ipq AS DECIMAL(30,10))) AS DOUBLE) AS aip,
       |         CAST(SUM(CAST(d.cwip AS DECIMAL(30,10))) AS DOUBLE) AS an2
       |       FROM enc e
       |       JOIN assign s ON s.vec_id = e.vec_id
       |       JOIN probes p ON p.cid = s.cid
       |       JOIN qd d ON d.qid = p.qid AND d.sub = e.sub AND d.code_id = e.code_id
       |       WHERE e.vec_id <> p.qid
       |       GROUP BY 1, 2)
       |$pqTopSelect""".stripMargin

  /** Oracle for k-means refinement (s8): one assign/mean CTE pair per
    * Lloyd iteration, unrolled. Mirrors [[SimilarityOps.kmeansRefine]]
    * stage for stage — cosine argmax assignment with the (csim DESC,
    * cid ASC) tie-break, per-element DECIMAL-exact means, zero-norm
    * centroid guard on every iteration's candidate set. */
  private def kmeansOracle(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""a$i AS (SELECT vec_id, cid FROM (
         |  SELECT a.vec_id, c.cid, row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY list_inner_product(a.ve, c.cv) /
         |             (a.nrm * sqrt(list_inner_product(c.cv, c.cv))) DESC, c.cid) AS rn
         |  FROM n a CROSS JOIN (SELECT * FROM c${i - 1}
         |                       WHERE list_inner_product(cv, cv) > 0) c) WHERE rn = 1),
         |s$i AS (SELECT x.cid, x.dim,
         |         CAST(SUM(CAST(x.val AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) AS m,
         |         COUNT(*) AS n
         |       FROM (SELECT a$i.cid, unnest(nn.ve) AS val,
         |                    generate_subscripts(nn.ve, 1) AS dim
         |             FROM a$i JOIN n nn ON nn.vec_id = a$i.vec_id) x
         |       GROUP BY x.cid, x.dim),
         |c$i AS (SELECT cid, list(m ORDER BY dim) AS cv, min(n) AS n
         |        FROM s$i GROUP BY cid)""".stripMargin
    }.mkString(",\n")
    s"""WITH $pqPrefixCtes,
       |c0 AS (SELECT vec_id AS cid, ve AS cv FROM n
       |       WHERE vec_id % (SELECT stride FROM params) = 0),
       |$iterCtes
       |SELECT cid AS centroid_id, CAST(n AS BIGINT) AS n,
       |  array_to_string(list_transform(cv, x -> printf('%.4f', x)), ',') AS centroid_enc
       |FROM c$iters""".stripMargin
  }

  /** Oracle for sd1: the [[kmeansOracle]] CTE chain (2 Lloyd iterations),
    * one more assignment pass against the trained c2, then the SemDeDup
    * prune — same-cluster pairs at cosine ≥ τ drop the higher id. Mirrors
    * [[graft.ops.SimilarityOps.semDedup]] stage for stage. */
  private def semDedupOracle(iters: Int, tau: String): String = {
    val base = kmeansOracle(iters)
    // reuse everything up to the final SELECT; the chain's last CTE needs a
    // trailing comma before the appended ones
    val chain = base.substring(0, base.lastIndexOf("SELECT cid AS centroid_id")).trim
    s"""$chain,
       |af AS (SELECT vec_id, cid FROM (
       |  SELECT a.vec_id, c.cid, row_number() OVER (PARTITION BY a.vec_id
       |    ORDER BY list_inner_product(a.ve, c.cv) /
       |             (a.nrm * sqrt(list_inner_product(c.cv, c.cv))) DESC, c.cid) AS rn
       |  FROM n a CROSS JOIN (SELECT * FROM c$iters
       |                       WHERE list_inner_product(cv, cv) > 0) c) WHERE rn = 1),
       |drp AS (SELECT DISTINCT b.vec_id FROM af a
       |        JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |        JOIN n na ON na.vec_id = a.vec_id
       |        JOIN n nb ON nb.vec_id = b.vec_id
       |        WHERE list_inner_product(na.ve, nb.ve) / (na.nrm * nb.nrm)
       |              >= CAST('$tau' AS DOUBLE))
       |SELECT af.vec_id, af.cid AS centroid_id FROM af
       |WHERE af.vec_id NOT IN (SELECT vec_id FROM drp)""".stripMargin
  }

  /** Oracle for the HLL sketch (o11): hex-digit integer arithmetic for the
    * bucket and 32-bit window, the [[graft.ops.Sketches.termSql]] ladder
    * (generated from the same loop as the Column form), exact-integer
    * register sums, and the double formulas mirrored operation for
    * operation (DuckDB ln = Spark log, both natural). */
  private def hllOracle: String = {
    def hexDigit(i: Int) = s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)"
    val bucket = (1 to 3).map(i => s"${hexDigit(i)} * ${math.pow(16, 3 - i).toLong}")
      .mkString(" + ")
    val w = (0 until 8).map(i => s"${hexDigit(4 + i)} * ${1L << (4 * (7 - i))}")
      .mkString(" + ")
    val m = "CAST('4096.0' AS DOUBLE)"
    val alpha = s"CAST('0.7213' AS DOUBLE) / (CAST('1.0' AS DOUBLE) + CAST('1.079' AS DOUBLE) / $m)"
    s"""WITH h AS (SELECT md5(CAST(user_id AS VARCHAR)) AS hx FROM events),
       |d AS (SELECT $bucket AS bucket, $w AS w FROM h),
       |t AS (SELECT bucket, MIN(${graft.ops.Sketches.termSql("w")}) AS t
       |      FROM d GROUP BY bucket),
       |a AS (SELECT SUM(t) AS present_sum, COUNT(*) AS nonzero_buckets FROM t),
       |s AS (SELECT CAST(present_sum + (4096 - nonzero_buckets) * ${1L << 33} AS BIGINT)
       |        AS sum_int, nonzero_buckets FROM a),
       |r AS (SELECT sum_int, nonzero_buckets,
       |        $alpha * $m * $m / (CAST(sum_int AS DOUBLE) / CAST('8589934592.0' AS DOUBLE)) AS raw,
       |        CAST(4096 - nonzero_buckets AS DOUBLE) AS zeros FROM s),
       |f AS (SELECT nonzero_buckets,
       |        CASE WHEN raw <= CAST('2.5' AS DOUBLE) * $m AND zeros > 0
       |             THEN $m * ln($m / zeros) ELSE raw END AS n_hll FROM r)
       |SELECT e.n_exact, CAST(f.nonzero_buckets AS BIGINT) AS nonzero_buckets,
       |  printf('%.4f', f.n_hll) AS n_hll_r,
       |  printf('%.4f', (f.n_hll - CAST(e.n_exact AS DOUBLE)) / CAST(e.n_exact AS DOUBLE))
       |    AS rel_err_r
       |FROM f CROSS JOIN (SELECT COUNT(DISTINCT user_id) AS n_exact FROM events) e""".stripMargin
  }

  /** Oracle for the column-statistics pass (o35): one [[hllOracle]]-style
    * register chain per column (same hex-digit arithmetic, same
    * [[graft.ops.Sketches.termSql]] ladder, same estimator tail — generated
    * from the same loops), null-filtered like the engine's fanout, the
    * double column hashed through its DECIMAL(18,4) rendering (the shared
    * cross-engine string form), and the exact min/max/null stats stated
    * directly. */
  private def statsOracle: String = {
    def hexDigit(i: Int) = s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)"
    val bucket = (1 to 3).map(i => s"${hexDigit(i)} * ${math.pow(16, 3 - i).toLong}")
      .mkString(" + ")
    val w = (0 until 8).map(i => s"${hexDigit(4 + i)} * ${1L << (4 * (7 - i))}")
      .mkString(" + ")
    val m = "CAST('4096.0' AS DOUBLE)"
    val alpha = s"CAST('0.7213' AS DOUBLE) / (CAST('1.0' AS DOUBLE) + CAST('1.079' AS DOUBLE) / $m)"
    val cols = Seq(
      ("event_id", "CAST(event_id AS VARCHAR)",
        "CAST(MIN(event_id) AS DOUBLE)", "CAST(MAX(event_id) AS DOUBLE)",
        "COUNT(*) FILTER (WHERE event_id IS NULL)"),
      ("user_id", "CAST(user_id AS VARCHAR)",
        "CAST(MIN(user_id) AS DOUBLE)", "CAST(MAX(user_id) AS DOUBLE)",
        "COUNT(*) FILTER (WHERE user_id IS NULL)"),
      ("event_type", "event_type",
        "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
        "COUNT(*) FILTER (WHERE event_type IS NULL)"),
      ("value", "CAST(CAST(value AS DECIMAL(18,4)) AS VARCHAR)",
        "MIN(value)", "MAX(value)",
        "COUNT(*) FILTER (WHERE value IS NULL)"))
    val chains = cols.map { case (tag, key, _, _, _) =>
      s"""h_$tag AS (SELECT md5($key) AS hx FROM events WHERE $key IS NOT NULL),
         |d_$tag AS (SELECT $bucket AS bucket, $w AS w FROM h_$tag),
         |t_$tag AS (SELECT bucket, MIN(${graft.ops.Sketches.termSql("w")}) AS t
         |           FROM d_$tag GROUP BY bucket),
         |a_$tag AS (SELECT SUM(t) AS ps, COUNT(*) AS nz FROM t_$tag),
         |r_$tag AS (SELECT $alpha * $m * $m /
         |    (CAST(CAST(ps + (4096 - nz) * ${1L << 33} AS BIGINT) AS DOUBLE) /
         |     CAST('8589934592.0' AS DOUBLE)) AS raw,
         |    CAST(4096 - nz AS DOUBLE) AS zeros FROM a_$tag),
         |f_$tag AS (SELECT CASE WHEN raw <= CAST('2.5' AS DOUBLE) * $m AND zeros > 0
         |    THEN $m * ln($m / zeros) ELSE raw END AS n_hll FROM r_$tag)""".stripMargin
    }
    val selects = cols.map { case (tag, _, mn, mx, nn) =>
      s"""SELECT '$tag' AS column_name, (SELECT COUNT(*) FROM events) AS n_rows,
         |  (SELECT $nn FROM events) AS n_nulls,
         |  (SELECT $mn FROM events) AS min_num,
         |  (SELECT $mx FROM events) AS max_num,
         |  (SELECT printf('%.4f', n_hll) FROM f_$tag) AS ndv_r""".stripMargin
    }
    s"WITH ${chains.mkString(",\n")}\n${selects.mkString("\nUNION ALL\n")}"
  }

  /** Oracle for the KMV sketch (o27): the same 15-hex-digit integer ladder
    * as [[graft.ops.Sketches.kmvHashSql]] (generated from the same code),
    * k smallest distinct hashes relationally (DISTINCT → ORDER BY → LIMIT —
    * value-deterministic, so the two engines' different top-k machinery
    * lands on the identical set), the estimator branch mirrored
    * operation for operation. */
  private def kmvOracle: String = {
    val k = 256
    val h = graft.ops.Sketches.kmvHashSql("event_id")
    s"""WITH hs AS (SELECT DISTINCT $h AS h FROM events),
       |sk AS (SELECT h FROM hs ORDER BY h LIMIT $k),
       |a AS (SELECT COUNT(*) AS n_kept, MAX(h) AS kth FROM sk),
       |f AS (SELECT n_kept, kth,
       |  ${graft.ops.Sketches.kmvEstimateSql("n_kept", "kth", k)} AS est FROM a),
       |e AS (SELECT COUNT(DISTINCT event_id) AS n_exact FROM events)
       |SELECT e.n_exact, f.n_kept, f.kth,
       |  printf('%.4f', f.est) AS est_r,
       |  printf('%.4f', (f.est - CAST(e.n_exact AS DOUBLE)) / CAST(e.n_exact AS DOUBLE))
       |    AS rel_err_r
       |FROM f CROSS JOIN e""".stripMargin
  }

  /** Oracle for o29: per-day bottom-k partials (window rank per day),
    * value-merged bottom-k vs the direct bottom-k, both recomputed
    * independently; difference count and both estimator tails mirrored. */
  private def kmvMergeOracle: String = {
    val k = 256
    val h = graft.ops.Sketches.kmvHashSql("event_id")
    s"""WITH hs AS (SELECT strftime(ts, '%Y-%m-%d') AS part, $h AS h FROM events),
       |dp AS (SELECT DISTINCT part, h FROM hs),
       |rk AS (SELECT part, h, row_number() OVER (PARTITION BY part ORDER BY h) AS rn
       |       FROM dp),
       |pk AS (SELECT part, h FROM rk WHERE rn <= $k),
       |mg AS (SELECT h FROM (SELECT DISTINCT h FROM pk) ORDER BY h LIMIT $k),
       |dr AS (SELECT h FROM (SELECT DISTINCT h FROM hs) ORDER BY h LIMIT $k),
       |np AS (SELECT COUNT(DISTINCT part) AS n_parts FROM hs),
       |ma AS (SELECT COUNT(*) AS n_kept_m, MAX(h) AS kth_m FROM mg),
       |da AS (SELECT COUNT(*) AS n_kept_d, MAX(h) AS kth_d FROM dr),
       |df AS (SELECT COUNT(*) AS n_diff FROM
       |       (SELECT h FROM mg EXCEPT SELECT h FROM dr))
       |SELECT np.n_parts, ma.n_kept_m AS n_kept, ma.kth_m AS kth_merged,
       |  da.kth_d AS kth_direct, df.n_diff,
       |  printf('%.4f', ${graft.ops.Sketches.kmvEstimateSql("ma.n_kept_m", "ma.kth_m", k)})
       |    AS est_merged_r,
       |  printf('%.4f', ${graft.ops.Sketches.kmvEstimateSql("da.n_kept_d", "da.kth_d", k)})
       |    AS est_direct_r
       |FROM np CROSS JOIN ma CROSS JOIN da CROSS JOIN df""".stripMargin
  }

  /** Oracle for e2e_kmv_sketch: the per-day bottom-k recomputed directly
    * from events (the o29 per-day CTE) with the estimator tail per day —
    * the streamed epoch-merged state must land on exactly this. */
  private def kmvStreamOracle: String = {
    val k = 256
    val h = graft.ops.Sketches.kmvHashSql("event_id")
    s"""WITH hs AS (SELECT strftime(ts, '%Y-%m-%d') AS part, $h AS h FROM events),
       |dp AS (SELECT DISTINCT part, h FROM hs),
       |rk AS (SELECT part, h, row_number() OVER (PARTITION BY part ORDER BY h) AS rn
       |       FROM dp),
       |pk AS (SELECT part, h FROM rk WHERE rn <= $k),
       |a AS (SELECT part, COUNT(*) AS n_kept, MAX(h) AS kth FROM pk GROUP BY 1)
       |SELECT part AS day, n_kept, kth,
       |  printf('%.4f', ${graft.ops.Sketches.kmvEstimateSql("n_kept", "kth", k)})
       |    AS est_r
       |FROM a""".stripMargin
  }

  /** Oracle for o28: per-language shingle sets (the d10 shingle SQL), each
    * side's bottom-k sketch, the union sketch merged from the two sketches'
    * VALUES (≤ 2k rows), match counting, and the estimator/jaccard chain —
    * every double op mirrored, every count an exact integer. */
  private def kmvJaccardOracle: String = {
    val k = 256
    val h = graft.ops.Sketches.kmvHashSql("t")
    val shingleSql =
      """CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |     ELSE list_transform(range(1, len(tk) - 1),
        |                         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END""".stripMargin
    s"""WITH dk AS (SELECT lang, $toksSql AS tk FROM documents
       |            WHERE lang IN ('en', 'de')),
       |sh AS (SELECT lang, unnest($shingleSql) AS t FROM dk),
       |hs AS (SELECT lang, $h AS h FROM sh),
       |ska AS (SELECT h FROM (SELECT DISTINCT h FROM hs WHERE lang = 'en')
       |        ORDER BY h LIMIT $k),
       |skb AS (SELECT h FROM (SELECT DISTINCT h FROM hs WHERE lang = 'de')
       |        ORDER BY h LIMIT $k),
       |mu AS (SELECT h FROM (SELECT DISTINCT h FROM
       |         (SELECT h FROM ska UNION ALL SELECT h FROM skb))
       |       ORDER BY h LIMIT $k),
       |mt AS (SELECT COUNT(*) AS n_match FROM mu
       |       WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)),
       |st AS (SELECT COUNT(*) AS n_kept_u, MAX(h) AS kth_u FROM mu),
       |tex AS (SELECT DISTINCT lang, t FROM sh),
       |ex AS (SELECT
       |  (SELECT COUNT(*) FROM (SELECT t FROM tex WHERE lang = 'en') x
       |     WHERE t IN (SELECT t FROM tex WHERE lang = 'de')) AS n_inter_exact,
       |  (SELECT COUNT(DISTINCT t) FROM tex) AS n_union_exact),
       |f AS (SELECT n_kept_u, kth_u, n_match,
       |  ${graft.ops.Sketches.kmvEstimateSql("n_kept_u", "kth_u", k)} AS union_est,
       |  CAST(n_match AS DOUBLE) / CAST(n_kept_u AS DOUBLE) AS jac
       |  FROM st CROSS JOIN mt)
       |SELECT f.n_kept_u, f.kth_u, f.n_match, ex.n_inter_exact, ex.n_union_exact,
       |  ex.n_inter_exact * 10000 // ex.n_union_exact AS jaccard_exact_bp,
       |  printf('%.4f', f.jac) AS jaccard_est_r,
       |  printf('%.4f', f.union_est) AS union_est_r,
       |  printf('%.4f', f.jac * f.union_est) AS inter_est_r
       |FROM f CROSS JOIN ex""".stripMargin
  }

  /** Oracle for o15: [[hllOracle]] with the day group carried through every
    * stage — same digit ladder, same estimator branches, per group. */
  /** o34 oracle: the hllByOracle chain on integer days, registers expanded
    * to their ≤7 target days before the per-(day, bucket) MIN. */
  private def hllSlidingOracle: String = {
    def hexDigit(i: Int) = s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)"
    val bucket = (1 to 3).map(i => s"${hexDigit(i)} * ${math.pow(16, 3 - i).toLong}")
      .mkString(" + ")
    val w = (0 until 8).map(i => s"${hexDigit(4 + i)} * ${1L << (4 * (7 - i))}")
      .mkString(" + ")
    val m = "CAST('4096.0' AS DOUBLE)"
    val alpha = s"CAST('0.7213' AS DOUBLE) / (CAST('1.0' AS DOUBLE) + CAST('1.079' AS DOUBLE) / $m)"
    s"""WITH h AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d0,
       |             user_id, md5(CAST(user_id AS VARCHAR)) AS hx FROM events),
       |days AS (SELECT DISTINCT d0 AS day FROM h),
       |dd AS (SELECT d0, $bucket AS bucket, $w AS w FROM h),
       |t0 AS (SELECT d0, bucket, MIN(${graft.ops.Sketches.termSql("w")}) AS t
       |       FROM dd GROUP BY d0, bucket),
       |ex0 AS (SELECT d0, bucket, t, unnest(range(d0, d0 + 7)) AS day FROM t0),
       |t AS (SELECT day, bucket, MIN(t) AS t FROM ex0
       |      JOIN days USING (day) GROUP BY day, bucket),
       |a AS (SELECT day, SUM(t) AS present_sum, COUNT(*) AS nonzero_buckets
       |      FROM t GROUP BY day),
       |s AS (SELECT day, CAST(present_sum + (4096 - nonzero_buckets) * ${1L << 33} AS BIGINT)
       |        AS sum_int, nonzero_buckets FROM a),
       |r AS (SELECT day, sum_int, nonzero_buckets,
       |        $alpha * $m * $m / (CAST(sum_int AS DOUBLE) / CAST('8589934592.0' AS DOUBLE)) AS raw,
       |        CAST(4096 - nonzero_buckets AS DOUBLE) AS zeros FROM s),
       |f AS (SELECT day, nonzero_buckets,
       |        CASE WHEN raw <= CAST('2.5' AS DOUBLE) * $m AND zeros > 0
       |             THEN $m * ln($m / zeros) ELSE raw END AS n_hll FROM r),
       |exx AS (SELECT d0, user_id, unnest(range(d0, d0 + 7)) AS day FROM h),
       |ex AS (SELECT day, COUNT(DISTINCT user_id) AS n_exact FROM exx
       |       JOIN days USING (day) GROUP BY day)
       |SELECT ex.day, ex.n_exact,
       |  CAST(f.nonzero_buckets AS BIGINT) AS nonzero_buckets,
       |  printf('%.4f', f.n_hll) AS n_hll_r,
       |  printf('%.4f', (f.n_hll - CAST(ex.n_exact AS DOUBLE)) / CAST(ex.n_exact AS DOUBLE))
       |    AS rel_err_r
       |FROM f JOIN ex USING (day)""".stripMargin
  }

  private def hllByOracle: String = {
    def hexDigit(i: Int) = s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)"
    val bucket = (1 to 3).map(i => s"${hexDigit(i)} * ${math.pow(16, 3 - i).toLong}")
      .mkString(" + ")
    val w = (0 until 8).map(i => s"${hexDigit(4 + i)} * ${1L << (4 * (7 - i))}")
      .mkString(" + ")
    val m = "CAST('4096.0' AS DOUBLE)"
    val alpha = s"CAST('0.7213' AS DOUBLE) / (CAST('1.0' AS DOUBLE) + CAST('1.079' AS DOUBLE) / $m)"
    s"""WITH h AS (SELECT strftime(ts, '%Y-%m-%d') AS grp,
       |             md5(CAST(user_id AS VARCHAR)) AS hx FROM events),
       |d AS (SELECT grp, $bucket AS bucket, $w AS w FROM h),
       |t AS (SELECT grp, bucket, MIN(${graft.ops.Sketches.termSql("w")}) AS t
       |      FROM d GROUP BY grp, bucket),
       |a AS (SELECT grp, SUM(t) AS present_sum, COUNT(*) AS nonzero_buckets
       |      FROM t GROUP BY grp),
       |s AS (SELECT grp, CAST(present_sum + (4096 - nonzero_buckets) * ${1L << 33} AS BIGINT)
       |        AS sum_int, nonzero_buckets FROM a),
       |r AS (SELECT grp, sum_int, nonzero_buckets,
       |        $alpha * $m * $m / (CAST(sum_int AS DOUBLE) / CAST('8589934592.0' AS DOUBLE)) AS raw,
       |        CAST(4096 - nonzero_buckets AS DOUBLE) AS zeros FROM s),
       |f AS (SELECT grp, nonzero_buckets,
       |        CASE WHEN raw <= CAST('2.5' AS DOUBLE) * $m AND zeros > 0
       |             THEN $m * ln($m / zeros) ELSE raw END AS n_hll FROM r),
       |ex AS (SELECT strftime(ts, '%Y-%m-%d') AS grp,
       |         COUNT(DISTINCT user_id) AS n_exact FROM events GROUP BY grp)
       |SELECT ex.grp AS day, ex.n_exact,
       |  CAST(f.nonzero_buckets AS BIGINT) AS nonzero_buckets,
       |  printf('%.4f', f.n_hll) AS n_hll_r,
       |  printf('%.4f', (f.n_hll - CAST(ex.n_exact AS DOUBLE)) / CAST(ex.n_exact AS DOUBLE))
       |    AS rel_err_r
       |FROM f JOIN ex USING (grp)""".stripMargin
  }

  /** Oracle for o16: BOTH paths recomputed independently — per-day register
    * mins merged by register-wise MIN, and the direct global registers —
    * through the same estimator tail. Same digit ladder as [[hllOracle]]. */
  private def hllMergeOracle: String = {
    def hexDigit(i: Int) = s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)"
    val bucket = (1 to 3).map(i => s"${hexDigit(i)} * ${math.pow(16, 3 - i).toLong}")
      .mkString(" + ")
    val w = (0 until 8).map(i => s"${hexDigit(4 + i)} * ${1L << (4 * (7 - i))}")
      .mkString(" + ")
    val m = "CAST('4096.0' AS DOUBLE)"
    val alpha = s"CAST('0.7213' AS DOUBLE) / (CAST('1.0' AS DOUBLE) + CAST('1.079' AS DOUBLE) / $m)"
    def tail(regs: String, out: String) =
      s"""${out}a AS (SELECT SUM(t) AS present_sum, COUNT(*) AS nonzero_buckets FROM $regs),
         |${out}s AS (SELECT CAST(present_sum + (4096 - nonzero_buckets) * ${1L << 33} AS BIGINT)
         |        AS sum_int, nonzero_buckets FROM ${out}a),
         |${out}r AS (SELECT sum_int, nonzero_buckets,
         |        $alpha * $m * $m / (CAST(sum_int AS DOUBLE) / CAST('8589934592.0' AS DOUBLE)) AS raw,
         |        CAST(4096 - nonzero_buckets AS DOUBLE) AS zeros FROM ${out}s),
         |${out}f AS (SELECT sum_int, nonzero_buckets,
         |        CASE WHEN raw <= CAST('2.5' AS DOUBLE) * $m AND zeros > 0
         |             THEN $m * ln($m / zeros) ELSE raw END AS n_hll FROM ${out}r)""".stripMargin
    s"""WITH h AS (SELECT strftime(ts, '%Y-%m-%d') AS grp,
       |             md5(CAST(user_id AS VARCHAR)) AS hx FROM events),
       |d AS (SELECT grp, $bucket AS bucket, $w AS w FROM h),
       |tday AS (SELECT grp, bucket, MIN(${graft.ops.Sketches.termSql("w")}) AS t
       |      FROM d GROUP BY grp, bucket),
       |tm AS (SELECT bucket, MIN(t) AS t FROM tday GROUP BY bucket),
       |td AS (SELECT bucket, MIN(${graft.ops.Sketches.termSql("w")}) AS t
       |      FROM d GROUP BY bucket),
       |${tail("tm", "m")},
       |${tail("td", "d")},
       |np AS (SELECT COUNT(DISTINCT grp) AS n_parts FROM h)
       |SELECT np.n_parts, mf.sum_int,
       |  CAST(mf.nonzero_buckets AS BIGINT) AS nonzero_buckets,
       |  printf('%.4f', mf.n_hll) AS n_merged_r,
       |  printf('%.4f', df.n_hll) AS n_direct_r
       |FROM mf CROSS JOIN df CROSS JOIN np""".stripMargin
  }

  /** Oracle for o12: the same d×w md5-bucket cells ([[graft.ops.Sketches
    * .cmsBucketSql]] — generated from the same code as the Column form),
    * grouped counts, min-over-rows estimate. Pure integer arithmetic. */
  private def cmsOracle: String = {
    val d = 4; val w = 512
    def cellsFor(src: String, keyExpr: String, carry: String): String =
      (0 until d).map(i =>
        s"SELECT $carry$i AS row, ${graft.ops.Sketches.cmsBucketSql(keyExpr, i, w)} AS bucket FROM $src")
        .mkString("\n  UNION ALL ")
    s"""WITH cells AS (
       |  ${cellsFor("events", "user_id", "")}),
       |sk AS (SELECT row, bucket, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
       |probes AS (SELECT DISTINCT user_id FROM events WHERE user_id < 25),
       |pc AS (
       |  ${cellsFor("probes", "user_id", "user_id, ")}),
       |est AS (SELECT user_id, MIN(cnt) AS n_cms
       |        FROM pc JOIN sk USING (row, bucket) GROUP BY 1),
       |ex AS (SELECT user_id, COUNT(*) AS n_exact FROM events
       |       WHERE user_id < 25 GROUP BY 1)
       |SELECT ex.user_id, n_exact, n_cms FROM ex JOIN est USING (user_id)""".stripMargin
  }

  /** Oracle for o17: BOTH paths — per-day cells summed cell-wise, and the
    * direct global cells — probed independently. Pure integer arithmetic. */
  private def cmsMergeOracle: String = {
    val d = 4; val w = 512
    def cellsFor(src: String, keyExpr: String, carry: String): String =
      (0 until d).map(i =>
        s"SELECT $carry$i AS row, ${graft.ops.Sketches.cmsBucketSql(keyExpr, i, w)} AS bucket FROM $src")
        .mkString("\n  UNION ALL ")
    s"""WITH dcells AS (
       |  ${cellsFor("events", "user_id", "strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS part, ")}),
       |pd AS (SELECT part, row, bucket, COUNT(*) AS cnt FROM dcells GROUP BY 1, 2, 3),
       |mg AS (SELECT row, bucket, CAST(SUM(cnt) AS BIGINT) AS cnt FROM pd GROUP BY 1, 2),
       |cells AS (
       |  ${cellsFor("events", "user_id", "")}),
       |sk AS (SELECT row, bucket, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
       |probes AS (SELECT DISTINCT user_id FROM events WHERE user_id < 25),
       |pc AS (
       |  ${cellsFor("probes", "user_id", "user_id, ")}),
       |estm AS (SELECT user_id, MIN(cnt) AS n_merged
       |         FROM pc JOIN mg USING (row, bucket) GROUP BY 1),
       |estd AS (SELECT user_id, MIN(cnt) AS n_direct
       |         FROM pc JOIN sk USING (row, bucket) GROUP BY 1),
       |ex AS (SELECT user_id, COUNT(*) AS n_exact FROM events
       |       WHERE user_id < 25 GROUP BY 1)
       |SELECT ex.user_id, n_exact, n_merged, n_direct
       |FROM ex JOIN estm USING (user_id) JOIN estd USING (user_id)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "a1_minute_agg" ->
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |  COUNT(*) AS total_nb_trx_1min,
        |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS total_fee_1min,
        |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) / COUNT(value) AS avg_fee_1min
        |FROM events GROUP BY 1""".stripMargin,

    // The corrected day uses the backfill predicate, every other day the
    // original — the dynamic overwrite must leave them byte-identical.
    "o33_dynamic_overwrite" ->
      """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    event_type, event_id, value FROM events),
        |d0 AS (SELECT MIN(day) AS d0 FROM e),
        |k AS (SELECT * FROM e
        |      WHERE day <> (SELECT d0 + 5 FROM d0) OR event_id % 10 <> 0)
        |SELECT CAST(day AS BIGINT) AS day, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM k GROUP BY 1, 2""".stripMargin,

    // identical to a1's oracle: the ORC hop must be invisible
    // the same deterministic truncation, validity via json_valid; a
    // truncated object always loses its closing brace, so malformed ≡
    // event_id % 7 = 0 — but the oracle derives it from the JSON, not
    // the id, to keep the parse semantics the thing under test
    "p15_json_permissive" ->
      """WITH r AS (SELECT event_type,
        |    CASE WHEN event_id % 7 = 0 THEN substr(props, 1, length(props) - 1)
        |         ELSE props END AS raw
        |  FROM events),
        |p AS (SELECT event_type,
        |        CASE WHEN json_valid(raw)
        |             THEN CAST(json_extract(raw, '$.k') AS BIGINT) END AS k
        |      FROM r)
        |SELECT event_type, COUNT(*) AS n_rows,
        |  COUNT(*) FILTER (WHERE k IS NULL) AS n_malformed,
        |  CAST(SUM(k) AS BIGINT) AS sum_k_valid
        |FROM p GROUP BY 1""".stripMargin,

    "p14_orc_roundtrip" ->
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |  COUNT(*) AS total_nb_trx_1min,
        |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS total_fee_1min,
        |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) / COUNT(value) AS avg_fee_1min
        |FROM events GROUP BY 1""".stripMargin,

    // Standard multiset grouping equality: NULL-keyed rows intersect and
    // cancel exactly as any other key.
    "q21_setop_nulls" ->
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
        |FROM (SELECT k, g FROM a EXCEPT SELECT k, g FROM b)""".stripMargin,

    // The merged read ≡ a conditional projection of the source: value
    // exists only where the batch-2 writer ran (day > 15).
    "p17_schema_merge" ->
      """SELECT event_type, COUNT(*) AS n_rows,
        |  COUNT(*) FILTER (WHERE extract(day FROM ts) > 15) AS n_with_value,
        |  CAST(SUM(CAST(value AS DECIMAL(30,4)))
        |         FILTER (WHERE extract(day FROM ts) > 15) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,

    // identical to a1's oracle: the XML hop must be invisible
    "p16_xml_roundtrip" ->
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |  COUNT(*) AS total_nb_trx_1min,
        |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS total_fee_1min,
        |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) / COUNT(value) AS avg_fee_1min
        |FROM events GROUP BY 1""".stripMargin,

    // identical to a1's oracle: the CSV hop must be invisible
    // Blind to the JSON-array hop, like every p* format oracle.
    "p19_multiline_json" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    // Blind to the fixed-width text hop, like every p* format oracle.
    "p18_fixed_width" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    "p12_csv_roundtrip" ->
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |  COUNT(*) AS total_nb_trx_1min,
        |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS total_fee_1min,
        |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) / COUNT(value) AS avg_fee_1min
        |FROM events GROUP BY 1""".stripMargin,

    "p1_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,

    // Truth stated directly from the source columns, blind to the variant
    // machinery: mtype=event_type, vk=k, ids[1]=event_id, opt null iff
    // k≡0 (mod 7), $.absent always missing → always NULL.
    "p13_variant" ->
      """SELECT event_type AS mtype, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(SUM(event_id) AS BIGINT) AS sum_id1,
        |  COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 = 0
        |             THEN 1 END) AS n_opt_null,
        |  COUNT(*) AS n_absent_null
        |FROM events GROUP BY 1""".stripMargin,

    "p2_dedup_latest" ->
      """SELECT user_id, event_type, event_id AS last_event_id, value AS last_value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                               ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,

    "a3_minmax_time" ->
      """SELECT COUNT(*) AS n_events,
        |  epoch_us(CAST(min(ts) AS TIMESTAMP)) AS min_ts_us,
        |  epoch_us(CAST(max(ts) AS TIMESTAMP)) AS max_ts_us
        |FROM events""".stripMargin,

    "a5_rmse" ->
      s"""WITH p AS ($predSql)
         |SELECT sqrt(CAST(SUM(CAST((target - prediction) * (target - prediction)
         |    AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*)) AS rmse,
         |  COUNT(*) AS n
         |FROM p""".stripMargin,

    "a6_quantile_loss" ->
      s"""WITH p AS ($predSql)
         |SELECT event_id, target, prediction,
         |  ${qlSql(0.05)} AS ql_low, ${qlSql(0.5)} AS ql_mid, ${qlSql(0.95)} AS ql_up
         |FROM p""".stripMargin,

    "a7_wql" ->
      s"""WITH p AS ($predSql), agg AS (
         |  SELECT CAST(SUM(CAST(abs(target) AS DECIMAL(30,10))) AS DOUBLE) AS abs_sum,
         |    CAST(SUM(CAST(${qlSql(0.05)} AS DECIMAL(30,10))) AS DOUBLE) AS s_low,
         |    CAST(SUM(CAST(${qlSql(0.5)} AS DECIMAL(30,10))) AS DOUBLE) AS s_mid,
         |    CAST(SUM(CAST(${qlSql(0.95)} AS DECIMAL(30,10))) AS DOUBLE) AS s_up
         |  FROM p)
         |SELECT 2.0 / abs_sum * s_low AS wql_low, 2.0 / abs_sum * s_mid AS wql_mid,
         |  2.0 / abs_sum * s_up AS wql_up,
         |  (2.0 / abs_sum * s_low + 2.0 / abs_sum * s_mid + 2.0 / abs_sum * s_up) / 3.0 AS mean_wql
         |FROM agg""".stripMargin,

    "a8_compaction_sizing" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour_prefix,
        |  CAST(SUM(strlen(props)) AS BIGINT) AS total_bytes,
        |  COUNT(*) AS n_objects,
        |  CAST((CAST(SUM(strlen(props)) AS BIGINT) + 16383) // 16384 AS BIGINT) AS n_target_files
        |FROM events GROUP BY 1""".stripMargin,

    "j3_threshold_update" ->
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
         |FROM w""".stripMargin,

    "o6_compact_files" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour_prefix,
        |  CAST(1 AS INTEGER) AS n_files,
        |  COUNT(DISTINCT date_trunc('minute', ts)) AS n_minutes,
        |  COUNT(*) AS total_trx
        |FROM events GROUP BY 1""".stripMargin,

    "p5_cast_sort" ->
      """SELECT event_id, user_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS INTEGER) AS sort_idx
        |FROM events""".stripMargin,

    "p6_value_as_string" ->
      """SELECT event_id,
        |  CAST(event_id AS VARCHAR) AS id_str,
        |  CAST(user_id AS VARCHAR) AS user_str,
        |  printf('%.4f', value) AS value_str,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
        |FROM events""".stripMargin,

    "a9_alarm" ->
      """WITH hourly AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour_start,
        |         max(value) AS hourly_max
        |  FROM events GROUP BY 1)
        |SELECT hour_start, hourly_max, breached,
        |  CASE WHEN min(breached) OVER w = 1 AND count(*) OVER w = 3 THEN 1 ELSE 0 END AS alarm
        |FROM (SELECT *, CASE WHEN hourly_max >= 18.0 THEN 1 ELSE 0 END AS breached FROM hourly)
        |WINDOW w AS (ORDER BY hour_start ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin,

    // α=0.5 EWMA: power-of-two coefficients make pow exactly rounded on
    // both engines; per-term decimal truncation (t9 contract) before the
    // exact sum.
    "mon2_ewma" ->
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
        |FROM t GROUP BY 1""".stripMargin,

    // The clustered round trip changes no row: the box count is exact.
    "o21_zorder_skip" ->
      """SELECT COUNT(*) AS n_rows FROM events
        |WHERE user_id BETWEEN 10 AND 19
        |  AND CAST(floor(value) AS BIGINT) BETWEEN 100 AND 119""".stripMargin,

    "a22_markov" ->
      """WITH t AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS next_type
        |  FROM events),
        |tr AS (SELECT event_type, next_type, COUNT(*) AS n FROM t
        |       WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_from FROM tr GROUP BY 1)
        |SELECT tr.event_type, tr.next_type, tr.n, tot.n_from,
        |  tr.n * 10000 // tot.n_from AS p_bp
        |FROM tr JOIN tot ON tr.event_type = tot.event_type""".stripMargin,

    // Exact trailing-30-day actives via the same explode-to-report-days
    // construction; report days restricted to the dau spine.
    "a27_stickiness" ->
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
        |FROM dau JOIN mau ON dau.day = mau.day""".stripMargin,

    // Scalar-total threshold restated as exact integer comparison.
    "q26_value_share" ->
      """WITH rev AS (SELECT p_brand,
        |    CAST(SUM(CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
        |      AS DECIMAL(30,4))) * 10000 AS HUGEINT) AS rev_u
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1)
        |SELECT p_brand, CAST(rev_u AS BIGINT) AS rev_u
        |FROM rev
        |WHERE rev_u * 50 > (SELECT SUM(rev_u) FROM rev)""".stripMargin,

    // Same integral-decimal scaling; HUGEINT carries the ×10⁴ numerator.
    "a26_share_shift" ->
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
        |FROM sh""".stripMargin,

    // Quartiles as integer rank arithmetic over the same total orders.
    "a25_rfm" ->
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
        |SELECT rq, fq, mq, COUNT(*) AS n_users FROM q GROUP BY 1, 2, 3""".stripMargin,

    // Same strictly-preceding frame and integer-microsecond lookback.
    "a24_attribution" ->
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
        |FROM o WHERE event_type = 'purchase' GROUP BY 1""".stripMargin,

    "q24_order_dist" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_custkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |GROUP BY 1""".stripMargin,

    // Brute-force predicate join over the identically synthesized
    // coordinates — the grid blocking is recall-lossless (g ≥ ε), so the
    // oracle never needs cells.
    "geo1_radius_join" -> {
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
    },

    // Core cells by the corpus-derived density threshold; CC over the
    // 8-adjacency predicate (the naive form — independent of the engine's
    // neighbor-id expansion); min-label components, isolated cores label
    // themselves.
    "geo3_grid_dbscan" -> {
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
    },

    // geo1's brute-force predicate join reduced to the per-query argmin.
    "geo2_nearest" -> {
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
    },

    // Token-for-token mirror of the engine's Wilson formula (same operand
    // order, z from the same string literal).
    "a23_wilson" ->
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
        |FROM w""".stripMargin,

    // Unpruned co-occurrence semantics: the engine's A-priori item prune
    // cannot change the output (n_ab ≤ min(n_a, n_b) makes it lossless).
    "q22_copurchase" ->
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
        |WHERE pr.n_ab >= 5""".stripMargin,

    // The PRUNED CTE chain is the contract here: items below 1/7-of-orders
    // support never enter the baskets (contrast q22, whose prune is a
    // lossless optimization the oracle states unpruned).
    "q22b_copurchase_apriori" ->
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
        |WHERE pr.n_ab >= 5""".stripMargin,

    // GROUPING() bitmask matches Spark's grouping_id (leftmost key =
    // most significant bit).
    "a21_grouping_sets" ->
      """SELECT event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |  CAST(GROUPING(event_type, day) AS BIGINT) AS gid,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY GROUPING SETS ((event_type, day), (event_type), (day), ())""".stripMargin,

    // The batch change-row relation the streaming CDC replay must
    // reproduce exactly (o18's `ch` subquery, without the interval close).
    "e2e_cdc" ->
      """WITH e AS (SELECT user_id, event_type, value,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id FROM events),
        |c AS (SELECT *, lag(value) OVER (PARTITION BY user_id, event_type
        |                                 ORDER BY t, event_id) AS prev FROM e)
        |SELECT user_id, event_type, value, t AS valid_from_us FROM c
        |WHERE prev IS NULL OR value <> prev""".stripMargin,

    // Mirrors o18_scd2: change rows via lag, intervals via lead/row_number,
    // identical (t, event_id) ordering on both engines.
    // The NAIVE interval-predicate join over the o18-style SCD2 chain —
    // deliberately independent of the engine's union+window timeline plan.
    "j10_scd2_asof" ->
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
        |  AND (d.valid_to_us IS NULL OR f.t < d.valid_to_us)""".stripMargin,

    "o18_scd2" ->
      """WITH e AS (SELECT user_id, event_type, value,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id FROM events),
        |c AS (SELECT *, lag(value) OVER (PARTITION BY user_id, event_type
        |                                 ORDER BY t, event_id) AS prev FROM e),
        |ch AS (SELECT user_id, event_type, value, t, event_id FROM c
        |       WHERE prev IS NULL OR value <> prev)
        |SELECT user_id, event_type, value, t AS valid_from_us,
        |  lead(t) OVER w AS valid_to_us,
        |  row_number() OVER w AS version
        |FROM ch WINDOW w AS (PARTITION BY user_id, event_type
        |                     ORDER BY t, event_id)""".stripMargin,

    // MASE: decimal-exact |diff| sums, one mirrored double chain at the
    // end; constant series (zero seasonal error) yield NULL on both sides.
    "mon5_mase" ->
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
        |FROM g""".stripMargin,

    // Shared-spec histogram cells: bin arithmetic mirrored expression-for-
    // expression; merged (per-day summed) and direct paths probed
    // independently.
    "o20_hist_merge" ->
      """WITH st AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
        |b AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS part,
        |    CASE WHEN hi = lo THEN 0
        |         ELSE least(CAST(floor((value - lo) / ((hi - lo) / 256)) AS BIGINT), 255)
        |    END AS bin
        |  FROM events CROSS JOIN st),
        |pd AS (SELECT part, bin, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
        |mg AS (SELECT bin, CAST(SUM(cnt) AS BIGINT) AS cnt_merged FROM pd GROUP BY 1),
        |dr AS (SELECT bin, COUNT(*) AS cnt_direct FROM b GROUP BY 1)
        |SELECT bin, cnt_merged, cnt_direct FROM mg JOIN dr USING (bin)""".stripMargin,

    // Same 32-term Morton interleave, generated from the one Scala source.
    "o19_zorder" -> {
      val z = graft.ops.Layout.morton16Sql(
        "user_id", "CAST(floor(value) AS BIGINT)")
      s"""WITH z AS (SELECT user_id, CAST(floor(value) AS BIGINT) AS vb,
         |    $z AS zkey
         |  FROM events)
         |SELECT zkey >> 14 AS zbucket, COUNT(*) AS n,
         |  MIN(user_id) AS u_min, MAX(user_id) AS u_max,
         |  MIN(vb) AS v_min, MAX(vb) AS v_max
         |FROM z GROUP BY 1""".stripMargin
    },

    // One UNION ALL branch per profiled column, each the same exact
    // counts + typed min/max render as ops/Profile.
    // By-name union with null-fill for the pre-evolution snapshot.
    "p10_schema_drift" ->
      """WITH u AS (
        |  SELECT doc_id, text, n_chars, NULL AS lang, NULL AS source
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, text, n_chars, lang, source
        |  FROM documents WHERE doc_id % 2 <> 0)
        |SELECT coalesce(source, '<pre-schema>') AS source,
        |  coalesce(lang, '??') AS lang,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |FROM u GROUP BY 1, 2""".stripMargin,

    "p9_profile" -> {
      def branch(c: String, mn: String, mx: String): String =
        s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($c) AS n_null,
           |  COUNT(DISTINCT $c) AS n_distinct, $mn AS min_s, $mx AS max_s
           |FROM lineitem""".stripMargin
      Seq(
        branch("l_orderkey", "CAST(MIN(l_orderkey) AS VARCHAR)", "CAST(MAX(l_orderkey) AS VARCHAR)"),
        branch("l_linenumber", "CAST(MIN(l_linenumber) AS VARCHAR)", "CAST(MAX(l_linenumber) AS VARCHAR)"),
        branch("l_quantity", "printf('%.4f', MIN(l_quantity))", "printf('%.4f', MAX(l_quantity))"),
        branch("l_extendedprice", "printf('%.4f', MIN(l_extendedprice))", "printf('%.4f', MAX(l_extendedprice))"),
        branch("l_returnflag", "MIN(l_returnflag)", "MAX(l_returnflag)"),
        branch("l_shipdate",
          "strftime(MIN(l_shipdate), '%Y-%m-%d %H:%M:%S')",
          "strftime(MAX(l_shipdate), '%Y-%m-%d %H:%M:%S')")
      ).mkString("\nUNION ALL\n")
    },

    // CUSUM closed form: running sum − running min of DECIMAL(30,4)
    // deviations; integer/decimal-exact until the final render.
    "mon4_cusum" ->
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
        |FROM s GROUP BY 1""".stripMargin,

    // Round-robin interleave: per-source rank, then (rank, source) global
    // order — unique keys make the position engine-independent.
    "x10_interleave" ->
      """WITH r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS r
        |  FROM documents)
        |SELECT doc_id, source, r,
        |  CAST(row_number() OVER (ORDER BY r, source, doc_id) AS BIGINT) AS pos
        |FROM r""".stripMargin,

    // Burn-rate page decision in exact integers; trailing window over the
    // hourly spine mirrors the RANGE frame.
    "mon7_burn_rate" ->
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
        |FROM w""".stripMargin,

    // Seasonal 3σ breach test in exact integer ticks — mirrors the Spark
    // side term-for-term so the breach set is engine-independent.
    "mon6_anomaly" ->
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
        |GROUP BY st.event_type, st.hod, st.n, st.sv, st.sq""".stripMargin,

    "a20_rolling_active" ->
      """WITH e AS (SELECT DISTINCT user_id,
        |       epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day FROM events),
        |b AS (SELECT MAX(day) AS hi FROM e),
        |daily AS (SELECT day, COUNT(*) AS n_active_1d FROM e GROUP BY 1),
        |m AS (SELECT DISTINCT user_id, wday FROM (
        |        SELECT user_id, unnest(generate_series(day, day + 6)) AS wday
        |        FROM e) x CROSS JOIN b WHERE x.wday <= b.hi),
        |weekly AS (SELECT wday AS day, COUNT(*) AS n_active_7d FROM m GROUP BY 1)
        |SELECT day, n_active_1d, n_active_7d
        |FROM daily JOIN weekly USING (day)""".stripMargin,

    "o45_ref_integrity" ->
      """SELECT 'lineitem->orders' AS relationship,
        |  (SELECT COUNT(*) FROM lineitem) AS n_child,
        |  (SELECT COUNT(*) FROM lineitem
        |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |    AS n_orphans
        |UNION ALL
        |SELECT 'lineitem->part', (SELECT COUNT(*) FROM lineitem),
        |  (SELECT COUNT(*) FROM lineitem
        |   WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
        |UNION ALL
        |SELECT 'lineitem->supplier', (SELECT COUNT(*) FROM lineitem),
        |  (SELECT COUNT(*) FROM lineitem
        |   WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
        |UNION ALL
        |SELECT 'orders->customer', (SELECT COUNT(*) FROM orders),
        |  (SELECT COUNT(*) FROM orders
        |   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))""".stripMargin,

    "a34_concentration" ->
      """WITH pu AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
        |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, user_id) AS rk
        |  FROM pu),
        |st AS (SELECT COUNT(*) AS n_users, CAST(SUM(n) AS BIGINT) AS total_events
        |  FROM pu)
        |SELECT n_users, total_events, COUNT(*) AS n_top,
        |  CAST(SUM(r.n) AS BIGINT) AS top_events,
        |  CAST(SUM(r.n) AS BIGINT) * 10000 // total_events AS share_bp
        |FROM r, st WHERE rk <= n_users // 10
        |GROUP BY 1, 2""".stripMargin,

    // Same cross-multiplied comparison — no ratio exists on either side.
    "q33_above_segment_avg" ->
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
        |GROUP BY 1""".stripMargin,

    "a35_weekday_profile" ->
      """WITH d AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM d)
        |SELECT (day + 3) % 7 AS dow, COUNT(*) AS n_events,
        |  CAST(SUM(cents) AS BIGINT) AS cents,
        |  CAST(SUM(cents) AS BIGINT) * 10000 // total AS share_bp
        |FROM d, tot GROUP BY 1, total""".stripMargin,

    // Mirrors q34: same integer quantity units (×100), same window-total
    // dominance predicate, same date range.
    "q34_dominant_supplier" ->
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
        |GROUP BY 1, 2""".stripMargin,

    // Mirrors q35: integer cents, cross-multiplied global threshold over
    // positive balances, NOT EXISTS anti join, nation rollup.
    // Mirrors o47: identical md5(s ':' key) race (rn = 1 under h DESC,
    // s DESC ↔ Spark's array_max over (h, sid) structs), same mod shards,
    // same per-shard rollup then 1-row fold.
    "o47_resharding" ->
      """WITH k AS (SELECT o_orderkey FROM orders),
        |e AS (SELECT o_orderkey, s,
        |    md5(CAST(s AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)) AS h
        |  FROM k CROSS JOIN range(0, 17) t(s)),
        |a16 AS (SELECT o_orderkey, s FROM (
        |  SELECT o_orderkey, s, row_number() OVER (PARTITION BY o_orderkey
        |    ORDER BY h DESC, s DESC) AS rn FROM e WHERE s < 16) WHERE rn = 1),
        |a17 AS (SELECT o_orderkey, s FROM (
        |  SELECT o_orderkey, s, row_number() OVER (PARTITION BY o_orderkey
        |    ORDER BY h DESC, s DESC) AS rn FROM e) WHERE rn = 1),
        |rows_m AS (SELECT CAST(o_orderkey % 16 AS INT) AS sh,
        |    CASE WHEN o_orderkey % 16 <> o_orderkey % 17 THEN 1 ELSE 0 END AS mv
        |  FROM k),
        |rows_h AS (SELECT CAST(a16.s AS INT) AS sh,
        |    CASE WHEN a16.s <> a17.s THEN 1 ELSE 0 END AS mv
        |  FROM a16 JOIN a17 USING (o_orderkey)),
        |g_m AS (SELECT sh, COUNT(*) AS n, SUM(mv) AS mvd FROM rows_m GROUP BY 1),
        |g_h AS (SELECT sh, COUNT(*) AS n, SUM(mv) AS mvd FROM rows_h GROUP BY 1)
        |SELECT 'mod_n' AS scheme, CAST(SUM(n) AS BIGINT) AS n_keys,
        |  CAST(SUM(mvd) AS BIGINT) AS n_moved,
        |  CAST(SUM(mvd) * 10000 // SUM(n) AS BIGINT) AS moved_bp,
        |  CAST(MAX(n) AS BIGINT) AS max_load, CAST(MIN(n) AS BIGINT) AS min_load
        |FROM g_m
        |UNION ALL
        |SELECT 'rendezvous', CAST(SUM(n) AS BIGINT), CAST(SUM(mvd) AS BIGINT),
        |  CAST(SUM(mvd) * 10000 // SUM(n) AS BIGINT),
        |  CAST(MAX(n) AS BIGINT), CAST(MIN(n) AS BIGINT)
        |FROM g_h""".stripMargin,

    // Mirrors o50 format-independently: the EXPECTED stats from the parquet
    // source, one row per format — a Spark-side round-trip corruption shows
    // up as that format's row diverging from the oracle's.
    "o50_sink_fidelity" ->
      """WITH t AS (SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(event_id) AS BIGINT) AS sum_id,
        |    CAST(SUM(user_id) AS BIGINT) AS sum_user,
        |    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |    epoch_us(CAST(min(ts) AS TIMESTAMP)) AS min_ts_us,
        |    epoch_us(CAST(max(ts) AS TIMESTAMP)) AS max_ts_us
        |  FROM events)
        |SELECT f.format, t.n_rows, t.sum_id, t.sum_user, t.sum_cents,
        |       t.min_ts_us, t.max_ts_us
        |FROM t CROSS JOIN (VALUES ('parquet'), ('orc'), ('csv'), ('json'))
        |  AS f(format)""".stripMargin,

    // Mirrors o49: same placements (unique tie-broken orders), same single
    // deleted user, same COW rewrite accounting.
    "o49_deletion_cost" ->
      """WITH e AS (SELECT event_id, ts, user_id FROM events),
        |pt AS (SELECT user_id,
        |    (row_number() OVER (ORDER BY ts, event_id) - 1) // 8192 AS file_id
        |  FROM e),
        |pu AS (SELECT user_id,
        |    (row_number() OVER (ORDER BY user_id, ts, event_id) - 1) // 8192
        |      AS file_id
        |  FROM e),
        |st AS (SELECT file_id, COUNT(*) AS fsz FROM pt GROUP BY 1),
        |su AS (SELECT file_id, COUNT(*) AS fsz FROM pu GROUP BY 1),
        |dt AS (SELECT DISTINCT file_id FROM pt WHERE user_id = 42),
        |du AS (SELECT DISTINCT file_id FROM pu WHERE user_id = 42),
        |nd AS (SELECT COUNT(*) AS n_deleted FROM e WHERE user_id = 42)
        |SELECT 'by_time' AS layout,
        |  (SELECT COUNT(*) FROM st) AS n_files, n_deleted,
        |  (SELECT COUNT(*) FROM dt) AS files_touched,
        |  (SELECT CAST(SUM(fsz) AS BIGINT) FROM dt JOIN st USING (file_id))
        |    AS rows_rewritten,
        |  CAST((SELECT SUM(fsz) FROM dt JOIN st USING (file_id)) * 10000
        |       // n_deleted AS BIGINT) AS delete_amp_bp
        |FROM nd
        |UNION ALL
        |SELECT 'by_user',
        |  (SELECT COUNT(*) FROM su), n_deleted,
        |  (SELECT COUNT(*) FROM du),
        |  (SELECT CAST(SUM(fsz) AS BIGINT) FROM du JOIN su USING (file_id)),
        |  CAST((SELECT SUM(fsz) FROM du JOIN su USING (file_id)) * 10000
        |       // n_deleted AS BIGINT)
        |FROM nd""".stripMargin,

    // Mirrors o48: same (l_orderkey, l_linenumber) placement order, same
    // 4096-row files, same March-1995 touch set.
    "o48_cow_mor" ->
      """WITH placed AS (SELECT l_orderkey,
        |    (row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1) // 4096
        |      AS file_id
        |  FROM lineitem),
        |tord AS (SELECT o_orderkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-03-01'
        |    AND o_orderdate < TIMESTAMP '1995-04-01'),
        |touched AS (SELECT p.l_orderkey, p.file_id FROM placed p
        |  WHERE EXISTS (SELECT 1 FROM tord WHERE o_orderkey = p.l_orderkey)),
        |fs AS (SELECT file_id, COUNT(*) AS fsz FROM placed GROUP BY 1),
        |tf AS (SELECT DISTINCT file_id FROM touched),
        |cow AS (SELECT COUNT(*) AS files_touched,
        |    CAST(SUM(fsz) AS BIGINT) AS rows_written FROM tf JOIN fs USING (file_id)),
        |nu AS (SELECT COUNT(*) AS n_updates FROM touched)
        |SELECT 'cow' AS strategy, n_updates, files_touched, rows_written,
        |  CAST(rows_written * 10000 // n_updates AS BIGINT) AS write_amp_bp
        |FROM cow CROSS JOIN nu
        |UNION ALL
        |SELECT 'mor', n_updates, files_touched,
        |  CAST(n_updates AS BIGINT), CAST(10000 AS BIGINT)
        |FROM cow CROSS JOIN nu""".stripMargin,

    // Mirrors q37: same per-term double→DECIMAL(30,4) rounding before the
    // sum, tie decision on the exact decimal (never the double), double
    // rendering only at the output edge.
    "q37_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4)))
        |      AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)""".stripMargin,

    // Mirrors a36: same doubled midranks (2·less + eq + 1), same HUGEINT ↔
    // DECIMAL(38,0) fold for the basis points.
    "a36_mann_whitney" ->
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
        |FROM ag""".stripMargin,

    // Mirrors q36 verbatim — the oracle decorrelates however DuckDB
    // pleases; the gate checks the SEMANTICS of the double-correlated
    // EXISTS / NOT EXISTS, not Spark's plan for it.
    "q36_waiting_supplier" ->
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
        |GROUP BY s_name""".stripMargin,

    // Mirrors o46: same 4096-row file assignment under both orderings
    // (unique tie-breaks), same month ladder, same intersection predicate.
    "o46_zonemap_audit" ->
      """WITH o AS (SELECT o_orderkey, o_orderdate FROM orders),
        |bk AS (SELECT (row_number() OVER (ORDER BY o_orderkey) - 1) // 4096
        |         AS file_id, o_orderdate FROM o),
        |bd AS (SELECT (row_number() OVER (ORDER BY o_orderdate, o_orderkey) - 1)
        |         // 4096 AS file_id, o_orderdate FROM o),
        |files AS (
        |  SELECT 'by_key' AS layout, file_id, MIN(o_orderdate) AS mn,
        |         MAX(o_orderdate) AS mx FROM bk GROUP BY 2
        |  UNION ALL
        |  SELECT 'by_date', file_id, MIN(o_orderdate), MAX(o_orderdate)
        |  FROM bd GROUP BY 2),
        |probes AS (SELECT m AS probe_month,
        |    CAST(make_date(1995, CAST(m AS INT), 1) AS TIMESTAMP) AS lo,
        |    CAST(make_date(CASE WHEN m = 12 THEN 1996 ELSE 1995 END,
        |                   CASE WHEN m = 12 THEN 1 ELSE CAST(m + 1 AS INT) END,
        |                   1) AS TIMESTAMP) AS hi
        |  FROM range(1, 13) t(m))
        |SELECT layout, probe_month, COUNT(*) AS n_files,
        |  COUNT(*) FILTER (WHERE mn < hi AND mx >= lo) AS files_read,
        |  CAST((COUNT(*) - COUNT(*) FILTER (WHERE mn < hi AND mx >= lo))
        |       * 10000 // COUNT(*) AS BIGINT) AS prune_bp
        |FROM files CROSS JOIN probes
        |GROUP BY 1, 2""".stripMargin,

    "q35_sales_opportunity" ->
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
        |GROUP BY 1""".stripMargin,

    "a32_new_returning" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day FROM events),
        |f AS (SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY 1)
        |SELECT day,
        |  CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(SUM(CASE WHEN day > first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
        |FROM ud JOIN f USING (user_id)
        |GROUP BY 1""".stripMargin,

    // Same lag/moment chain: n·Σg² − (Σg)² sample std over the mean gap,
    // moments exact (BIGINT / DECIMAL(38,0)-widened product), one mirrored
    // double expression behind %.6f.
    "a33_burstiness" ->
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
        |FROM m""".stripMargin,

    "a30_timed_funnel" ->
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
        |LEFT JOIN p USING (user_id)""".stripMargin,

    "g10_ppr" -> pprOracle,

    "g11_mis_canon" -> misOracle,

    "s30_nprobe_curve" -> nprobeCurveOracle,
    "s36_nlist_curve" -> nlistCurveOracle,

    // Mirrors x31: same sqrt-composed weights on the 1e10 floor grid
    // (floor yields an integral double, so the HUGEINT ↔ DECIMAL(38,0)
    // casts agree digit-for-digit), same integer share fold.
    "x31_tau_grid" ->
      """WITH s AS (SELECT lang AS stratum, COUNT(*) AS n_s
        |           FROM documents GROUP BY 1),
        |g AS (
        |  SELECT '1' AS tau, stratum, n_s, CAST(n_s AS HUGEINT) AS w FROM s
        |  UNION ALL SELECT '1/2', stratum, n_s,
        |    CAST(floor(sqrt(CAST(n_s AS DOUBLE)) * 1e10) AS HUGEINT) FROM s
        |  UNION ALL SELECT '1/4', stratum, n_s,
        |    CAST(floor(sqrt(sqrt(CAST(n_s AS DOUBLE))) * 1e10) AS HUGEINT) FROM s)
        |SELECT tau, stratum, n_s,
        |  CAST(w * 10000 // SUM(w) OVER (PARTITION BY tau) AS BIGINT) AS share_bp
        |FROM g""".stripMargin,

    "d18_dup_by_source" ->
      s"""WITH g AS (SELECT source, $fpSql AS fp, COUNT(*) AS n
         |  FROM documents GROUP BY 1, 2)
         |SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
         |  COUNT(*) AS n_distinct,
         |  CAST(SUM(n - 1) AS BIGINT) AS n_dup_docs,
         |  CAST(SUM(n - 1) AS BIGINT) * 10000 // CAST(SUM(n) AS BIGINT) AS dup_bp
         |FROM g GROUP BY 1""".stripMargin,

    "a31_holt_winters" -> hwOracle,

    // Same synthesized homoglyph corpus, same skeleton-then-fingerprint.
    "d17_homoglyph_dedup" ->
      raw"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, translate(text, 'aeocp', 'аеоср')
        |  FROM documents WHERE doc_id % 7 = 0),
        |sk AS (SELECT doc_id,
        |    md5(regexp_replace(lower(trim(translate(text, 'аеоср', 'aeocp'))),
        |        '\s+', ' ', 'g')) AS fp
        |  FROM corpus)
        |SELECT fp, min(doc_id) AS doc_id, count(*) AS n_copies,
        |  CAST(SUM(CASE WHEN doc_id >= 10000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_spoofs
        |FROM sk GROUP BY 1""".stripMargin,

    "x26_oversample" ->
      """WITH d AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |sizes AS (SELECT lang, COUNT(*) AS n FROM d GROUP BY 1),
        |mx AS (SELECT MAX(n) AS mx FROM sizes),
        |r AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
        |  FROM d)
        |SELECT r.lang, r.doc_id,
        |  CAST(mx // n + CASE WHEN rk <= mx % n THEN 1 ELSE 0 END AS BIGINT) AS mult
        |FROM r JOIN sizes USING (lang), mx""".stripMargin,

    // hash32 restated via the strpos hex ladder (the x5 convention), the
    // t1 token count, and the same pure-integer cut arithmetic.
    "x28_fim_splits" -> {
      def h32(salt: String) = (1 to 8).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('$salt:' || CAST(doc_id AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
        .mkString("(", " + ", ")")
      s"""WITH d AS (SELECT doc_id,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len($toksSql) END AS BIGINT) AS n_tokens,
         |  ${h32("fima")} AS ha, ${h32("fimb")} AS hb, ${h32("fimsel")} AS hs
         |  FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  CASE WHEN hs % 100 < 50 THEN 1 ELSE 0 END AS fim,
         |  least(ha % (n_tokens + 1), hb % (n_tokens + 1)) AS lo,
         |  greatest(ha % (n_tokens + 1), hb % (n_tokens + 1)) AS hi
         |  FROM d)
         |SELECT doc_id, n_tokens, CAST(fim AS INT) AS fim,
         |  CAST(CASE WHEN fim = 1 THEN lo ELSE n_tokens END AS BIGINT) AS prefix_len,
         |  CAST(CASE WHEN fim = 1 THEN hi - lo ELSE 0 END AS BIGINT) AS middle_len,
         |  CAST(CASE WHEN fim = 1 THEN n_tokens - hi ELSE 0 END AS BIGINT) AS suffix_len
         |FROM c""".stripMargin
    },

    // the x29 water-fill chain verbatim, then full-epoch replication via
    // generate_series, the salted-hash partial epoch, and x2's running-sum
    // packing over the replicated multiset in (epoch, doc_id) order.
    "c7_budget_assembly" -> {
      val rounds = (1 to 3).map { i =>
        s"""p$i AS (SELECT
           |  CAST((SELECT MIN(budget) FROM s0) - SUM(alloc) AS BIGINT) AS pool,
           |  CAST(SUM(CASE WHEN alloc < cap THEN w6 END) AS BIGINT) AS w_act
           |  FROM a${i - 1}),
           |a$i AS (SELECT stratum, toks, w6, cap, budget,
           |  CAST(least(cap, alloc +
           |    CASE WHEN alloc < cap AND COALESCE((SELECT w_act FROM p$i), 0) > 0
           |    THEN (SELECT pool FROM p$i) * (w6 * 10000 // (SELECT w_act FROM p$i)) // 10000
           |    ELSE 0 END) AS BIGINT) AS alloc
           |  FROM a${i - 1})""".stripMargin
      }.mkString(",\n")
      val h32frac = (1 to 8).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('c7frac:' || CAST(doc_id AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
        .mkString("(", " + ", ")")
      s"""WITH d AS (SELECT doc_id, lang,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len($toksSql) END AS BIGINT) AS n_tokens
         |  FROM documents),
         |t AS (SELECT lang AS stratum, CAST(SUM(n_tokens) AS BIGINT) AS toks
         |  FROM d GROUP BY 1),
         |s0 AS (SELECT stratum, toks,
         |    CAST(floor(sqrt(CAST(toks AS DOUBLE)) * 1000000.0) AS BIGINT) AS w6,
         |    toks * 4 AS cap,
         |    (SELECT SUM(toks) FROM t) * 35000 // 10000 AS budget
         |  FROM t WHERE toks > 0),
         |a0 AS (SELECT stratum, toks, w6, cap, budget, CAST(0 AS BIGINT) AS alloc
         |  FROM s0),
         |$rounds,
         |al AS (SELECT stratum AS lang,
         |  CAST(alloc * 10000 // toks AS BIGINT) AS epochs_bp FROM a3),
         |rep AS (
         |  SELECT d.doc_id, d.lang, d.n_tokens,
         |         CAST(unnest(generate_series(0, CAST(al.epochs_bp // 10000 AS BIGINT) - 1))
         |              AS BIGINT) AS epoch
         |  FROM d JOIN al USING (lang) WHERE al.epochs_bp >= 10000
         |  UNION ALL
         |  SELECT d.doc_id, d.lang, d.n_tokens,
         |         CAST(al.epochs_bp // 10000 AS BIGINT) AS epoch
         |  FROM d JOIN al USING (lang)
         |  WHERE $h32frac % 10000 < al.epochs_bp % 10000),
         |c AS (SELECT epoch, doc_id, lang, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY epoch, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
         |  FROM rep)
         |SELECT epoch, doc_id, lang, n_tokens,
         |  off // 512 AS seq_first,
         |  CASE WHEN n_tokens <= 0 THEN off // 512
         |       ELSE (off + n_tokens - 1) // 512 END AS seq_last
         |FROM c""".stripMargin
    },

    // the x13 sqrt grid, the shared budget constant, and THREE unrolled
    // water-fill rounds — pool/active-weight as 1-row CTEs per round,
    // share_bp and give in the identical integer order of operations.
    "x29_epoch_budget" -> {
      val rounds = (1 to 3).map { i =>
        s"""p$i AS (SELECT
           |  CAST((SELECT MIN(budget) FROM s0) - SUM(alloc) AS BIGINT) AS pool,
           |  CAST(SUM(CASE WHEN alloc < cap THEN w6 END) AS BIGINT) AS w_act
           |  FROM a${i - 1}),
           |a$i AS (SELECT stratum, toks, w6, cap, budget,
           |  CAST(least(cap, alloc +
           |    CASE WHEN alloc < cap AND COALESCE((SELECT w_act FROM p$i), 0) > 0
           |    THEN (SELECT pool FROM p$i) * (w6 * 10000 // (SELECT w_act FROM p$i)) // 10000
           |    ELSE 0 END) AS BIGINT) AS alloc
           |  FROM a${i - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH t AS (SELECT lang AS stratum,
         |  CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len($toksSql) END) AS BIGINT) AS toks
         |  FROM documents GROUP BY 1),
         |s0 AS (SELECT stratum, toks,
         |    CAST(floor(sqrt(CAST(toks AS DOUBLE)) * 1000000.0) AS BIGINT) AS w6,
         |    toks * 4 AS cap,
         |    (SELECT SUM(toks) FROM t) * 35000 // 10000 AS budget
         |  FROM t WHERE toks > 0),
         |a0 AS (SELECT stratum, toks, w6, cap, budget, CAST(0 AS BIGINT) AS alloc
         |  FROM s0),
         |$rounds
         |SELECT stratum AS lang, toks, alloc AS alloc_tokens,
         |  CAST(alloc * 10000 // toks AS BIGINT) AS epochs_bp,
         |  CAST(CASE WHEN alloc = cap THEN 1 ELSE 0 END AS INT) AS capped
         |FROM a3""".stripMargin
    },

    // Mirrors TextOps.dsirWeights: same tokenization, same unigram+bigram
    // feature set, the identical 3-hex-digit md5 bucketing (t26's strpos
    // idiom widened to 4096), add-one smoothing over occupied buckets,
    // per-bucket ln truncated to DECIMAL(30,10) before the exact per-doc
    // decimal sum.
    "x30_dsir_select" -> {
      def hx(i: Int) = s"(strpos('0123456789abcdef', substr(md5(g), $i, 1)) - 1)"
      raw"""WITH d AS (
           |  SELECT doc_id, lang, string_split_regex(trim(text, ' '), '\s+') AS toks
           |  FROM documents WHERE length(trim(text, ' ')) > 0),
           |gr AS (
           |  SELECT doc_id, lang, unnest(toks) AS g FROM d
           |  UNION ALL
           |  SELECT doc_id, lang,
           |    unnest(list_transform(generate_series(1, len(toks) - 1),
           |                          i -> array_to_string(toks[i:i+1], ' '))) AS g
           |  FROM d WHERE len(toks) >= 2),
           |occ AS (SELECT doc_id, lang,
           |  ${hx(1)} * 256 + ${hx(2)} * 16 + ${hx(3)} AS bucket FROM gr),
           |cnt AS (SELECT bucket, COUNT(*) AS c_raw,
           |               COUNT(*) FILTER (WHERE lang = 'en') AS c_tgt
           |        FROM occ GROUP BY 1),
           |tot AS (SELECT CAST(SUM(c_raw) AS BIGINT) AS n_raw,
           |               CAST(SUM(c_tgt) AS BIGINT) AS n_tgt,
           |               COUNT(*) AS v FROM cnt),
           |wg AS (SELECT bucket,
           |    CAST(ln(CAST(c_tgt + 1 AS DOUBLE) / CAST(n_tgt + v AS DOUBLE))
           |       - ln(CAST(c_raw + 1 AS DOUBLE) / CAST(n_raw + v AS DOUBLE))
           |      AS DECIMAL(30,10)) AS w
           |  FROM cnt CROSS JOIN tot),
           |dw AS (SELECT occ.doc_id, COUNT(*) AS n_feats, SUM(wg.w) AS w_dec
           |       FROM occ JOIN wg USING (bucket) GROUP BY 1),
           |r AS (SELECT doc_id, n_feats, w_dec,
           |        ROW_NUMBER() OVER (ORDER BY w_dec DESC, doc_id) AS sel_rank
           |      FROM dw)
           |SELECT doc_id, n_feats, printf('%.4f', CAST(w_dec AS DOUBLE)) AS weight_r,
           |  CAST(sel_rank AS BIGINT) AS sel_rank
           |FROM r WHERE sel_rank <= 100""".stripMargin
    },

    // the t2 quality expression + the integer bottom-quartile rank drop;
    // the reported cut value derives from the dropped set AFTER the
    // integer membership decision, never the other way round.
    "t41_adaptive_quality" ->
      s"""WITH b AS (SELECT doc_id, source, text,
         |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS ntok,
         |  CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
         |       ELSE len(list_filter($toksSql, t -> t IN ($stopIn))) END AS nsw,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE)
         |            / length(text) END AS praw
         |  FROM documents),
         |q AS (SELECT doc_id, source,
         |  (least(length(text) / 500.0, 1.0)
         |   + (1.0 - least(praw * 5.0, 1.0))
         |   + least((CASE WHEN ntok = 0 THEN 0.0 ELSE CAST(nsw AS DOUBLE) / ntok END) * 4.0, 1.0)
         |  ) / 3.0 AS quality
         |  FROM b),
         |r AS (SELECT doc_id, source, quality,
         |    row_number() OVER (PARTITION BY source ORDER BY quality, doc_id) AS rk,
         |    COUNT(*) OVER (PARTITION BY source) AS n
         |  FROM q)
         |SELECT source, CAST(MIN(n) AS BIGINT) AS n_total,
         |  CAST(MIN(n) // 4 AS BIGINT) AS n_dropped,
         |  CAST(SUM(CASE WHEN rk > n // 4 THEN doc_id END) AS BIGINT) AS kept_docid_sum,
         |  MAX(CASE WHEN rk <= n // 4 THEN quality END) AS cut_q
         |FROM r GROUP BY source""".stripMargin,

    "q31_topk_ties" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |rk AS (SELECT event_type, day, y,
        |    rank() OVER (PARTITION BY event_type ORDER BY y DESC) AS rnk,
        |    dense_rank() OVER (PARTITION BY event_type ORDER BY y DESC) AS drnk,
        |    row_number() OVER (PARTITION BY event_type ORDER BY y DESC, day) AS rn
        |  FROM daily)
        |SELECT event_type, day, y, rnk, drnk, rn FROM rk WHERE rnk <= 3""".stripMargin,

    "mon15_backtest" ->
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
        |GROUP BY 1""".stripMargin,

    "x25_embargo_split" ->
      """WITH e AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM e),
        |tagged AS (SELECT event_type, cents,
        |    CASE WHEN day < d0 + (d1 - d0) * 4 // 5 - 1 THEN 'train'
        |         WHEN day > d0 + (d1 - d0) * 4 // 5 + 1 THEN 'test'
        |         ELSE 'embargo' END AS split
        |  FROM e, span)
        |SELECT split, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(cents) AS BIGINT) AS cents
        |FROM tagged GROUP BY 1, 2""".stripMargin,

    "a18_funnel" ->
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
        |LEFT JOIN p USING (user_id)""".stripMargin,

    "a19_retention" ->
      """WITH e AS (SELECT user_id,
        |       epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day FROM events),
        |ch AS (SELECT user_id, MIN(day) AS c_day FROM e GROUP BY 1),
        |x AS (SELECT DISTINCT e.user_id, c_day, day - c_day AS day_offset
        |      FROM e JOIN ch USING (user_id))
        |SELECT c_day, day_offset, COUNT(*) AS n_users
        |FROM x GROUP BY 1, 2""".stripMargin,

    // mon3/t14: the five decimal-exact moment sums + the mirrored
    // closed-form slope/intercept chain (intercept recomputes the slope
    // expression inline — same doubles, same rounding).
    "mon3_trend" ->
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
        |FROM mm""".stripMargin,

    "t14_zipf" ->
      """WITH t AS (
        |  SELECT unnest(string_split_regex(trim(text, ' '), '\s+')) AS term
        |  FROM documents),
        |c AS (SELECT term, COUNT(*) AS n_occ FROM t WHERE term <> '' GROUP BY 1),
        |v AS (SELECT term, n_occ,
        |        row_number() OVER (ORDER BY n_occ DESC, term) - 1 AS vocab_id
        |      FROM c QUALIFY vocab_id < 1000),
        |p AS (SELECT ln(CAST(vocab_id AS DOUBLE) + CAST('1.0' AS DOUBLE)) AS x,
        |             ln(CAST(n_occ AS DOUBLE)) AS y FROM v),
        |mm AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        |  FROM p)
        |SELECT n AS n_terms,
        |  printf('%.4f', (n * sxy - sx * sy) / (n * sxx - sx * sx)) AS slope_r,
        |  printf('%.4f', (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n) AS icept_r
        |FROM mm""".stripMargin,

    // every event falls in exactly two 10-min/5-min hopping windows; window
    // starts computed in integer epoch-microseconds (Spark's origin is the
    // epoch; both engines floor identically)
    "a10_sliding_window" ->
      """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS t, value FROM events),
        |x AS (SELECT value, t, unnest([(t // 300000000) * 300000000,
        |                               (t // 300000000) * 300000000 - 300000000]) AS ws FROM e)
        |SELECT ws AS w_start_us, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM x WHERE t >= ws AND t < ws + 600000000 GROUP BY ws""".stripMargin,

    // session closes when the gap reaches 30 min (Spark merges only strictly
    // overlapping [t, t+gap) intervals → >= starts a new session)
    "a11_session_window" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
        |f AS (SELECT user_id, t,
        |        CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w >= 1800000000
        |             THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |g AS (SELECT user_id, t, sum(ns) OVER (PARTITION BY user_id ORDER BY t
        |                                       ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        |SELECT user_id, min(t) AS session_start_us, COUNT(*) AS n_events
        |FROM g GROUP BY user_id, sid""".stripMargin,

    "o8_set_ops" ->
      """WITH w1 AS (SELECT DISTINCT user_id FROM events WHERE ts < TIMESTAMP '2024-01-08'),
        |w2 AS (SELECT DISTINCT user_id FROM events
        |       WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15')
        |SELECT user_id, 'only_week1' AS set_op FROM (SELECT user_id FROM w1 EXCEPT SELECT user_id FROM w2)
        |UNION ALL
        |SELECT user_id, 'both_weeks' AS set_op FROM (SELECT user_id FROM w1 INTERSECT SELECT user_id FROM w2)""".stripMargin,

    "o1_topk" ->
      """SELECT event_id, event_type, value, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |FROM events ORDER BY ts DESC, event_id DESC LIMIT 100""".stripMargin,

    "o3_split_bounds" ->
      """WITH m AS (SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute
        |           FROM events GROUP BY 1),
        |idx AS (SELECT tx_minute, row_number() OVER (ORDER BY tx_minute) AS rn,
        |               count(*) OVER () AS n FROM m)
        |SELECT 'train' AS split_name, count(*) AS len, min(tx_minute) AS start_minute,
        |       max(tx_minute) AS end_minute FROM idx WHERE rn <= n - 25
        |UNION ALL SELECT 'validation_1', count(*), min(tx_minute), max(tx_minute) FROM idx WHERE rn <= n - 20
        |UNION ALL SELECT 'validation_2', count(*), min(tx_minute), max(tx_minute) FROM idx WHERE rn <= n - 15
        |UNION ALL SELECT 'validation_3', count(*), min(tx_minute), max(tx_minute) FROM idx WHERE rn <= n - 10
        |UNION ALL SELECT 'validation_4', count(*), min(tx_minute), max(tx_minute) FROM idx WHERE rn <= n - 5
        |UNION ALL SELECT 'test_inputs', count(*), min(tx_minute), max(tx_minute) FROM idx WHERE rn <= n - 5
        |UNION ALL SELECT 'test_targets', count(*), min(tx_minute), max(tx_minute) FROM idx WHERE rn > n - 5""".stripMargin,

    "j1_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_totalprice > CAST('300000.0' AS DOUBLE))""".stripMargin,

    "j2_positional_align" ->
      """WITH t AS (SELECT row_number() OVER (ORDER BY ts, event_id) AS pos, value AS target
        |           FROM events WHERE user_id = 1),
        |p AS (SELECT row_number() OVER (ORDER BY ts, event_id) AS pos, value AS prediction
        |      FROM events WHERE user_id = 2)
        |SELECT t.pos, target, prediction, (target - prediction) * (target - prediction) AS sq_err
        |FROM t JOIN p ON t.pos = p.pos""".stripMargin,

    "q30_parts_suppliers" ->
      """SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_suppkey NOT IN
        |  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2""".stripMargin,

    // Deliberately the naive inequality join + per-click rank (DuckDB
    // plans it itself) — independent of the engine's union-window as-of;
    // the (err_t_us DESC, err_event_id DESC) rank restates the backward
    // visibility + highest-tiebreak contract.
    "j12_asof_tolerance" ->
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
        |FROM m WHERE rn = 1""".stripMargin,

    "j4_asof_join" ->
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
        |FROM c ASOF JOIN e ON c.user_id = e.user_id AND c.t_us >= e.err_t_us""".stripMargin,

    // The strongest oracle form for j13: DuckDB's own ASOF joins in both
    // directions + the identical pick rule — fully independent of the
    // engine's union-window construction.
    "j13_nearest_asof" ->
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
        |FROM j WHERE b_id IS NOT NULL OR f_id IS NOT NULL""".stripMargin,

    "j4b_asof_forward" ->
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
        |FROM c ASOF JOIN e ON c.user_id = e.user_id AND c.t_us <= e.err_t_us""".stripMargin,

    "j5_region_revenue" ->
      """SELECT r_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "j7_skew_join" ->
      """SELECT p_brand, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,

    "j8_bucketed_join" ->
      """SELECT c_nationkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey""".stripMargin,

    "q4_semi_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority""".stripMargin,

    // Deliberately the NAIVE correlated scalar subquery (DuckDB
    // decorrelates it itself) — independent of the engine's window-min
    // plan; ties kept by the equality predicate on both sides.
    "q27_min_cost_supplier" ->
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
        |              WHERE e2.l_partkey = p_partkey)""".stripMargin,

    // Deliberately Q21's NAIVE EXISTS + NOT EXISTS pair over the
    // (order, supplier) last-ship relation — independent of the engine's
    // single-window decorrelation. Unique-strict-max equivalence: "no other
    // supplier shipped at or after me" ⟺ "I am the unique max"; "another
    // supplier exists" ⟺ n_supp > 1.
    "q28_last_shipper" ->
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
        |GROUP BY s_name""".stripMargin,

    // Flat full-corpus join-agg — the engine must prove its
    // base-materialize + delta-join + partial-merge path equals recompute.
    "o41_view_delta_join" ->
      """SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2""".stripMargin,

    // Deliberately the naive correlated scalar subqueries (DuckDB plans its
    // own decorrelation) — strictly-before semantics stated as ts <
    // o_orderdate, independent of the engine's merged-timeline window.
    "j11_pit_features" ->
      """SELECT o_orderkey,
        |  (SELECT COUNT(*) FROM events e
        |   WHERE e.user_id % 97 = o.o_custkey % 97
        |     AND CAST(e.ts AS TIMESTAMP) < o.o_orderdate) AS n_prior,
        |  (SELECT COALESCE(CAST(SUM(CAST(floor(e.value * 100) AS BIGINT))
        |                        AS BIGINT), 0)
        |   FROM events e
        |   WHERE e.user_id % 97 = o.o_custkey % 97
        |     AND CAST(e.ts AS TIMESTAMP) < o.o_orderdate) AS cents_prior
        |FROM orders o""".stripMargin,

    // One flat window rank — independent of the engine's salted two-stage
    // top-k (the salt is plan-only; the md5 rank order is the contract).
    "x21_source_cap" ->
      """SELECT doc_id, source, rk FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 40""".stripMargin,

    // The s28 seed unroll (same four rounds, same argmax tie-breaks)
    // extended point-wise: own cluster = rank-1 distance, nearest other
    // = rank-2; the silhouette numerator/denominator stay BIGINT and the
    // squared-distance sums route through DECIMAL(38,0) on both sides.
    // Self-diagnosing columns (r11): per-round seed_id + picked d²
    // mirrored from the engine so a gate mismatch localizes instantly.
    "s29_silhouette" ->
      """WITH v AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS q
        |  FROM embeddings),
        |u AS (SELECT vec_id, unnest(q) AS x, generate_subscripts(q, 1) AS di FROM v),
        |s0 AS (SELECT min(vec_id) AS id FROM v),
        |d0 AS (SELECT a.vec_id, CAST(SUM((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2
        |       FROM u a JOIN u b ON a.di = b.di AND b.vec_id = (SELECT id FROM s0)
        |       GROUP BY 1),
        |s1 AS (SELECT vec_id AS id, d2 FROM d0 ORDER BY d2 DESC, vec_id LIMIT 1),
        |d1 AS (SELECT a.vec_id, CAST(SUM((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2
        |       FROM u a JOIN u b ON a.di = b.di AND b.vec_id = (SELECT id FROM s1)
        |       GROUP BY 1),
        |m1 AS (SELECT d0.vec_id, least(d0.d2, d1.d2) AS d2
        |       FROM d0 JOIN d1 USING (vec_id)),
        |s2 AS (SELECT vec_id AS id, d2 FROM m1 ORDER BY d2 DESC, vec_id LIMIT 1),
        |d2r AS (SELECT a.vec_id, CAST(SUM((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2
        |        FROM u a JOIN u b ON a.di = b.di AND b.vec_id = (SELECT id FROM s2)
        |        GROUP BY 1),
        |m2 AS (SELECT m1.vec_id, least(m1.d2, d2r.d2) AS d2
        |       FROM m1 JOIN d2r USING (vec_id)),
        |s3 AS (SELECT vec_id AS id, d2 FROM m2 ORDER BY d2 DESC, vec_id LIMIT 1),
        |d3 AS (SELECT a.vec_id, CAST(SUM((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2
        |       FROM u a JOIN u b ON a.di = b.di AND b.vec_id = (SELECT id FROM s3)
        |       GROUP BY 1),
        |alld AS (SELECT vec_id, 0 AS round, d2 FROM d0
        |  UNION ALL SELECT vec_id, 1, d2 FROM d1
        |  UNION ALL SELECT vec_id, 2, d2 FROM d2r
        |  UNION ALL SELECT vec_id, 3, d2 FROM d3),
        |rk AS (SELECT vec_id, round, d2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, round) AS rn
        |  FROM alld),
        |pt AS (SELECT a.vec_id, a.round AS cluster, a.d2 AS a2, b.d2 AS b2
        |  FROM rk a JOIN rk b ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2),
        |sil AS (SELECT cluster, a2, b2,
        |    (b2 - a2) * 10000 // greatest(b2, 1) AS s_bp FROM pt),
        |seeds AS (
        |  SELECT 0 AS cluster, (SELECT id FROM s0) AS seed_id,
        |         CAST(0 AS BIGINT) AS seed_d2
        |  UNION ALL SELECT 1, (SELECT id FROM s1), (SELECT d2 FROM s1)
        |  UNION ALL SELECT 2, (SELECT id FROM s2), (SELECT d2 FROM s2)
        |  UNION ALL SELECT 3, (SELECT id FROM s3), (SELECT d2 FROM s3))
        |SELECT cluster, COUNT(*) AS n,
        |  CAST(SUM(s_bp) AS BIGINT) AS sum_s_bp,
        |  CAST(CAST(SUM(CAST(a2 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS sum_a2,
        |  CAST(CAST(SUM(CAST(b2 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS sum_b2,
        |  ANY_VALUE(seed_id) AS seed_id, ANY_VALUE(seed_d2) AS seed_d2
        |FROM sil JOIN seeds USING (cluster) GROUP BY cluster""".stripMargin,

    // Same unigram LM restated relationally; the per-occurrence ln is
    // rounded to DECIMAL(30,10) BEFORE the sum on both engines (the t27
    // order-independence contract), then one mirrored double division.
    "t35_lm_quality" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text, ' '), '\s+')) AS tok
        |  FROM documents WHERE trim(text, ' ') <> ''),
        |freq AS (SELECT tok, COUNT(*) AS nf FROM tok GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n_total FROM tok)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  printf('%.4f',
        |    CAST(SUM(CAST(ln(CAST(nf AS DOUBLE) / CAST(n_total AS DOUBLE))
        |                  AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*)) AS mean_logp_r
        |FROM tok JOIN freq USING (tok), tot
        |GROUP BY doc_id""".stripMargin,

    // One flat global sort — independent of the engine's two-pass
    // range-partitioned ranker (the ranker is plan-only; the md5 order is
    // the contract).
    "x22_epoch_shuffle" ->
      """SELECT epoch, doc_id,
        |  row_number() OVER (ORDER BY epoch,
        |    md5(epoch || ':' || CAST(doc_id AS VARCHAR)), doc_id) AS pos
        |FROM (SELECT doc_id, unnest([0, 1]) AS epoch FROM documents)""".stripMargin,

    // The codec round trip is identity on PCM16, so the oracle replays the
    // decimation relationally: the same event_id order (row_number), the
    // same 4-sample blocks, the same floor-div means, tail dropped.
    "m14_wav_resample" ->
      """WITH s AS (SELECT user_id, event_id,
        |    (event_id % 201) * 50 AS amp FROM events),
        |o AS (SELECT user_id, amp,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS rn
        |  FROM s),
        |b AS (SELECT user_id, rn // 4 AS blk, SUM(amp) AS bs, COUNT(*) AS bc
        |  FROM o GROUP BY 1, 2),
        |f AS (SELECT user_id, blk, bs // 4 AS outv FROM b WHERE bc = 4)
        |SELECT user_id AS content_id, COUNT(*) AS n_out,
        |  CAST(SUM(outv) AS BIGINT) AS sum_out,
        |  CAST(SUM(outv * ((blk % 9) + 1)) AS BIGINT) AS wsum
        |FROM f GROUP BY 1""".stripMargin,

    // The published table must equal the clean aggregate — the poisoned
    // gen-2 candidate never surfaces (a null-keyed or negative row here
    // means the manifest resolved to the failed generation).
    "o42_wap_publish" ->
      """SELECT event_type,
        |  strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2""".stripMargin,

    "o43_partition_prune" ->
      """WITH e AS (SELECT event_type,
        |    strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
        |    value FROM events)
        |SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM e WHERE day = (SELECT MIN(day) FROM e)
        |GROUP BY 1""".stripMargin,

    // c_nationkey is BIGINT and n_regionkey INT in the parquet — both
    // sides align the ladder's geo key to BIGINT.
    "x24_k_anonymity" ->
      """SELECT 0 AS level, CAST(c_nationkey AS BIGINT) AS qi_geo,
        |  c_mktsegment AS qi_seg, COUNT(*) AS n,
        |  CASE WHEN COUNT(*) < 5 THEN 1 ELSE 0 END AS violates
        |FROM customer GROUP BY 2, 3
        |UNION ALL
        |SELECT 1, CAST(n_regionkey AS BIGINT), c_mktsegment, COUNT(*),
        |  CASE WHEN COUNT(*) < 5 THEN 1 ELSE 0 END
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 2, 3""".stripMargin,

    // One flat per-class rank + the naive min-class scalar subquery.
    "x23_class_balanced_sample" ->
      """WITH r AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, lang, rk FROM r
        |WHERE rk <= (SELECT MIN(n) FROM
        |  (SELECT COUNT(*) AS n FROM documents GROUP BY lang))""".stripMargin,

    // Same intersection + exact-missing-mass identity, same per-term
    // DECIMAL(30,10) rounding, same final double chain.
    "t36_source_jsd" ->
      """WITH tok AS (SELECT source,
        |    unnest(string_split_regex(trim(text, ' '), '\s+')) AS tok
        |  FROM documents WHERE trim(text, ' ') <> ''),
        |tc AS (SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM tc GROUP BY 1),
        |st AS (SELECT tc.source, tok, c, n FROM tc JOIN tot USING (source)),
        |pr AS (SELECT a.source AS sa, b.source AS sb,
        |    CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE) AS pa,
        |    CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE) AS pb,
        |    a.c AS ca, a.n AS na, b.c AS cb, b.n AS nb
        |  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source),
        |ag AS (SELECT sa, sb, COUNT(*) AS n_common,
        |    CAST(SUM(CAST(pa * ln(CAST('2.0' AS DOUBLE) * pa / (pa + pb))
        |            + pb * ln(CAST('2.0' AS DOUBLE) * pb / (pa + pb))
        |          AS DECIMAL(30,10))) AS DOUBLE) AS t_sum,
        |    CAST(SUM(ca) AS BIGINT) AS ca_int, MIN(na) AS na,
        |    CAST(SUM(cb) AS BIGINT) AS cb_int, MIN(nb) AS nb
        |  FROM pr GROUP BY 1, 2)
        |SELECT sa, sb, n_common,
        |  printf('%.6f', (t_sum + ln(CAST('2.0' AS DOUBLE)) *
        |    (CAST(na - ca_int AS DOUBLE) / CAST(na AS DOUBLE)
        |     + CAST(nb - cb_int AS DOUBLE) / CAST(nb AS DOUBLE)))
        |    / CAST('2.0' AS DOUBLE)) AS jsd_r
        |FROM ag""".stripMargin,

    "t37_readability" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text, ' '), '\s+')) AS BIGINT) AS words,
        |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS sentences,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT) AS syllables,
        |  printf('%.4f', CAST('206.835' AS DOUBLE)
        |    - CAST('1.015' AS DOUBLE)
        |      * (CAST(len(regexp_split_to_array(trim(text, ' '), '\s+')) AS DOUBLE)
        |         / CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE))
        |    - CAST('84.6' AS DOUBLE)
        |      * (CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS DOUBLE)
        |         / CAST(len(regexp_split_to_array(trim(text, ' '), '\s+')) AS DOUBLE))
        |  ) AS flesch_r
        |FROM documents WHERE trim(text, ' ') <> ''""".stripMargin,

    "t34_calibration" ->
      """WITH c AS (SELECT
        |    (length(lower(text)) -
        |     length(regexp_replace(lower(text), '[aeiou]', '', 'g')))
        |      * 10000 // greatest(length(lower(text)), 1) AS conf_bp,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents)
        |SELECT conf_bp // 500 AS bin, COUNT(*) AS n,
        |  CAST(SUM(y) AS BIGINT) AS n_pos,
        |  CAST(SUM(conf_bp) AS BIGINT) AS sum_conf_bp,
        |  CAST(abs(SUM(y) * 10000 - SUM(conf_bp)) AS BIGINT) AS gap_num
        |FROM c GROUP BY 1""".stripMargin,

    "q5_local_supplier" ->
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
        |GROUP BY n_name""".stripMargin,

    "q8_exists" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l
        |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin,

    // Same tri-valued NOT IN semantics from first principles — DuckDB plans
    // its own mark join; both engines must drop ALL rows in 'null_list' and
    // the NULL probes in 'null_probe'.
    "q9_not_in" ->
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
        |GROUP BY c_mktsegment""".stripMargin,

    // Same correlated form — DuckDB de-correlates it with its own
    // unnesting; the integer threshold keeps membership engine-identical.
    "q7_small_qty" ->
      """SELECT l_returnflag, COUNT(*) AS n_small,
        |  printf('%.4f',
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)) AS rev_r
        |FROM lineitem l1
        |WHERE CAST(l1.l_quantity AS BIGINT) * 5 *
        |      (SELECT COUNT(*) FROM lineitem l2
        |       WHERE l2.l_partkey = l1.l_partkey)
        |    < (SELECT SUM(CAST(l2.l_quantity AS BIGINT)) FROM lineitem l2
        |       WHERE l2.l_partkey = l1.l_partkey)
        |GROUP BY l_returnflag""".stripMargin,

    "a12_rollup" ->
      """SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY ROLLUP (event_type, strftime(date_trunc('day', ts), '%Y-%m-%d'))""".stripMargin,

    // Spark's grouping_id() packs grouping(col_i) bits MSB-first:
    // gid = grouping(event_type)*2 + grouping(day).
    "a13_cube" ->
      """SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  CAST(GROUPING(event_type) * 2
        |       + GROUPING(strftime(date_trunc('day', ts), '%Y-%m-%d')) AS INTEGER) AS gid,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY CUBE (event_type, strftime(date_trunc('day', ts), '%Y-%m-%d'))""".stripMargin,

    "d1_dedup_exact" ->
      s"""SELECT $fpSql AS fp, min(doc_id) AS doc_id, count(*) AS n_copies
         |FROM documents GROUP BY 1""".stripMargin,

    // Same normalize chain from DuckDB's regex primitives over the same
    // synthesized messy union.
    "d15_canonical_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000, upper(regexp_replace(text, ' ', ' , ', 'g'))
        |  FROM documents WHERE doc_id % 5 = 0),
        |c AS (SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'),
        |      '^ +| +$', '', 'g') AS canon
        |  FROM u)
        |SELECT md5(canon) AS fp, min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM c GROUP BY 1""".stripMargin,

    // annOracle's candidate relation at rank ≤ 20 + the t1 token count +
    // a running-sum window, prefix-admitted at 256.
    "x16_prompt_pack" ->
      raw"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm FROM v
        |      WHERE list_inner_product(ve, ve) > 0),
        |cand AS (SELECT query_id, neighbor_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |           list_inner_product(q.ve, c.ve) / (q.nrm * c.nrm) DESC,
        |           c.vec_id) AS rank
        |  FROM n q JOIN n c ON q.vec_id < 3 AND q.vec_id <> c.vec_id)
        |  WHERE rank <= 20),
        |tk AS (SELECT doc_id AS neighbor_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
        |      AS n_tok
        |  FROM documents),
        |packed AS (SELECT query_id, rank, cand.neighbor_id, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY query_id ORDER BY rank) AS cum_tok
        |  FROM cand JOIN tk ON tk.neighbor_id = cand.neighbor_id)
        |SELECT query_id, rank, neighbor_id, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
        |FROM packed WHERE cum_tok <= 256""".stripMargin,

    "t26_feature_hash" ->
      raw"""WITH t AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text, ' '), '\s+')) AS t
        |  FROM documents WHERE length(trim(text, ' ')) > 0),
        |h AS (SELECT doc_id,
        |    CAST(strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1 AS BIGINT) AS bucket,
        |    CASE WHEN (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1) % 2 = 0
        |         THEN 1 ELSE -1 END AS sgn
        |  FROM t)
        |SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS v
        |FROM h GROUP BY 1, 2""".stripMargin,

    "x15_target_encode" ->
      """WITH f AS (SELECT event_type, user_id % 5 AS fold, COUNT(*) AS n_f,
        |    SUM(CAST(value AS DECIMAL(30,4))) AS s_f
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(SUM(n_f) AS BIGINT) AS n_t, SUM(s_f) AS s_t
        |      FROM f GROUP BY 1)
        |SELECT f.event_type, f.fold, f.n_f,
        |  printf('%.6f', CAST(t.s_t - f.s_f AS DOUBLE)
        |                 / CAST(t.n_t - f.n_f AS DOUBLE)) AS oof_r
        |FROM f JOIN t ON f.event_type = t.event_type
        |WHERE t.n_t > f.n_f""".stripMargin,

    "d2_minhash_lsh" -> minhashOracle,

    // Full-corpus banding restricted to pairs with an incoming side: the
    // incremental path must find exactly what a from-scratch run finds
    // about the new batch.
    "d16_incremental_dedup" ->
      (minhashOracle + "\nWHERE p.id_a % 11 = 0 OR p.id_b % 11 = 0"),

    "d10_lsh_recall" -> lshRecallOracle,
    "d19_cap_recall" -> capRecallOracle,

    // Mirrors DedupOps.bloomChunkDedup: same chunks, the identical salted
    // 4-hex-digit md5 positions (t26's strpos idiom widened to 2¹⁶), the
    // all-k-set hit rule, exact containment beside the bloom decision.
    "d21_bloom_dedup" -> {
      def posSql(i: Int) = {
        def hx(n: Int) =
          s"(strpos('0123456789abcdef', substr(md5('$i' || chunk), $n, 1)) - 1)"
        s"(${hx(1)} * 4096 + ${hx(2)} * 256 + ${hx(3)} * 16 + ${hx(4)})"
      }
      val salts = (0 until 3).map(posSql).mkString(", ")
      raw"""WITH d AS (
           |  SELECT doc_id, string_split_regex(trim(text, ' '), '\s+') AS toks
           |  FROM documents WHERE length(trim(text, ' ')) > 0),
           |ch AS (
           |  SELECT doc_id, i AS chunk_idx,
           |         array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS chunk
           |  FROM (SELECT doc_id, toks,
           |               unnest(generate_series(0, (len(toks) + 7) // 8 - 1)) AS i
           |        FROM d)),
           |hist AS (SELECT DISTINCT chunk FROM ch WHERE doc_id % 5 <> 0),
           |bits AS (SELECT DISTINCT pos FROM (
           |         SELECT unnest([$salts]) AS pos FROM hist)),
           |nc AS (SELECT doc_id, chunk_idx, chunk FROM ch WHERE doc_id % 5 = 0),
           |sp AS (SELECT doc_id, chunk_idx, unnest([$salts]) AS pos FROM nc),
           |bh AS (SELECT doc_id, chunk_idx FROM sp JOIN bits USING (pos)
           |       GROUP BY 1, 2 HAVING COUNT(*) = 3)
           |SELECT nc.doc_id, COUNT(*) AS n_chunks,
           |  CAST(SUM(CASE WHEN bh.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           |  CAST(SUM(CASE WHEN h2.chunk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true_hits,
           |  CAST(CASE WHEN SUM(CASE WHEN bh.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 2
           |                 >= COUNT(*) THEN 1 ELSE 0 END AS INT) AS dropped
           |FROM nc
           |LEFT JOIN bh ON nc.doc_id = bh.doc_id AND nc.chunk_idx = bh.chunk_idx
           |LEFT JOIN hist h2 ON nc.chunk = h2.chunk
           |GROUP BY 1""".stripMargin
    },

    // Mirrors DedupOps.dupSpans: d8's gram/dup relations (1-based starts —
    // span lengths and merge structure are position-origin invariant), the
    // same islands merge (new island iff start > running-max-end + 1, so
    // adjacent covers fuse), zeros riding along for clean docs.
    "d22_dup_spans" ->
      raw"""WITH d AS (
           |  SELECT doc_id, string_split_regex(trim(text, ' '), '\s+') AS toks
           |  FROM documents WHERE length(trim(text, ' ')) > 0),
           |occ AS (
           |  SELECT doc_id, unnest(generate_series(1, len(toks) - 7)) AS i, toks
           |  FROM d WHERE len(toks) >= 8),
           |og AS (SELECT doc_id, i, array_to_string(toks[i:i+7], ' ') AS gram FROM occ),
           |dup AS (SELECT gram FROM (
           |        SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM og GROUP BY 1)
           |        WHERE nd >= 2),
           |iv AS (SELECT DISTINCT doc_id, i AS st, i + 7 AS en
           |       FROM og JOIN dup USING (gram)),
           |fl AS (SELECT doc_id, st, en,
           |    CASE WHEN max(en) OVER w IS NULL OR st > max(en) OVER w + 1
           |         THEN 1 ELSE 0 END AS opens
           |  FROM iv WINDOW w AS (PARTITION BY doc_id ORDER BY st, en
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
           |isl AS (SELECT doc_id, st, en,
           |    SUM(opens) OVER (PARTITION BY doc_id ORDER BY st, en
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           |  FROM fl),
           |sp AS (SELECT doc_id, island, MAX(en) - MIN(st) + 1 AS span_len
           |       FROM isl GROUP BY 1, 2),
           |pd AS (SELECT doc_id, COUNT(*) AS n_spans, SUM(span_len) AS dup_tokens,
           |              MAX(span_len) AS longest_span FROM sp GROUP BY 1)
           |SELECT d.doc_id, len(d.toks) AS n_tokens,
           |  CAST(COALESCE(pd.n_spans, 0) AS BIGINT) AS n_spans,
           |  CAST(COALESCE(pd.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           |  CAST(COALESCE(pd.longest_span, 0) AS BIGINT) AS longest_span,
           |  CAST(COALESCE(pd.dup_tokens, 0) * 10000 // len(d.toks) AS BIGINT)
           |    AS dup_bp
           |FROM d LEFT JOIN pd USING (doc_id)""".stripMargin,

    // Mirrors DedupOps.chunkDedupFirst: same tokenization, 0-based 8-token
    // chunks (DuckDB's 1-based inclusive slice ↔ Spark's 1-based slice), the
    // identical integer first-occurrence key, ordered reassembly.
    "d20_chunk_dedup_first" ->
      raw"""WITH d AS (
           |  SELECT doc_id, string_split_regex(trim(text, ' '), '\s+') AS toks
           |  FROM documents WHERE length(trim(text, ' ')) > 0),
           |ch AS (
           |  SELECT doc_id, i AS chunk_idx,
           |         array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS chunk
           |  FROM (SELECT doc_id, toks,
           |               unnest(generate_series(0, (len(toks) + 7) // 8 - 1)) AS i
           |        FROM d)),
           |f AS (SELECT chunk, MIN(doc_id * 1000000 + chunk_idx) AS first_key
           |      FROM ch GROUP BY 1),
           |k AS (SELECT ch.doc_id, COUNT(*) AS n_kept,
           |             array_to_string(list(ch.chunk ORDER BY ch.chunk_idx), ' ') AS rebuilt
           |      FROM ch JOIN f USING (chunk)
           |      WHERE ch.doc_id * 1000000 + ch.chunk_idx = f.first_key
           |      GROUP BY 1)
           |SELECT d.doc_id, CAST((len(d.toks) + 7) // 8 AS BIGINT) AS n_chunks,
           |  COALESCE(k.n_kept, 0) AS n_kept,
           |  md5(COALESCE(k.rebuilt, '')) AS dedup_fp
           |FROM d LEFT JOIN k USING (doc_id)""".stripMargin,
    "d11_setsim_join" -> setSimJoinOracle,
    "g1_pagerank" -> pageRankOracle,
    "g2_triangles" -> triangleOracle,

    // Same knn undirected closure as g2-g5; exact integer L_c/D_c/m,
    // identical double expression order behind the 6-decimal rendering.
    "g8_modularity" ->
      s"""WITH $knnUndirectedCtes,
         |lab AS (SELECT n.vec_id AS id, CAST(e2.label AS BIGINT) AS label
         |        FROM n JOIN embeddings e2 ON e2.vec_id = n.vec_id),
         |mm AS (SELECT COUNT(*) AS m FROM und),
         |lc AS (SELECT la.label, COUNT(*) AS l_c
         |       FROM und u JOIN lab la ON la.id = u.a
         |       JOIN lab lb2 ON lb2.id = u.b
         |       WHERE la.label = lb2.label GROUP BY 1),
         |dc AS (SELECT lab.label, COUNT(*) AS n_nodes,
         |       CAST(SUM(COALESCE(dg.deg, 0)) AS BIGINT) AS d_c
         |       FROM lab LEFT JOIN dg ON dg.id = lab.id GROUP BY 1)
         |SELECT d.label, d.n_nodes,
         |  CAST(COALESCE(lc.l_c, 0) AS BIGINT) AS l_c, d.d_c,
         |  printf('%.6f',
         |    ((CAST('4.0' AS DOUBLE) * (SELECT m FROM mm)) * COALESCE(lc.l_c, 0)
         |     - d.d_c * d.d_c)
         |    / ((CAST('4.0' AS DOUBLE) * (SELECT m FROM mm)) * (SELECT m FROM mm))) AS q_r
         |FROM dc d LEFT JOIN lc ON lc.label = d.label""".stripMargin,
    "g3_kcore" -> kCoreOracle,
    "g4_bfs_dist" -> bfsOracle,
    "g5_linkpred" -> linkPredOracle,
    "g6_label_prop" -> labelPropOracle,
    "g7_hits" -> hitsOracle,

    // Same frame, same explicit element picks and the same (a+b)/2 —
    // deliberately NOT DuckDB's median()/quantile_cont (different op
    // order on even frames).
    "mon13_rolling_median" ->
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
        |FROM f""".stripMargin,

    // Exact KS by cross-multiplication over the pooled value grid — the
    // naive relational statement; no windowed corpus, no doubles.
    // Mirrors mon16: same hourly max/threshold, the same lag-start +
    // cumsum islands, the same left-join zeros.
    "mon16_alarm_episodes" ->
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
        |FROM g LEFT JOIN a USING (event_type)""".stripMargin,

    "mon14_ks_drift" ->
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
        |GROUP BY 1""".stripMargin,

    // The streaming replay must equal the batch closed form exactly.
    "e2e_hysteresis" ->
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
        |FROM tr GROUP BY 1""".stripMargin,

    // Same closed-form state machine: last crossing marker carried
    // forward, entries = 0→1 transitions.
    "mon12_hysteresis" ->
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
        |FROM tr GROUP BY 1""".stripMargin,
    "x14_cluster_split" -> clusterSplitOracle,
    "c8_image_cluster_split" -> imageClusterSplitOracle,
    "c9_dedup_ladder" -> dedupLadderOracle,

    // DuckDB's own recursive CTE over the same edge relation — path
    // enumeration bounded by dist < 4, collapsed by MIN.
    "q10_recursive_bfs" ->
      s"""WITH RECURSIVE $knnUndirectedCtes,
         |seeds AS (SELECT id FROM spine WHERE id % 97 = 0),
         |walk(id, dist) AS (
         |  SELECT id, 0 FROM seeds
         |  UNION ALL
         |  SELECT n.nb, w.dist + 1 FROM walk w JOIN nbr n ON n.id = w.id
         |  WHERE w.dist < 4)
         |SELECT id AS vec_id, CAST(MIN(dist) AS BIGINT) AS dist
         |FROM walk GROUP BY 1""".stripMargin,

    // DuckDB's own LATERAL evaluation of the identical query — both
    // engines implement the published SQL semantics (per-outer-row LIMIT,
    // inner-join vanishing for order-less customers).
    "q11_lateral" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY') c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""".stripMargin,

    // PIVOT restated as conditional aggregation — the canonical long→wide
    // identity; empty cells NULL on both sides.
    "q13_pivot" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F'
        |                THEN CAST(l_quantity AS DECIMAL(30,2)) END) AS DOUBLE) AS qty_f,
        |  CAST(SUM(CASE WHEN l_linestatus = 'O'
        |                THEN CAST(l_quantity AS DECIMAL(30,2)) END) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY 1""".stripMargin,

    // UNPIVOT semantics stated from first principles: a 4-way UNION ALL
    // with the EXCLUDE NULLS default made explicit.
    "q12_unpivot" ->
      """WITH u AS (
        |  SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
        |SELECT l_returnflag, metric, COUNT(*) AS n,
        |  CAST(SUM(CAST(val AS DECIMAL(30,4))) AS DOUBLE) AS sum_val
        |FROM u WHERE val IS NOT NULL GROUP BY 1, 2""".stripMargin,

    // Same exact moment accumulation, same sample (n−1) divisor, same
    // double formula in the same op order.
    // t31's counters (raw text, minWords 10) + x20's gram/ladder CTEs +
    // x2's exclusive-prefix-sum packing, composed in the same order the
    // engine composes them.
    "c5_pretrain_prep" -> {
      val hexVal = (1 to 8).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
        .mkString(" + ")
      val ladder = graft.ops.Sampling.splitBoundaries(splitFractions)
        .map { case (name, bound) => s"WHEN ($hexVal) < $bound THEN '$name'" }
        .mkString(" ")
      raw"""WITH t AS (
           |  SELECT doc_id, string_split_regex(trim(text, ' '), '\s+') AS toks
           |  FROM documents),
           |sh AS (
           |  SELECT DISTINCT doc_id,
           |    unnest(CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
           |           ELSE list_transform(generate_series(1, len(toks) - 3),
           |                               i -> array_to_string(toks[i:i+3], ' ')) END) AS gram
           |  FROM t),
           |bench AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 17 = 0),
           |cont AS (SELECT DISTINCT doc_id FROM sh JOIN bench USING (gram)
           |         WHERE doc_id % 17 <> 0),
           |gc AS (SELECT doc_id, text AS tx,
           |    list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w <> '') AS ws,
           |    string_split(text, chr(10)) AS ls
           |  FROM documents WHERE doc_id % 17 <> 0),
           |gn AS (SELECT doc_id,
           |    CAST(len(ws) AS BIGINT) AS n_words,
           |    CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT) AS sum_len,
           |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
           |    CAST(length(tx) - length(replace(tx, '#', '')) AS BIGINT) AS n_hash,
           |    CAST((length(tx) - length(replace(tx, '...', ''))) // 3 AS BIGINT) AS n_ell,
           |    CAST(len(ls) AS BIGINT) AS n_lines,
           |    CAST(len(list_filter(ls, l -> l LIKE '- %' OR l LIKE '* %')) AS BIGINT) AS n_bullet,
           |    CAST(len(list_filter(ls, l -> l LIKE '%...')) AS BIGINT) AS n_ell_lines,
           |    CAST(list_contains(ws, 'the') AS INT) + CAST(list_contains(ws, 'be') AS INT)
           |      + CAST(list_contains(ws, 'to') AS INT) + CAST(list_contains(ws, 'of') AS INT)
           |      + CAST(list_contains(ws, 'and') AS INT) + CAST(list_contains(ws, 'that') AS INT)
           |      + CAST(list_contains(ws, 'have') AS INT) + CAST(list_contains(ws, 'with') AS INT)
           |      AS n_stop
           |  FROM gc),
           |k AS (SELECT doc_id FROM gn
           |  WHERE n_words >= 10 AND n_words <= 100000
           |    AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
           |    AND (n_hash + n_ell) * 10 <= n_words
           |    AND n_bullet * 10 <= n_lines * 9
           |    AND n_ell_lines * 10 <= n_lines * 3
           |    AND n_alpha * 10 >= n_words * 8
           |    AND n_stop >= 1),
           |sp AS (SELECT doc_id, CASE $ladder END AS split FROM documents
           |       WHERE doc_id % 17 <> 0),
           |tr AS (SELECT sp.doc_id,
           |    CAST(cont.doc_id IS NOT NULL AS INT) AS is_cont
           |  FROM sp LEFT JOIN cont ON cont.doc_id = sp.doc_id
           |  WHERE sp.split = 'train' OR cont.doc_id IS NOT NULL),
           |sel AS (SELECT tr.doc_id, tr.is_cont,
           |    CASE WHEN length(trim(d2.text)) = 0 THEN 0
           |         ELSE len(regexp_split_to_array(trim(d2.text), '\s+')) END AS n_tokens
           |  FROM tr JOIN k USING (doc_id) JOIN documents d2 USING (doc_id)),
           |c AS (SELECT doc_id, is_cont, n_tokens,
           |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
           |  FROM sel)
           |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, is_cont,
           |  off // 512 AS seq_first,
           |  CASE WHEN n_tokens <= 0 THEN off // 512
           |       ELSE (off + n_tokens - 1) // 512 END AS seq_last
           |FROM c""".stripMargin
    },

    // x4's gram/bench CTEs + x5's hash ladder, composed: contaminated
    // docs force-train, everything else keeps its hash split.
    "x20_decontam_split" -> {
      val hexVal = (1 to 8).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
        .mkString(" + ")
      val ladder = graft.ops.Sampling.splitBoundaries(splitFractions)
        .map { case (name, bound) => s"WHEN ($hexVal) < $bound THEN '$name'" }
        .mkString(" ")
      raw"""WITH t AS (
           |  SELECT doc_id, string_split_regex(trim(text, ' '), '\s+') AS toks
           |  FROM documents),
           |sh AS (
           |  SELECT DISTINCT doc_id,
           |    unnest(CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
           |           ELSE list_transform(generate_series(1, len(toks) - 3),
           |                               i -> array_to_string(toks[i:i+3], ' ')) END) AS gram
           |  FROM t),
           |bench AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 17 = 0),
           |cont AS (SELECT DISTINCT doc_id FROM sh JOIN bench USING (gram)
           |         WHERE doc_id % 17 <> 0),
           |sp AS (SELECT doc_id, CASE $ladder END AS split FROM documents
           |       WHERE doc_id % 17 <> 0)
           |SELECT sp.doc_id, sp.split,
           |  CAST(cont.doc_id IS NOT NULL AS INT) AS is_cont,
           |  CASE WHEN cont.doc_id IS NOT NULL THEN 'train' ELSE sp.split END
           |    AS final_split
           |FROM sp LEFT JOIN cont ON cont.doc_id = sp.doc_id""".stripMargin
    },

    // Same daily cents relation as a28; the CUSUM numerator is pure
    // BIGINT, argmax ties break earliest-day on both engines.
    "a29_changepoint" ->
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
        |WHERE rk = 1""".stripMargin,

    // Mirrors a28 moment-for-moment: same integer-cents daily relation,
    // same DECIMAL(38,0) second moments, same double chain and guards.
    "a28_ols_fit" ->
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
        |FROM m""".stripMargin,

    "q20_moment_stats" ->
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
        |FROM m""".stripMargin,

    // Same interval-RANGE frame evaluated by DuckDB's window engine; the
    // DECIMAL accumulator makes the trailing sum bit-identical.
    "q14_window_range" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate
        |    RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS rev90
        |FROM orders""".stripMargin,

    // DuckDB originated GROUP BY ALL; both engines must infer the same
    // {status, priority} key set.
    "q15_group_by_all" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY ALL""".stripMargin,

    // Same calendar arithmetic through DuckDB's function surface
    // (date_diff/last_day); the DATE cast is the shared render point.
    "q16_date_arith" ->
      """SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |      last_day(CAST(o_orderdate AS DATE))) AS BIGINT)) AS BIGINT)
        |    AS days_to_month_end
        |FROM orders GROUP BY 1""".stripMargin,

    // string_agg with in-aggregate ORDER BY — DuckDB's spelling of the
    // same SQL:2016 ordered-listagg contract.
    "q17_listagg" ->
      """SELECT r.r_name, string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name""".stripMargin,

    // SQL-standard multiset semantics: max(0, m1−m2) / min(m1, m2)
    // multiplicities per key on both engines.
    "q18_set_ops_all" ->
      """SELECT l_suppkey, 'returned_minus_finished' AS set_op FROM (
        |  SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
        |  EXCEPT ALL
        |  SELECT l_suppkey FROM lineitem WHERE l_linestatus = 'F')
        |UNION ALL
        |SELECT l_suppkey, 'bag_intersection' AS set_op FROM (
        |  SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
        |  INTERSECT ALL
        |  SELECT l_suppkey FROM lineitem WHERE l_linestatus = 'F')""".stripMargin,

    // Same five analytic functions with identical total-order ORDER BYs and
    // the same explicit nth_value frame.
    "q19_window_funcs" ->
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
        |FROM orders""".stripMargin,

    // Expected good/corrupt split recomputed relationally: corrupt = the
    // deterministic truncation set, partial leaks must be zero.
    "p11_corrupt_ingest" ->
      """SELECT COUNT(*) FILTER (WHERE event_id % 13 <> 0) AS n_good,
        |  COUNT(*) FILTER (WHERE event_id % 13 = 0) AS n_corrupt,
        |  CAST(0 AS BIGINT) AS n_partial_leak,
        |  printf('%.4f', CAST(SUM(CASE WHEN event_id % 13 <> 0
        |    THEN CAST(value AS DECIMAL(30,4)) END) AS DOUBLE)) AS sum_good_r
        |FROM events""".stripMargin,

    // Top-3 values per user, value-descending; ties are value-identical so
    // the rendered list is order-unambiguous.
    "o26_topk_agg" ->
      """SELECT user_id,
        |  array_to_string(list_transform(l[1:3], v -> printf('%.2f', v)), ',') AS top3
        |FROM (SELECT user_id, list(value ORDER BY value DESC) AS l
        |      FROM events GROUP BY 1)""".stripMargin,

    // The streaming incremental form must converge to exactly the batch
    // LSH pair set — arrival order changes WHEN a pair is reported, never
    // WHAT is a duplicate.
    "e2e_neardup" -> minhashOracle,

    // Components of the ≥0.5-estimated-Jaccard pair graph by recursive
    // transitive closure; label = component min doc_id.
    "d6_neardup_clusters" -> clusterOracle,

    // Same contract, computed by alternating large-star/small-star rounds —
    // the labeling must be identical to d6's.
    "d6b_clusters_alternating" -> clusterOracle,

    // Mirrors x19: same t1 token count, same (pos−1)//32 batch assignment
    // over the same total orders (doc_id | n_tok,doc_id), same split-
    // division waste basis points.
    "x19_length_batching" ->
      raw"""WITH d AS (SELECT doc_id,
           |    CASE WHEN length(trim(text)) = 0 THEN 0
           |         ELSE len($toksSql) END AS n_tok
           |  FROM documents),
           |nv AS (SELECT n_tok,
           |    (row_number() OVER (ORDER BY doc_id) - 1) // 32 AS batch_id FROM d),
           |so AS (SELECT n_tok,
           |    (row_number() OVER (ORDER BY n_tok, doc_id) - 1) // 32 AS batch_id FROM d),
           |a1 AS (SELECT batch_id, count(*) AS n_in, SUM(n_tok) AS tok,
           |    MAX(n_tok) AS mx FROM nv GROUP BY 1),
           |a2 AS (SELECT batch_id, count(*) AS n_in, SUM(n_tok) AS tok,
           |    MAX(n_tok) AS mx FROM so GROUP BY 1),
           |s1 AS (SELECT 'naive' AS strategy, count(*) AS n_batches,
           |    CAST(SUM(tok) AS BIGINT) AS n_tokens,
           |    CAST(SUM(mx * n_in) AS BIGINT) AS n_slots FROM a1),
           |s2 AS (SELECT 'length_sorted' AS strategy, count(*) AS n_batches,
           |    CAST(SUM(tok) AS BIGINT) AS n_tokens,
           |    CAST(SUM(mx * n_in) AS BIGINT) AS n_slots FROM a2),
           |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
           |SELECT strategy, n_batches, n_tokens, n_slots - n_tokens AS n_pad,
           |  ((n_slots - n_tokens) // n_slots) * 10000
           |    + (((n_slots - n_tokens) % n_slots) * 10000) // n_slots AS waste_bp
           |FROM u""".stripMargin,

    // Mirrors x18 weight-for-weight: same 48-bit integer from the first 12
    // md5 hex digits, same ((h>>2b & 3)+1)>>1 Binomial(2,½) map (>>2b as
    // integral division by the 4^b literal — identical on non-negative
    // operands), same split-division exact basis-point means, same
    // (mean_bp, b) order statistics.
    "x18_bootstrap_ci" -> {
      val hexVal = (1 to 12).map(j =>
        s"(strpos('0123456789abcdef', substr(h0, $j, 1)) - 1) * ${1L << (4 * (12 - j))}")
        .mkString(" + ")
      val p4 = (0 until 24).map(b => s"($b, ${1L << (2 * b)})").mkString(", ")
      s"""WITH e0 AS (SELECT event_type,
         |    CAST(floor(value * 100) AS BIGINT) AS cents,
         |    md5('boot:' || CAST(event_id AS VARCHAR)) AS h0
         |  FROM events),
         |e AS (SELECT event_type, cents, CAST($hexVal AS BIGINT) AS h FROM e0),
         |x AS (SELECT event_type, cents, b,
         |    (((h // p4) % 4) + 1) // 2 AS w
         |  FROM e, (VALUES $p4) AS bb(b, p4)),
         |r AS (SELECT event_type, b,
         |    CAST(SUM(w * cents) AS BIGINT) AS swx, CAST(SUM(w) AS BIGINT) AS sw
         |  FROM x GROUP BY 1, 2),""".stripMargin + "\n" +
      """m AS (SELECT event_type, b,
        |    (swx // sw) * 10000 + ((swx % sw) * 10000) // sw AS mean_bp
        |  FROM r WHERE sw > 0),
        |rk AS (SELECT event_type, b, mean_bp,
        |    row_number() OVER (PARTITION BY event_type ORDER BY mean_bp, b) AS rnk,
        |    count(*) OVER (PARTITION BY event_type) AS nb
        |  FROM m),
        |pt AS (SELECT event_type,
        |    (CAST(SUM(cents) AS BIGINT) // COUNT(*)) * 10000
        |      + ((CAST(SUM(cents) AS BIGINT) % COUNT(*)) * 10000) // COUNT(*) AS point_bp
        |  FROM e GROUP BY 1)
        |SELECT p.event_type, p.point_bp,
        |  MAX(CASE WHEN rnk = 2 THEN mean_bp END) AS lo_bp,
        |  MAX(CASE WHEN rnk = nb - 1 THEN mean_bp END) AS hi_bp
        |FROM pt p JOIN rk USING (event_type) GROUP BY 1, 2""".stripMargin
    },

    // d6's clustering joined back to the FULL corpus: singletons weigh
    // 10000 bp, members 10000 // size — all-integer soft-dedup weights.
    "x17_dedup_weights" -> {
      val eq = (0 until 16).map(i =>
        s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH RECURSIVE $minhashCtes,
         |scored AS (
         |  SELECT p.id_a, p.id_b FROM pairs p
         |  JOIN sig sa ON p.id_a = sa.doc_id JOIN sig sb ON p.id_b = sb.doc_id
         |  WHERE CAST(($eq) AS DOUBLE) / 16 >= CAST('0.5' AS DOUBLE)),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM scored
         |          UNION SELECT id_b, id_a FROM scored),
         |reach(id, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT re.id, e.dst FROM reach re JOIN edges e ON re.r = e.src),
         |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |sizes AS (SELECT cluster_id, count(*) AS n FROM lab GROUP BY 1),
         |w AS (SELECT l.id AS doc_id, s.n FROM lab l JOIN sizes s USING (cluster_id)),
         |base AS (SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
         |         ELSE CAST(len($toksSql) AS BIGINT) END AS n_tokens
         |  FROM documents)
         |SELECT b.doc_id, CAST(COALESCE(w.n, 1) AS BIGINT) AS cluster_size,
         |  CAST(10000 // COALESCE(w.n, 1) AS BIGINT) AS weight_bp,
         |  b.n_tokens,
         |  b.n_tokens * CAST(10000 // COALESCE(w.n, 1) AS BIGINT) AS eff_tokens_bp
         |FROM base b LEFT JOIN w ON b.doc_id = w.doc_id""".stripMargin
    },

    // x17's weight chain composed with x13's quota/pick machinery over
    // per-source EFFECTIVE token mass (1e6 sqrt grid, largest remainder).
    "c4_weighted_mix" -> {
      val eq = (0 until 16).map(i =>
        s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END").mkString(" + ")
      val hexVal = (1 to 8).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('c4:' || CAST(doc_id AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
        .mkString(" + ")
      s"""WITH RECURSIVE $minhashCtes,
         |scored AS (
         |  SELECT p.id_a, p.id_b FROM pairs p
         |  JOIN sig sa ON p.id_a = sa.doc_id JOIN sig sb ON p.id_b = sb.doc_id
         |  WHERE CAST(($eq) AS DOUBLE) / 16 >= CAST('0.5' AS DOUBLE)),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM scored
         |          UNION SELECT id_b, id_a FROM scored),
         |reach(id, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT re.id, e.dst FROM reach re JOIN edges e ON re.r = e.src),
         |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |csz AS (SELECT cluster_id, count(*) AS n FROM lab GROUP BY 1),
         |w AS (SELECT l.id AS doc_id, s.n FROM lab l JOIN csz s USING (cluster_id)),
         |base AS (SELECT doc_id, source,
         |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
         |         ELSE CAST(len($toksSql) AS BIGINT) END AS n_tokens
         |  FROM documents),
         |eff AS (SELECT b.doc_id, b.source,
         |    b.n_tokens * CAST(10000 // COALESCE(w.n, 1) AS BIGINT) AS eff_bp
         |  FROM base b LEFT JOIN w ON b.doc_id = w.doc_id),
         |sz AS (SELECT source AS stratum, CAST(SUM(eff_bp) AS BIGINT) AS eff_w
         |  FROM eff GROUP BY 1),
         |wv AS (SELECT stratum, eff_w,
         |    CAST(floor(sqrt(CAST(eff_w AS DOUBLE)) * 1e6) AS BIGINT) AS w6
         |  FROM sz),
         |wt AS (SELECT CAST(SUM(w6) AS BIGINT) AS w_tot FROM wv),
         |q0 AS (SELECT stratum, eff_w, 300 * w6 // w_tot AS q_floor,
         |    (300 * w6) % w_tot AS rem FROM wv CROSS JOIN wt),
         |qr AS (SELECT stratum, eff_w, q_floor, rem,
         |    row_number() OVER (ORDER BY rem DESC, stratum) AS extra_rank,
         |    300 - SUM(q_floor) OVER () AS n_extra FROM q0),
         |q AS (SELECT stratum, eff_w,
         |    CAST(q_floor + CASE WHEN extra_rank <= n_extra THEN 1 ELSE 0 END
         |         AS BIGINT) AS quota
         |  FROM qr),
         |h AS (SELECT source AS stratum, doc_id,
         |    row_number() OVER (PARTITION BY source ORDER BY ($hexVal), doc_id)
         |      AS pick_rank
         |  FROM documents)
         |SELECT h.stratum AS source, h.doc_id, h.pick_rank, q.eff_w, q.quota
         |FROM h JOIN q USING (stratum) WHERE h.pick_rank <= q.quota""".stripMargin
    },

    // d2b runs the same logical query against a materialized signature
    // table — the result is identical by construction.
    "d2b_minhash_materialized" -> minhashOracle,

    "d4_ngram_jaccard" -> blockedJaccardOracle,
    "t24_ngram_novelty" -> noveltyOracle,

    // Same render → strip → decode pipeline built from DuckDB's regex/
    // replace primitives; expected text built independently on both sides.
    "t25_html_strip" ->
      """WITH r AS (SELECT doc_id, source, lang, text,
        |    '<!DOCTYPE html><html><head><title>' || source ||
        |    '</title></head><body><h1 class="t">' || lang ||
        |    '</h1><p id="d' || CAST(doc_id AS VARCHAR) || '">' ||
        |    regexp_replace(
        |      CASE WHEN doc_id % 7 = 0 THEN regexp_replace(text, ' ', '&nbsp;', 'g')
        |           ELSE text END,
        |      'table', '&lt;table&gt;', 'g') ||
        |    '</p><br/></body></html>' AS rendered
        |  FROM documents),
        |s AS (SELECT doc_id, rendered,
        |    regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(rendered, '<[^>]*>', '', 'g'),
        |      '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g')
        |      AS recovered,
        |    source || lang || regexp_replace(text, 'table', '<table>', 'g')
        |      AS expected
        |  FROM r)
        |SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN recovered = expected THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_ok,
        |  CAST(SUM(length(rendered)) AS BIGINT) AS raw_chars,
        |  CAST(SUM(length(recovered)) AS BIGINT) AS clean_chars
        |FROM s""".stripMargin,

    "c1_corpus_clean" -> corpusCleanOracle,

    // c2: t2's quality expression gates the corpus, then the d8 scrub CTEs
    // run over the SURVIVORS (dup-gram counts see only quality-passing
    // docs — order of composition matters and both engines share it),
    // then retention + exact dedup of the scrubbed text.
    "c2_clean_spans" ->
      raw"""WITH qb AS (SELECT doc_id, text,
           |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS ntok,
           |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
           |         ELSE len(list_filter($toksSql, t -> t IN ($stopIn))) END AS nsw,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |         ELSE CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS DOUBLE)
           |              / length(text) END AS praw
           |  FROM documents),
           |q AS (SELECT doc_id, text FROM qb
           |      WHERE ntok >= 5 AND
           |        (least(length(text) / 500.0, 1.0)
           |         + (1.0 - least(praw * 5.0, 1.0))
           |         + least((CASE WHEN ntok = 0 THEN 0.0 ELSE CAST(nsw AS DOUBLE) / ntok END) * 4.0, 1.0)
           |        ) / 3.0 >= CAST('0.5' AS DOUBLE)),
           |d AS (SELECT doc_id, string_split_regex(trim(text, ' '), '\s+') AS toks
           |      FROM q WHERE length(trim(text, ' ')) > 0),
           |occ AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 7)) AS i, toks
           |        FROM d WHERE len(toks) >= 8),
           |og AS (SELECT doc_id, i, array_to_string(toks[i:i+7], ' ') AS gram FROM occ),
           |dup AS (SELECT gram FROM (
           |        SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM og GROUP BY 1)
           |        WHERE nd >= 2),
           |cov AS (SELECT DISTINCT doc_id, pos FROM (
           |        SELECT og.doc_id, unnest(generate_series(og.i, og.i + 7)) AS pos
           |        FROM og JOIN dup USING (gram))),
           |tp AS (SELECT doc_id, unnest(toks) AS tok,
           |              unnest(generate_series(1, len(toks))) AS pos FROM d),
           |k AS (SELECT tp.doc_id AS kid, COUNT(*) AS n_kept,
           |             array_to_string(list(tp.tok ORDER BY tp.pos), ' ') AS cleaned
           |      FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos
           |      WHERE cov.doc_id IS NULL GROUP BY 1),
           |sc AS (SELECT d.doc_id, len(d.toks) AS n_tokens,
           |         COALESCE(k.n_kept, 0) AS n_kept,
           |         md5(COALESCE(k.cleaned, '')) AS sfp
           |       FROM d LEFT JOIN k ON d.doc_id = k.kid),
           |kept AS (SELECT * FROM sc WHERE n_kept * 2 >= n_tokens),
           |canon AS (SELECT sfp, MIN(doc_id) AS doc_id FROM kept GROUP BY 1)
           |SELECT kept.doc_id, n_tokens, n_kept,
           |  (n_kept * 10000) // n_tokens AS kept_bp, kept.sfp
           |FROM kept JOIN canon ON kept.sfp = canon.sfp AND kept.doc_id = canon.doc_id""".stripMargin,

    "t1_token_stats" ->
      s"""SELECT doc_id,
         |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS n_tokens,
         |  CASE WHEN length(trim(text)) = 0 OR len($toksSql) = 0 THEN 0.0
         |       ELSE CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len($toksSql)
         |  END AS mean_token_len
         |FROM documents""".stripMargin,

    "t2_quality" ->
      s"""WITH b AS (SELECT doc_id, text,
         |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS ntok,
         |  CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
         |       ELSE len(list_filter($toksSql, t -> t IN ($stopIn))) END AS nsw,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE)
         |            / length(text) END AS praw
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN ntok = 0 THEN 0.0 ELSE CAST(nsw AS DOUBLE) / ntok END AS stopword_ratio,
         |  praw AS punct_ratio,
         |  (least(length(text) / 500.0, 1.0)
         |   + (1.0 - least(praw * 5.0, 1.0))
         |   + least((CASE WHEN ntok = 0 THEN 0.0 ELSE CAST(nsw AS DOUBLE) / ntok END) * 4.0, 1.0)
         |  ) / 3.0 AS quality
         |FROM b""".stripMargin,

    "t3_langid" ->
      """WITH b AS (SELECT doc_id, lang,
        |  CAST(length(lower(text)) - length(regexp_replace(lower(text), '[aeiou]', '', 'g')) AS DOUBLE)
        |    / greatest(length(lower(text)), 1) AS vr
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN vr >= 0.42 THEN 'en' WHEN vr >= 0.36 THEN 'es' ELSE 'de' END AS lang_pred,
        |  CASE WHEN (CASE WHEN vr >= 0.42 THEN 'en' WHEN vr >= 0.36 THEN 'es' ELSE 'de' END) = lang
        |       THEN 1 ELSE 0 END AS is_match
        |FROM b""".stripMargin,

    "t4_fingerprint" ->
      s"SELECT doc_id, $fpSql AS fp FROM documents",

    // Confusion cells + per-class rates over the same vowel-ratio ladder.
    "t20_langid_eval" ->
      """WITH p AS (SELECT lang,
        |    (CASE WHEN vr >= 0.42 THEN 'en' WHEN vr >= 0.36 THEN 'es' ELSE 'de' END) AS pred
        |  FROM (SELECT lang,
        |    CAST(length(lower(text)) - length(regexp_replace(lower(text), '[aeiou]', '', 'g')) AS DOUBLE)
        |      / greatest(length(lower(text)), 1) AS vr FROM documents)),
        |cell AS (SELECT lang, pred, COUNT(*) AS n FROM p GROUP BY 1, 2),
        |bt AS (SELECT lang, COUNT(*) AS n_true FROM p GROUP BY 1),
        |bp AS (SELECT pred, COUNT(*) AS n_pred FROM p GROUP BY 1)
        |SELECT cell.lang, cell.pred, cell.n,
        |  cell.n * 10000 // bt.n_true AS recall_bp,
        |  cell.n * 10000 // bp.n_pred AS precision_bp
        |FROM cell JOIN bt ON cell.lang = bt.lang JOIN bp ON cell.pred = bp.pred""".stripMargin,

    "s1_ann_topk" -> annOracle,
    "s23_mmr_rerank" -> mmrOracle,

    // Four unrolled farthest-point rounds (the g1 fixed-iteration
    // contract): per round one distance CTE against the new seed, a
    // running least() min, and ORDER BY d2 DESC, vec_id LIMIT 1 — the
    // exact argmax/tie rule the engine's min(struct(-d2, id)) computes.
    "s28_kmeanspp_seed" ->
      """WITH v AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS q
        |  FROM embeddings),
        |u AS (SELECT vec_id, unnest(q) AS x, generate_subscripts(q, 1) AS di FROM v),
        |s0 AS (SELECT min(vec_id) AS id FROM v),
        |d0 AS (SELECT a.vec_id, CAST(SUM((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2
        |       FROM u a JOIN u b ON a.di = b.di AND b.vec_id = (SELECT id FROM s0)
        |       GROUP BY 1),
        |s1 AS (SELECT vec_id AS id, d2 FROM d0 ORDER BY d2 DESC, vec_id LIMIT 1),
        |d1 AS (SELECT a.vec_id, CAST(SUM((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2
        |       FROM u a JOIN u b ON a.di = b.di AND b.vec_id = (SELECT id FROM s1)
        |       GROUP BY 1),
        |m1 AS (SELECT d0.vec_id, least(d0.d2, d1.d2) AS d2
        |       FROM d0 JOIN d1 USING (vec_id)),
        |s2 AS (SELECT vec_id AS id, d2 FROM m1 ORDER BY d2 DESC, vec_id LIMIT 1),
        |d2r AS (SELECT a.vec_id, CAST(SUM((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2
        |        FROM u a JOIN u b ON a.di = b.di AND b.vec_id = (SELECT id FROM s2)
        |        GROUP BY 1),
        |m2 AS (SELECT m1.vec_id, least(m1.d2, d2r.d2) AS d2
        |       FROM m1 JOIN d2r USING (vec_id)),
        |s3 AS (SELECT vec_id AS id, d2 FROM m2 ORDER BY d2 DESC, vec_id LIMIT 1),
        |d3 AS (SELECT a.vec_id, CAST(SUM((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2
        |       FROM u a JOIN u b ON a.di = b.di AND b.vec_id = (SELECT id FROM s3)
        |       GROUP BY 1),
        |alld AS (SELECT vec_id, 0 AS round, d2 FROM d0
        |  UNION ALL SELECT vec_id, 1, d2 FROM d1
        |  UNION ALL SELECT vec_id, 2, d2 FROM d2r
        |  UNION ALL SELECT vec_id, 3, d2 FROM d3),
        |asg AS (SELECT vec_id, round FROM (
        |    SELECT vec_id, round,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, round) AS rn
        |    FROM alld) WHERE rn = 1),
        |cnt AS (SELECT round, COUNT(*) AS n_assigned FROM asg GROUP BY 1),
        |sd AS (SELECT 0 AS round, (SELECT id FROM s0) AS seed_id,
        |         CAST(0 AS BIGINT) AS picked_d2
        |  UNION ALL SELECT 1, (SELECT id FROM s1), (SELECT d2 FROM s1)
        |  UNION ALL SELECT 2, (SELECT id FROM s2), (SELECT d2 FROM s2)
        |  UNION ALL SELECT 3, (SELECT id FROM s3), (SELECT d2 FROM s3))
        |SELECT sd.round, sd.seed_id, sd.picked_d2, cnt.n_assigned
        |FROM sd JOIN cnt USING (round)""".stripMargin,

    // Mirrors rpProject/sqDistL end to end: identical 1e6 floor grid,
    // identical md5-parity sign matrix (DuckDB md5 of the same "rp:j:d"
    // strings), pure-BIGINT distances, (dist, id) integer rank ordering.
    "s27_rp_reduce" ->
      """WITH v AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS q
        |  FROM embeddings),
        |u AS (SELECT vec_id, unnest(q) AS x, generate_subscripts(q, 1) AS di FROM v),
        |sgn AS (SELECT j, di,
        |    CASE WHEN (strpos('0123456789abcdef',
        |        substr(md5('rp:' || CAST(j AS VARCHAR) || ':' || CAST(di - 1 AS VARCHAR)), 1, 1)) - 1) % 2 = 0
        |      THEN 1 ELSE -1 END AS sg
        |  FROM (SELECT unnest(generate_series(0, 15)) AS j),
        |       (SELECT DISTINCT di FROM u)),
        |p AS (SELECT vec_id, j, CAST(SUM(sg * x) AS BIGINT) AS pv
        |  FROM u JOIN sgn USING (di) GROUP BY 1, 2),
        |dr AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    CAST(SUM((a.pv - b.pv) * (a.pv - b.pv)) AS BIGINT) AS d2_red
        |  FROM p a JOIN p b USING (j)
        |  WHERE a.vec_id < 5 AND b.vec_id <> a.vec_id GROUP BY 1, 2),
        |rt AS (SELECT query_id, neighbor_id, d2_red,
        |    row_number() OVER (PARTITION BY query_id ORDER BY d2_red, neighbor_id) AS rank
        |  FROM dr QUALIFY rank <= 5),
        |df AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    SUM((a.x - b.x) * (a.x - b.x)) AS d2_full
        |  FROM u a JOIN u b USING (di)
        |  WHERE a.vec_id < 5 AND b.vec_id <> a.vec_id GROUP BY 1, 2),
        |et AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY d2_full, neighbor_id) AS rk
        |    FROM df) WHERE rk <= 5)
        |SELECT r.query_id, r.rank, r.neighbor_id, r.d2_red,
        |  CAST(et.query_id IS NOT NULL AS INT) AS in_exact
        |FROM rt r LEFT JOIN et
        |  ON r.query_id = et.query_id AND r.neighbor_id = et.neighbor_id""".stripMargin,

    // Naive τ-scan truth for the pruned range search — the pruning is
    // lossless by the spherical-cap bound, so no mirroring needed.
    "s18_range_search" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm FROM v
        |      WHERE list_inner_product(ve, ve) > 0)
        |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  printf('%.4f', list_inner_product(q.ve, c.ve) / (q.nrm * c.nrm)) AS sim_r
        |FROM n q JOIN n c ON q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id
        |WHERE list_inner_product(q.ve, c.ve) / (q.nrm * c.nrm)
        |      >= CAST('0.3' AS DOUBLE)""".stripMargin,

    // sq8TopK replayed relationally: unnest → per-dim MIN/MAX (exact on
    // doubles, order-free) → the same clamp/floor encode → midpoint
    // reconstruct → in-order list rebuild → exact cosine rank. Every
    // arithmetic step mirrors the Spark chain left to right, so the sims
    // agree bit-for-bit before the 4-decimal rendering.
    "s21_sq8" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        |n AS (SELECT vec_id, ve FROM v WHERE list_inner_product(ve, ve) > 0),
        |u AS (SELECT vec_id, i AS dim, ve[i] AS x
        |      FROM n, (SELECT unnest(generate_series(1, len(ve))) AS i)),
        |mm AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM u GROUP BY dim),
        |enc AS (SELECT vec_id, dim,
        |          CASE WHEN mx > mn THEN CAST(least(CAST('255.0' AS DOUBLE),
        |                 floor((x - mn) / (mx - mn) * CAST('256.0' AS DOUBLE))) AS INT)
        |               ELSE 0 END AS code
        |        FROM u JOIN mm USING (dim)),
        |rc AS (SELECT vec_id, dim,
        |         mn + (CAST(code AS DOUBLE) + CAST('0.5' AS DOUBLE)) * (mx - mn)
        |           / CAST('256.0' AS DOUBLE) AS r
        |       FROM enc JOIN mm USING (dim)),
        |rec AS (SELECT vec_id, list(r ORDER BY dim) AS rv FROM rc GROUP BY vec_id),
        |recn AS (SELECT vec_id, rv FROM rec WHERE list_inner_product(rv, rv) > 0),
        |q AS (SELECT vec_id, ve FROM n WHERE vec_id < 5)
        |SELECT query_id, rank, neighbor_id, sim_r FROM (
        |  SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_inner_product(q.ve, r.rv) /
        |        (sqrt(list_inner_product(q.ve, q.ve)) * sqrt(list_inner_product(r.rv, r.rv))) DESC,
        |      r.vec_id) AS rank,
        |    printf('%.4f', list_inner_product(q.ve, r.rv) /
        |      (sqrt(list_inner_product(q.ve, q.ve)) * sqrt(list_inner_product(r.rv, r.rv)))) AS sim_r
        |  FROM q JOIN recn r ON q.vec_id <> r.vec_id)
        |WHERE rank <= 10""".stripMargin,

    // Hamming = COUNT of dimensions whose strict-positive sign differs —
    // the packed-word XOR is equivalent by construction.
    "s22_binary_hamming" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        |u AS (SELECT vec_id, i AS dim, ve[i] > 0 AS s
        |      FROM v, (SELECT unnest(generate_series(1, len(ve))) AS i)),
        |q AS (SELECT vec_id, dim, s FROM u WHERE vec_id < 5),
        |h AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        COUNT(*) FILTER (WHERE q.s <> c.s) AS hamming
        |      FROM q JOIN u c ON q.dim = c.dim AND q.vec_id <> c.vec_id
        |      GROUP BY 1, 2)
        |SELECT query_id, rank, neighbor_id, CAST(hamming AS BIGINT) AS hamming
        |FROM (SELECT query_id, neighbor_id, hamming,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY hamming ASC, neighbor_id) AS rank FROM h)
        |WHERE rank <= 10""".stripMargin,

    "s2_ann_ivf" -> ivfOracle,

    // Mirrors s34_ivf_balance: s2's exact assignment chain (same cosine,
    // same (sim DESC, cid) argmax tie-break), a LEFT join keeping empty
    // cells, HUGEINT mirroring Spark's DECIMAL(38,0) Σn² accumulator, and
    // the same fold-to-BIGINT integer division before output.
    "s34_ivf_balance" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         |$adaptiveParamsSql,
         |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm FROM v
         |      WHERE list_inner_product(ve, ve) > 0),
         |cent AS (SELECT vec_id AS cid, ve AS cv, nrm AS cnrm FROM n
         |         WHERE vec_id % (SELECT stride FROM params) = 0),
         |assign AS (SELECT vec_id, cid FROM (
         |  SELECT a.vec_id, c.cid, row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY list_inner_product(a.ve, c.cv) / (a.nrm * c.cnrm) DESC, c.cid) AS rn
         |  FROM n a CROSS JOIN cent c) WHERE rn = 1),
         |cells AS (SELECT c.cid, COUNT(a.vec_id) AS nn
         |          FROM cent c LEFT JOIN assign a ON a.cid = c.cid GROUP BY 1)
         |SELECT COUNT(*) AS k_cells, CAST(SUM(nn) AS BIGINT) AS n_vecs,
         |  COUNT(*) FILTER (WHERE nn = 0) AS n_empty,
         |  CAST(MAX(nn) AS BIGINT) AS max_cell,
         |  CAST(MIN(nn) FILTER (WHERE nn > 0) AS BIGINT) AS min_cell,
         |  CAST((COUNT(*)::HUGEINT * SUM(nn::HUGEINT * nn) * 10000)
         |       // (SUM(nn)::HUGEINT * SUM(nn)) AS BIGINT) AS imbalance_bp
         |FROM cells""".stripMargin,

    // s2's oracle chain as a subquery + the doc-token join + the same
    // greedy rank-ordered running budget.
    "c6_rag_serve" ->
      s"""SELECT query_id, rank, neighbor_id, toks, cum_toks FROM (
         |  SELECT b.query_id, b.rank, b.neighbor_id, d.toks,
         |    CAST(SUM(d.toks) OVER (PARTITION BY b.query_id ORDER BY b.rank
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
         |  FROM ( $ivfOracle ) b
         |  JOIN (SELECT doc_id,
         |          CAST(CASE WHEN trim(text, ' ') = '' THEN 0
         |               ELSE len(regexp_split_to_array(trim(text, ' '), '\\s+'))
         |               END AS BIGINT) AS toks
         |        FROM documents) d
         |    ON d.doc_id = b.neighbor_id)
         |WHERE cum_toks <= 150""".stripMargin,
    // the s2 chain + one candidate-side metadata join — the commuting-
    // intersection identity the Spark side exploits, written directly
    "s17_filtered_ann" -> ivfOracle(
      "vec_id % (SELECT stride FROM params) = 0",
      candJoin = "JOIN documents d ON d.doc_id = x.vec_id AND d.lang = 'en'"),

    // Mirrors SimilarityOps.pcaPowerTop stage for stage: the identical
    // integer quantization, exact BIGINT scatter (self-join form — the
    // oracle needs equal VALUES, not the engine's join-free outer-product
    // plan), the same truncating integral divide (// ≡ Spark's div: both
    // truncate toward zero), and the same five exact iterations with one
    // sqrt rounding each.
    "s32_pca_power" -> {
      val its = (1 to 5).map { t =>
        s"""w$t AS (SELECT cn.i, CAST(SUM(cn.cn * k${t - 1}.k) AS BIGINT) AS w
           |  FROM cn JOIN k${t - 1} ON cn.j = k${t - 1}.i GROUP BY 1),
           |n$t AS (SELECT sqrt(CAST(SUM(CAST(w AS HUGEINT) * w) AS DOUBLE)) AS nn
           |  FROM w$t),
           |k$t AS (SELECT i, CAST(floor(CAST(w AS DOUBLE) / nn * 1000000) AS BIGINT) AS k
           |  FROM w$t CROSS JOIN n$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding,
         |                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS vq
         |  FROM embeddings),
         |pts AS (SELECT vec_id, ui - 1 AS i, vq[ui] AS xi
         |  FROM (SELECT vec_id, vq, unnest(generate_series(1, len(vq))) AS ui FROM e)),
         |s AS (SELECT i, CAST(SUM(xi) AS BIGINT) AS si, COUNT(*) AS n FROM pts GROUP BY 1),
         |sxy AS (SELECT a.i AS i, b.i AS j, CAST(SUM(a.xi * b.xi) AS BIGINT) AS sxy
         |  FROM pts a JOIN pts b USING (vec_id) GROUP BY 1, 2),
         |c AS (SELECT sxy.i, sxy.j, sa.n * sxy.sxy - sa.si * sb.si AS c
         |  FROM sxy JOIN s sa ON sxy.i = sa.i JOIN s sb ON sxy.j = sb.i),
         |cm AS (SELECT MAX(abs(c)) AS cmax FROM c),
         |cn AS (SELECT i, j, CAST((CAST(c AS HUGEINT) * 1000000000) // cmax AS BIGINT) AS cn
         |  FROM c CROSS JOIN cm),
         |k0 AS (SELECT DISTINCT i, CAST(1000000 AS BIGINT) AS k FROM cn),
         |$its,
         |w6 AS (SELECT cn.i, CAST(SUM(cn.cn * k5.k) AS BIGINT) AS w
         |  FROM cn JOIN k5 ON cn.j = k5.i GROUP BY 1),
         |ray AS (SELECT CAST(SUM(CAST(k5.k AS HUGEINT) * w6.w) AS DOUBLE)
         |             / CAST(SUM(CAST(k5.k AS HUGEINT) * k5.k) AS DOUBLE) AS eig
         |  FROM k5 JOIN w6 USING (i))
         |SELECT k5.i AS dim, k5.k AS pc1_k, printf('%.6f', ray.eig) AS eig_r
         |FROM k5 CROSS JOIN ray""".stripMargin
    },

    // Mirrors s33: the s6 brute-force CTE shape with ve sliced to each
    // prefix width — list_inner_product folds left-to-right like the
    // engine's dot, and the norms stay √(q)·√(c) in the same order.
    "s33_matryoshka_recall" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        |t AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_inner_product(q.ve, c.ve)
        |        / (sqrt(list_inner_product(q.ve, q.ve))
        |           * sqrt(list_inner_product(c.ve, c.ve))) DESC,
        |      c.vec_id) AS rank
        |  FROM v q JOIN v c ON q.vec_id < 5 AND q.vec_id <> c.vec_id
        |  WHERE list_inner_product(q.ve, q.ve) > 0
        |    AND list_inner_product(c.ve, c.ve) > 0) WHERE rank <= 5),
        |pre AS (SELECT m_dims, query_id, neighbor_id FROM (
        |  SELECT ms.m AS m_dims, q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY ms.m, q.vec_id ORDER BY
        |      list_inner_product(q.ve[1:ms.m], c.ve[1:ms.m])
        |        / (sqrt(list_inner_product(q.ve[1:ms.m], q.ve[1:ms.m]))
        |           * sqrt(list_inner_product(c.ve[1:ms.m], c.ve[1:ms.m]))) DESC,
        |      c.vec_id) AS rank
        |  FROM (SELECT unnest([8, 16, 32]) AS m) ms
        |  CROSS JOIN v q JOIN v c ON q.vec_id < 5 AND q.vec_id <> c.vec_id
        |  WHERE list_inner_product(q.ve[1:ms.m], q.ve[1:ms.m]) > 0
        |    AND list_inner_product(c.ve[1:ms.m], c.ve[1:ms.m]) > 0) WHERE rank <= 5)
        |SELECT pre.m_dims, pre.query_id,
        |  CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_hits,
        |  CAST(COUNT(t.neighbor_id) AS BIGINT) * 10000 // 5 AS recall_bp
        |FROM pre LEFT JOIN t USING (query_id, neighbor_id)
        |GROUP BY 1, 2""".stripMargin,

    // s17's chain with the QUERY-DEPENDENT pair predicate written inside
    // the scored relation (labels ride the n relation on both sides).
    "s31_hard_negatives" ->
      s"""WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ve
        |           FROM embeddings),
        |$adaptiveParamsSql,
        |n AS (SELECT vec_id, label, ve, sqrt(list_inner_product(ve, ve)) AS nrm
        |      FROM v WHERE list_inner_product(ve, ve) > 0),
        |cent AS (SELECT vec_id AS cid, ve AS cv, nrm AS cnrm FROM n
        |         WHERE vec_id % (SELECT stride FROM params) = 0),
        |assign AS (SELECT vec_id, cid FROM (
        |  SELECT a.vec_id, c.cid, row_number() OVER (PARTITION BY a.vec_id
        |    ORDER BY list_inner_product(a.ve, c.cv) / (a.nrm * c.cnrm) DESC, c.cid) AS rn
        |  FROM n a CROSS JOIN cent c) WHERE rn = 1),
        |probes AS (SELECT qid, cid FROM (
        |  SELECT q.vec_id AS qid, c.cid, row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_inner_product(q.ve, c.cv) / (q.nrm * c.cnrm) DESC, c.cid) AS rn
        |  FROM n q CROSS JOIN cent c WHERE q.vec_id < 5) WHERE rn <= 2),
        |scored AS (
        |  SELECT p.qid AS query_id, q.label AS q_label, x.vec_id AS neighbor_id,
        |         x.label AS n_label,
        |         list_inner_product(q.ve, x.ve) / (q.nrm * x.nrm) AS sim
        |  FROM probes p
        |  JOIN assign s ON s.cid = p.cid
        |  JOIN n x ON x.vec_id = s.vec_id
        |  JOIN n q ON q.vec_id = p.qid
        |  WHERE x.vec_id <> p.qid AND x.label <> q.label)
        |SELECT query_id, rank, neighbor_id, q_label, n_label,
        |       printf('%.4f', sim) AS sim_r FROM (
        |  SELECT query_id, q_label, neighbor_id, n_label, sim, row_number() OVER (
        |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin,
    "s2b_ann_ivf_tiered" -> ivfTieredOracle,

    // Exact MIPS: rank by the raw inner product, ties by neighbor id.
    // Both lists restated (cosine over the zero-norm-guarded relation,
    // MIPS over the raw one), fused by the identical two-term double sum.
    "s24_rrf_fusion" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm FROM v
        |      WHERE list_inner_product(ve, ve) > 0),
        |cosl AS (SELECT query_id, neighbor_id, rank AS r_cos FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |           list_inner_product(q.ve, c.ve) / (q.nrm * c.nrm) DESC,
        |           c.vec_id) AS rank
        |  FROM n q JOIN n c ON q.vec_id < 3 AND q.vec_id <> c.vec_id)
        |  WHERE rank <= 20),
        |mipsl AS (SELECT query_id, neighbor_id, rank AS r_mips FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |           list_inner_product(q.ve, c.ve) DESC, c.vec_id) AS rank
        |  FROM v q JOIN v c ON q.vec_id < 3 AND q.vec_id <> c.vec_id)
        |  WHERE rank <= 20),
        |f AS (SELECT COALESCE(c.query_id, m.query_id) AS query_id,
        |    COALESCE(c.neighbor_id, m.neighbor_id) AS neighbor_id,
        |    c.r_cos, m.r_mips,
        |    COALESCE(CAST(1 AS DOUBLE) / (60 + c.r_cos), 0)
        |      + COALESCE(CAST(1 AS DOUBLE) / (60 + m.r_mips), 0) AS score
        |  FROM cosl c FULL OUTER JOIN mipsl m
        |    ON c.query_id = m.query_id AND c.neighbor_id = m.neighbor_id)
        |SELECT query_id, fused_rank, neighbor_id,
        |  CAST(COALESCE(r_cos, 0) AS INT) AS r_cos,
        |  CAST(COALESCE(r_mips, 0) AS INT) AS r_mips
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY score DESC, neighbor_id) AS fused_rank FROM f)
        |WHERE fused_rank <= 10""".stripMargin,

    // Ratio margin over the sign-LSH candidate relation: 1e10 floor-grid
    // cosines, integer-exact top-4 sums, margin recomputed from integers
    // via the same IEEE expression shape as the engine (g1 contract).
    "s26_margin_mining" ->
      s"""WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ve
         |           FROM embeddings),
         |$adaptiveParamsSql,
         |n AS (SELECT vec_id, label, ve, sqrt(list_inner_product(ve, ve)) AS nrm,
         |      substr($signStrSql, 1, (SELECT sd FROM params)) AS bucket FROM v
         |      WHERE list_inner_product(ve, ve) > 0),
         |cand AS (SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
         |    CAST(floor(list_inner_product(a.ve, b.ve) / (a.nrm * b.nrm) * 1e10)
         |         AS BIGINT) AS s_e10
         |  FROM n a JOIN n b ON a.bucket = b.bucket
         |                   AND a.label < 5 AND b.label >= 5),
         |ds AS (SELECT src_id, SUM(s_e10) AS sum_s, COUNT(*) AS cnt_s FROM (
         |    SELECT src_id, s_e10, row_number() OVER (PARTITION BY src_id
         |      ORDER BY s_e10 DESC, tgt_id) AS rk FROM cand)
         |  WHERE rk <= 4 GROUP BY 1),
         |dt AS (SELECT tgt_id, SUM(s_e10) AS sum_t, COUNT(*) AS cnt_t FROM (
         |    SELECT tgt_id, s_e10, row_number() OVER (PARTITION BY tgt_id
         |      ORDER BY s_e10 DESC, src_id) AS rk FROM cand)
         |  WHERE rk <= 4 GROUP BY 1),
         |m AS (SELECT c.src_id, c.tgt_id, c.s_e10,
         |    CAST(c.s_e10 AS DOUBLE) * 2 /
         |      (CAST(d1.sum_s AS DOUBLE) / d1.cnt_s
         |       + CAST(d2.sum_t AS DOUBLE) / d2.cnt_t) AS margin
         |  FROM cand c JOIN ds d1 ON c.src_id = d1.src_id
         |              JOIN dt d2 ON c.tgt_id = d2.tgt_id
         |  WHERE CAST(d1.sum_s AS DOUBLE) / d1.cnt_s
         |        + CAST(d2.sum_t AS DOUBLE) / d2.cnt_t > 0)
         |SELECT src_id, tgt_id, s_e10, printf('%.4f', margin) AS margin_r FROM (
         |  SELECT *, row_number() OVER (PARTITION BY src_id
         |    ORDER BY margin DESC, tgt_id) AS rk FROM m)
         |WHERE rk = 1 AND margin >= CAST('1.05' AS DOUBLE)""".stripMargin,

    "s12_mips" -> mipsExactOracle,

    // Band pruning is provably lossless, so s15 sits under the SAME exact
    // oracle as the brute force — the equality IS the soundness proof.
    "s15_mips_banded" -> mipsExactOracle,

    "s12b_mips_ivf" -> mipsIvfOracle,

    // Disk must not change a neighbor: same oracle as the in-memory s12b.
    "s16_mips_index" -> mipsIvfOracle,

    // Exact-MIPS truth set over RAW vectors joined against the augmented-
    // IVF top-5 (the s12b chain verbatim) — recall by set membership.
    "s14_mips_recall" ->
      s"""WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ov FROM embeddings),
        |$adaptiveParamsSql,
        |mx AS (SELECT MAX(list_inner_product(ov, ov)) AS m2 FROM raw),
        |v AS (SELECT vec_id, list_append(ov, sqrt(m2 - list_inner_product(ov, ov))) AS ve
        |      FROM raw CROSS JOIN mx),
        |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm FROM v
        |      WHERE list_inner_product(ve, ve) > 0),
        |qn AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm FROM (
        |    SELECT vec_id, list_append(ov, 0.0) AS ve FROM raw WHERE vec_id < 5)
        |  WHERE list_inner_product(ve, ve) > 0),
        |brute AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_inner_product(q.ov, c.ov) DESC, c.vec_id) AS rank
        |  FROM raw q JOIN raw c ON q.vec_id < 5 AND q.vec_id <> c.vec_id) WHERE rank <= 5),
        |cent AS (SELECT vec_id AS cid, ve AS cv, nrm AS cnrm FROM n
        |         WHERE vec_id % (SELECT stride FROM params) = 0),
        |assign AS (SELECT vec_id, cid FROM (
        |  SELECT a.vec_id, c.cid, row_number() OVER (PARTITION BY a.vec_id
        |    ORDER BY list_inner_product(a.ve, c.cv) / (a.nrm * c.cnrm) DESC, c.cid) AS rn
        |  FROM n a CROSS JOIN cent c) WHERE rn = 1),
        |probes AS (SELECT qid, cid FROM (
        |  SELECT q.vec_id AS qid, c.cid, row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_inner_product(q.ve, c.cv) / (q.nrm * c.cnrm) DESC, c.cid) AS rn
        |  FROM qn q CROSS JOIN cent c) WHERE rn <= 2),
        |scored AS (
        |  SELECT p.qid AS query_id, x.vec_id AS neighbor_id,
        |         list_inner_product(q.ve, x.ve) / (q.nrm * x.nrm) AS sim
        |  FROM probes p JOIN assign a ON a.cid = p.cid
        |  JOIN n x ON x.vec_id = a.vec_id JOIN qn q ON q.vec_id = p.qid
        |  WHERE x.vec_id <> p.qid),
        |ivf AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored) WHERE rank <= 5)
        |SELECT i.query_id,
        |  CAST(SUM(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  CAST(SUM(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 5 AS recall_at_5
        |FROM ivf i LEFT JOIN brute b USING (query_id, neighbor_id)
        |GROUP BY 1""".stripMargin,
    "s7_pq_ann" -> pqOracle,
    "s11_pq_rerank" -> pqRerankOracle,
    "s7b_pq_ivf" -> pqIvfOracle,
    "s7c_pq_recall" -> pqRecallOracle,
    "s7e_pq_trained_recall" -> pqTrainedRecallOracle(PqTrainIters),
    "s35_pq_distortion" -> pqDistortionOracle(PqTrainIters),

    // The on-disk PQ index — including compaction and the code-array round
    // trip — must return the identical neighbor set the in-memory IVF-PQ
    // plan does (the s4 contract for the compressed index).
    "s7d_pq_index_search" -> pqIvfOracle,
    "s8_kmeans" -> kmeansOracle(2),
    "sd1_semdedup" -> semDedupOracle(2, "0.35"),
    "o12_cms_heavy" -> cmsOracle,
    "o11_hll_distinct" -> hllOracle,
    "o35_stats_collect" -> statsOracle,

    // Same canonical rendering, same bucket scheme, string_agg ORDER BY
    // restates the sorted concat.
    "o37_dataset_fingerprint" ->
      """WITH r AS (SELECT md5(
        |    CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)
        |    || '|' || o_orderstatus || '|' || printf('%.2f', o_totalprice)
        |    || '|' || strftime(o_orderdate, '%Y-%m-%d')
        |    || '|' || o_orderpriority) AS fp
        |  FROM orders)
        |SELECT substr(fp, 1, 2) AS bucket, COUNT(*) AS n_rows,
        |  md5(string_agg(fp, '' ORDER BY fp)) AS bucket_fp
        |FROM r GROUP BY 1""".stripMargin,

    // Every audit count recomputed independently over the identically
    // dirtied views; zero controls are verified zeros.
    "o36_dq_audit" ->
      """WITH li AS (SELECT
        |    CASE WHEN l_orderkey % 97 = 0 THEN -l_quantity ELSE l_quantity END AS l_quantity,
        |    CASE WHEN l_orderkey % 101 = 0 THEN 'X' ELSE l_returnflag END AS l_returnflag,
        |    CASE WHEN l_orderkey % 89 = 0 THEN -l_partkey ELSE l_partkey END AS l_partkey,
        |    l_orderkey, l_discount FROM lineitem),
        |od AS (SELECT
        |    CASE WHEN o_orderkey % 103 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
        |    o_orderkey, o_totalprice FROM orders)
        |SELECT 'lineitem.qty_range' AS check_name,
        |  CAST(SUM(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
        |  COUNT(*) AS n_rows FROM li
        |UNION ALL SELECT 'lineitem.discount_range',
        |  CAST(SUM(CASE WHEN NOT (l_discount BETWEEN 0 AND 1) THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(*) FROM li
        |UNION ALL SELECT 'lineitem.returnflag_domain',
        |  CAST(SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(*) FROM li
        |UNION ALL SELECT 'orders.null_custkey',
        |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(*) FROM od
        |UNION ALL SELECT 'orders.totalprice_positive',
        |  CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(*) FROM od
        |UNION ALL SELECT 'orders.unique_o_orderkey',
        |  CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt END), 0) AS BIGINT),
        |  CAST(SUM(cnt) AS BIGINT)
        |  FROM (SELECT COUNT(*) AS cnt FROM od GROUP BY o_orderkey)
        |UNION ALL SELECT 'lineitem.unique_l_orderkey',
        |  CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt END), 0) AS BIGINT),
        |  CAST(SUM(cnt) AS BIGINT)
        |  FROM (SELECT COUNT(*) AS cnt FROM li GROUP BY l_orderkey)
        |UNION ALL SELECT 'orders.fk_o_custkey',
        |  (SELECT COUNT(*) FROM od LEFT JOIN customer c ON od.o_custkey = c.c_custkey
        |   WHERE c.c_custkey IS NULL),
        |  (SELECT COUNT(*) FROM od)
        |UNION ALL SELECT 'lineitem.fk_l_orderkey',
        |  (SELECT COUNT(*) FROM li LEFT JOIN od ON li.l_orderkey = od.o_orderkey
        |   WHERE od.o_orderkey IS NULL),
        |  (SELECT COUNT(*) FROM li)
        |UNION ALL SELECT 'lineitem.fk_l_partkey',
        |  (SELECT COUNT(*) FROM li LEFT JOIN part p ON li.l_partkey = p.p_partkey
        |   WHERE p.p_partkey IS NULL),
        |  (SELECT COUNT(*) FROM li)""".stripMargin,
    "o15_hll_by_day" -> hllByOracle,
    "o34_hll_sliding" -> hllSlidingOracle,
    "o16_hll_merge" -> hllMergeOracle,
    "o17_cms_merge" -> cmsMergeOracle,
    "o27_kmv_distinct" -> kmvOracle,
    "o28_kmv_jaccard" -> kmvJaccardOracle,
    "o29_kmv_merge" -> kmvMergeOracle,
    "e2e_kmv_sketch" -> kmvStreamOracle,

    // Mirrors Sketches.histQuantiles step-for-step: same bin arithmetic
    // (floor of exactly rounded IEEE ops → exact integer bins/counts), same
    // ORDER BY bin cumulative frame, same rank + interpolation expressions,
    // quantile fractions parsed from the same literal strings.
    "o14_hist_quantile" ->
      """WITH st AS (SELECT min(value) AS lo, max(value) AS hi, count(*) AS n FROM events),
        |b AS (SELECT CASE WHEN st.hi = st.lo THEN 0
        |        ELSE LEAST(CAST(floor((value - st.lo) / ((st.hi - st.lo) / 1024)) AS BIGINT), 1023) END AS bin
        |      FROM events CROSS JOIN st),
        |c AS (SELECT bin, count(*) AS cnt FROM b GROUP BY 1),
        |cc AS (SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum FROM c),
        |qs AS (SELECT unnest(['0.5', '0.95', '0.99']) AS q_str),
        |r AS (SELECT q_str,
        |        GREATEST(1, CAST(ceil(CAST(q_str AS DOUBLE) * st.n) AS BIGINT)) AS rnk,
        |        st.lo, st.hi
        |      FROM qs CROSS JOIN st)
        |SELECT q_str, rnk, bin,
        |  printf('%.4f', CASE WHEN hi = lo THEN lo
        |    ELSE lo + (hi - lo) / 1024 *
        |         (bin + CAST(rnk - (cum - cnt) AS DOUBLE) / cnt) END) AS est_r
        |FROM r JOIN cc ON cc.cum >= r.rnk AND cc.cum - cc.cnt < r.rnk""".stripMargin,

    // o14's estimate chain + quantile_cont exacts + the signed error,
    // every double op mirrored.
    "o30_quantile_eval" ->
      """WITH st AS (SELECT min(value) AS lo, max(value) AS hi, count(*) AS n FROM events),
        |b AS (SELECT CASE WHEN st.hi = st.lo THEN 0
        |        ELSE LEAST(CAST(floor((value - st.lo) / ((st.hi - st.lo) / 1024)) AS BIGINT), 1023) END AS bin
        |      FROM events CROSS JOIN st),
        |c AS (SELECT bin, count(*) AS cnt FROM b GROUP BY 1),
        |cc AS (SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum FROM c),
        |qs AS (SELECT unnest(['0.5', '0.95', '0.99']) AS q_str),
        |r AS (SELECT q_str,
        |        GREATEST(1, CAST(ceil(CAST(q_str AS DOUBLE) * st.n) AS BIGINT)) AS rnk,
        |        st.lo, st.hi
        |      FROM qs CROSS JOIN st),
        |est AS (SELECT q_str,
        |  CASE WHEN hi = lo THEN lo
        |    ELSE lo + (hi - lo) / 1024 *
        |         (bin + CAST(rnk - (cum - cnt) AS DOUBLE) / cnt) END AS est
        |  FROM r JOIN cc ON cc.cum >= r.rnk AND cc.cum - cc.cnt < r.rnk),
        |ex AS (SELECT q_str, CASE q_str
        |    WHEN '0.5' THEN (SELECT quantile_cont(value, CAST('0.5' AS DOUBLE)) FROM events)
        |    WHEN '0.95' THEN (SELECT quantile_cont(value, CAST('0.95' AS DOUBLE)) FROM events)
        |    ELSE (SELECT quantile_cont(value, CAST('0.99' AS DOUBLE)) FROM events) END AS exact
        |  FROM qs)
        |SELECT est.q_str, printf('%.4f', est.est) AS est_r,
        |  printf('%.4f', ex.exact) AS exact_r,
        |  printf('%.4f', est.est - ex.exact) AS err_r
        |FROM est JOIN ex USING (q_str)""".stripMargin,

    // Bloom pruning has no false negatives and is followed by the exact
    // semi join, so the oracle is the PLAIN semi join — correctness of o13
    // is unconditional on the sketch contents.
    "o13_bloom_semi" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag""".stripMargin,

    // The on-disk epoch-partitioned index — including a compaction pass —
    // must return the identical neighbor set the in-memory IVF plan does.
    "s4_ivf_index_search" -> ivfOracle,

    // After centroid-drift re-assignment, search must equal an IVF
    // recomputation against the NEW centroid set.
    "s5_ivf_reassign" -> ivfOracle(
      "vec_id % (SELECT stride FROM params) = (SELECT stride FROM params) // 2"),

    "d3_simhash" -> simhashOracle,
    "d12_sorted_neardup" -> sortedNearDupOracle,

    // The predicate join the engine's band blocking must enumerate exactly;
    // DuckDB's levenshtein is un-thresholded so the bound is a filter.
    // Levenshtein returns BIGINT here vs Spark's INT — cast to match.
    "d13_edit_distance" ->
      """WITH d AS (SELECT doc_id, lang, n_chars, substr(text, 1, 192) AS pfx
        |           FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.pfx, b.pfx) AS INT) AS dist
        |FROM d a JOIN d b
        |  ON a.lang = b.lang AND a.doc_id < b.doc_id
        | AND abs(a.n_chars - b.n_chars) <= 4
        |WHERE levenshtein(a.pfx, b.pfx) <= 5""".stripMargin,

    // Independent Jaro-Winkler implementation (DuckDB builtin) against the
    // engine's native expression, pair by pair over the same vocabulary.
    "d14_jaro_winkler" ->
      raw"""WITH toks AS (SELECT DISTINCT unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |              FROM documents WHERE length(trim(text)) > 0)
        |SELECT a.t AS term_a, b.t AS term_b,
        |  round(jaro_winkler_similarity(a.t, b.t), 4) AS jw_r
        |FROM toks a JOIN toks b
        |  ON substr(a.t, 1, 1) = substr(b.t, 1, 1) AND a.t < b.t
        | AND abs(length(a.t) - length(b.t)) <= 2
        |WHERE jaro_winkler_similarity(a.t, b.t) > 0.55""".stripMargin,

    // utf8proc-based nfc_normalize against the engine's native expression;
    // the suffix constant is the same Scala literal on both sides.
    "t22_nfc_normalize" ->
      s"""WITH r AS (SELECT lang, substr(text, 1, 40) || '$nfcSuffix' AS raw
         |           FROM documents),
         |n AS (SELECT lang, raw, nfc_normalize(raw) AS norm FROM r)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(length(raw)) AS BIGINT) AS sum_len_raw,
         |  CAST(SUM(length(norm)) AS BIGINT) AS sum_len_norm,
         |  COUNT(CASE WHEN raw <> norm THEN 1 END) AS n_changed,
         |  COUNT(DISTINCT substr(md5(norm), 1, 8)) AS n_fp
         |FROM n GROUP BY 1""".stripMargin,

    "d5_embedding_neardup" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         |$adaptiveParamsSql,
         |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm,
         |      substr($signStrSql, 1, (SELECT sd FROM params)) AS bucket FROM v
         |      WHERE list_inner_product(ve, ve) > 0)
         |SELECT id_a, id_b, printf('%.4f', sim) AS sim_r FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         list_inner_product(a.ve, b.ve) / (a.nrm * b.nrm) AS sim
         |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |WHERE sim >= CAST('0.35' AS DOUBLE)""".stripMargin,

    // Multi-probe: a candidate pair collides in EITHER sign-bucket rotation
    // (rotation r keys dims [r·sd, (r+1)·sd), 1-indexed substr prefixes).
    "d5b_embedding_multiprobe" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         |$adaptiveParamsSql,
         |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm,
         |      substr($signStrSql, 1, (SELECT sd FROM params)) AS b0,
         |      substr($signStrSql, (SELECT sd FROM params) + 1, (SELECT sd FROM params)) AS b1 FROM v
         |      WHERE list_inner_product(ve, ve) > 0)
         |SELECT id_a, id_b, printf('%.4f', sim) AS sim_r FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         list_inner_product(a.ve, b.ve) / (a.nrm * b.nrm) AS sim
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id
         |                   AND (a.b0 = b.b0 OR a.b1 = b.b1))
         |WHERE sim >= CAST('0.35' AS DOUBLE)""".stripMargin,

    // Directed candidate relation (a ≠ b, same bucket), per-node top-4 by
    // (sim desc, nbr) — sim is symmetric bit-for-bit, so scoring each
    // undirected pair once on the Spark side changes nothing.
    "s13_knn_graph" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         |$adaptiveParamsSql,
         |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm,
         |      substr($signStrSql, 1, (SELECT sd FROM params)) AS bucket FROM v
         |      WHERE list_inner_product(ve, ve) > 0)
         |SELECT vec_id, rank, nbr_id, printf('%.4f', sim) AS sim_r FROM (
         |  SELECT a.vec_id, b.vec_id AS nbr_id,
         |         list_inner_product(a.ve, b.ve) / (a.nrm * b.nrm) AS sim,
         |         row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |           list_inner_product(a.ve, b.ve) / (a.nrm * b.nrm) DESC, b.vec_id) AS rank
         |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
         |WHERE rank <= 4""".stripMargin,

    "o5_series" ->
      """SELECT user_id,
        |  string_agg(printf('%.2f', value), ',' ORDER BY ts, event_id) AS series
        |FROM events GROUP BY user_id""".stripMargin,

    "o9_group_topk" ->
      """SELECT user_id, rk, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS INTEGER) AS rk
        |  FROM events) WHERE rk <= 3""".stripMargin,

    "a14_percentiles" ->
      """SELECT event_type,
        |  quantile_cont(value, CAST('0.5' AS DOUBLE)) AS p50,
        |  quantile_cont(value, CAST('0.95' AS DOUBLE)) AS p95,
        |  quantile_cont(value, CAST('0.99' AS DOUBLE)) AS p99,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,

    // Mirrors SeriesETL.gapFillMinutes + the daily rollup: same minute
    // truncation, same decimal accumulators, same forward-fill window.
    "a16_gapfill" ->
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
        |FROM f GROUP BY 1, 2""".stripMargin,

    // Mirrors SimilarityOps.centerNormalize: same decimal mean/norm
    // accumulators, same exactly rounded centering/normalizing chain.
    "s9_center_normalize" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        |p AS (SELECT vec_id, unnest(generate_series(1, len(ve))) AS dim,
        |             unnest(ve) AS x FROM v),
        |m AS (SELECT dim,
        |        CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE) / COUNT(x) AS mu
        |      FROM p GROUP BY 1),
        |c AS (SELECT vec_id, dim, x - mu AS c FROM p JOIN m USING (dim)),
        |n AS (SELECT vec_id,
        |        sqrt(CAST(SUM(CAST(c * c AS DECIMAL(38,10))) AS DOUBLE)) AS nrm
        |      FROM c GROUP BY 1),
        |y AS (SELECT c.vec_id, dim, nrm,
        |        CASE WHEN nrm = 0.0 THEN 0.0 ELSE c / nrm END AS y
        |      FROM c JOIN n USING (vec_id))
        |SELECT vec_id, COUNT(*) AS n_dims,
        |  printf('%.4f', MAX(nrm)) AS nrm_r,
        |  array_to_string(list(printf('%.4f', y) ORDER BY dim), ',') AS vec_r
        |FROM y GROUP BY 1""".stripMargin,

    "s3_quantize" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        |m AS (SELECT vec_id, ve, list_max(list_transform(ve, x -> abs(x))) AS maxabs FROM v)
        |SELECT vec_id, maxabs / 127.0 AS scale,
        |  array_to_string(
        |    CASE WHEN maxabs = 0.0 THEN list_transform(ve, x -> 0)
        |         ELSE list_transform(ve, x -> CAST(trunc(x / (maxabs / 127.0)) AS INTEGER)) END,
        |    ',') AS qvec
        |FROM m""".stripMargin,

    "p7_nan_encode" ->
      """SELECT event_id,
        |  CASE WHEN value IS NULL OR isnan(value) THEN 'NaN'
        |       ELSE printf('%.2f', value) END AS target_enc
        |FROM events""".stripMargin,

    "q6_filter_agg" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= CAST('0.02' AS DOUBLE) AND l_discount <= CAST('0.06' AS DOUBLE)
        |  AND l_quantity < 24""".stripMargin,

    "q3_top_orders" ->
      """SELECT l_orderkey, revenue, n_items FROM (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE) AS revenue,
        |    COUNT(*) AS n_items
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |  GROUP BY l_orderkey)
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    // tf/df reproduces exactly on both engines (single rounded division).
    "t6_top_terms" ->
      raw"""WITH tok AS (SELECT doc_id,
           |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
           |  FROM documents WHERE length(trim(text)) > 0),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
           |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |s AS (SELECT doc_id, term, tf, df, CAST(tf AS DOUBLE) / df AS score
           |      FROM tf JOIN dfreq USING (term))
           |SELECT doc_id, rank, term, tf, df, score
           |FROM (SELECT *, row_number() OVER (
           |        PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM s)
           |WHERE rank <= 3""".stripMargin,

    // Same digit-rebuilt hash as x1 (salt 'panel'), ranked per language.
    "x3_domain_panel" -> {
      val hexVal = (1 to 8).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('panel:' || CAST(doc_id AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
        .mkString(" + ")
      s"""SELECT doc_id, lang, panel_rank FROM (
         |  SELECT doc_id, lang, row_number() OVER (
         |    PARTITION BY lang ORDER BY ($hexVal), doc_id) AS panel_rank
         |  FROM documents)
         |WHERE panel_rank <= 20""".stripMargin
    },

    "t7_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text, ' '), '\s+') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd FROM t),
        |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i + 1])) AS gram
        |      FROM t WHERE len(toks) >= 2),
        |m AS (SELECT doc_id, max(c) AS top FROM (
        |        SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2) GROUP BY 1)
        |SELECT s.doc_id,
        |  CAST('1.0' AS DOUBLE) - CAST(nd AS DOUBLE) / n AS dup_token_frac,
        |  CASE WHEN n < 2 THEN CAST('0.0' AS DOUBLE)
        |       ELSE CAST(top AS DOUBLE) / (n - 1) END AS top_2gram_frac
        |FROM s LEFT JOIN m USING (doc_id)""".stripMargin,

    "t10_vocab" ->
      """WITH t AS (
        |  SELECT unnest(string_split_regex(trim(text, ' '), '\s+')) AS term
        |  FROM documents),
        |c AS (SELECT term, COUNT(*) AS n_occ FROM t WHERE term <> '' GROUP BY 1)
        |SELECT term, n_occ,
        |  row_number() OVER (ORDER BY n_occ DESC, term) - 1 AS vocab_id
        |FROM c QUALIFY vocab_id < 50""".stripMargin,

    // Same vocab ranking as t10, positions from the token array ordinals,
    // string_agg ordered by position.
    "t21_encode_ids" ->
      raw"""WITH tk0 AS (SELECT doc_id, string_split_regex(trim(text, ' '), '\s+') AS tk
           |            FROM documents),
           |alltok AS (SELECT unnest(tk) AS term FROM tk0),
           |vc AS (SELECT term, row_number() OVER (ORDER BY COUNT(*) DESC, term) - 1 AS vocab_id
           |       FROM alltok WHERE term <> '' GROUP BY term
           |       QUALIFY vocab_id < 50),
           |tok AS (SELECT doc_id, i - 1 AS pos, tk[i] AS term
           |        FROM tk0, (SELECT unnest(generate_series(1, len(tk))) AS i)
           |        WHERE tk[i] <> ''),
           |ids AS (SELECT t.doc_id, t.pos, COALESCE(v.vocab_id, -1) AS tid
           |        FROM tok t LEFT JOIN vc v USING (term))
           |SELECT doc_id, COUNT(*) AS n_tok,
           |  COUNT(*) FILTER (WHERE tid = -1) AS n_oov,
           |  string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) AS ids
           |FROM ids WHERE doc_id < 100 GROUP BY doc_id""".stripMargin,

    // t23: the same start-ladder (multiples of 48, keep start 0 plus any
    // start adding ≥1 token: start + 16 < n) over the same whitespace
    // tokens, chunks cut with DuckDB's 1-based inclusive list slicing.
    "t23_chunk_overlap" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |n AS (SELECT doc_id, toks, len(toks) AS n FROM d),
         |st AS (SELECT doc_id, toks, n, unnest(range(0, n, 48)) AS start FROM n),
         |k AS (SELECT doc_id, toks, start FROM st
         |      WHERE start = 0 OR start + 16 < n),
         |c AS (SELECT doc_id, start // 48 AS chunk_id, start AS chunk_start,
         |        toks[start + 1 : start + 64] AS chunk FROM k)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(chunk_start AS BIGINT) AS chunk_start,
         |  CAST(len(chunk) AS BIGINT) AS n_tokens,
         |  substr(md5(array_to_string(chunk, ' ')), 1, 8) AS fp8
         |FROM c""".stripMargin,

    // Mirrors TextOps.bigramPmi: same ≥2-token doc filter on both counts,
    // same integer counts, one mirrored IEEE chain inside the ln.
    "t12_pmi" ->
      raw"""WITH t AS (SELECT string_split_regex(trim(text, ' '), '\s+') AS toks
           |          FROM documents),
           |t2 AS (SELECT toks FROM t WHERE len(toks) >= 2),
           |uni AS (SELECT unnest(toks) AS w FROM t2),
           |uc AS (SELECT w, COUNT(*) AS n_w FROM uni GROUP BY 1),
           |nt AS (SELECT COUNT(*) AS n_tok FROM uni),
           |bg AS (SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
           |         i -> array_to_string(toks[i:i+1], ' '))) AS gram FROM t2),
           |nb AS (SELECT COUNT(*) AS n_bg FROM bg),
           |bc AS (SELECT gram, COUNT(*) AS n_ab FROM bg GROUP BY 1
           |       HAVING COUNT(*) >= 20),
           |j AS (SELECT bc.gram, bc.n_ab, a.n_w AS n_a, b.n_w AS n_b,
           |             nt.n_tok, nb.n_bg
           |      FROM bc
           |      JOIN uc a ON a.w = string_split(bc.gram, ' ')[1]
           |      JOIN uc b ON b.w = string_split(bc.gram, ' ')[2]
           |      CROSS JOIN nt CROSS JOIN nb)
           |SELECT gram, n_ab, n_a, n_b,
           |  printf('%.4f', ln(CAST(n_ab AS DOUBLE) * n_tok * n_tok /
           |                    (CAST(n_a AS DOUBLE) * n_b * n_bg))) AS pmi_r
           |FROM j""".stripMargin,

    // Positional self-join (b.i in (a.i+1 .. a.i+3)) — the naive relational
    // statement of the window; the engine's in-array generation must agree.
    "t29_skipgram" ->
      raw"""WITH w AS (SELECT doc_id, $toksSql AS ws FROM documents),
           |p AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
           |      FROM w WHERE len(ws) >= 2),
           |pr AS (SELECT least(a.w, b.w) AS w_a, greatest(a.w, b.w) AS w_b
           |       FROM p a JOIN p b ON a.doc_id = b.doc_id
           |                        AND b.i BETWEEN a.i + 1 AND a.i + 3)
           |SELECT w_a, w_b, COUNT(*) AS n_pair FROM pr GROUP BY 1, 2
           |HAVING COUNT(*) >= 20""".stripMargin,

    // Islands via pos − row_number over non-stop tokens; deg = Σ(len−1)
    // over phrase instances; integral per-word score, integer phrase sum.
    // Mirrors TextOps.gopherRules counter-for-counter: same augmentation
    // CASE chain, same '\s+' split with empty-token filter, same
    // non-overlapping replace() counts for '#'/'...', same LIKE shapes for
    // bullet/ellipsis lines; every flag an integer cross-multiplication.
    "t31_gopher_rules" -> {
      val bulletsSql = (1 to 10).map(i => s"- item $i").mkString("\n") + "\n"
      raw"""WITH aug AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 13 = 0 THEN t1 || ' ######## ... ... ...'
           |         ELSE t1 END AS t
           |  FROM (SELECT doc_id,
           |      CASE WHEN doc_id % 11 = 0
           |           THEN t0 || chr(10) || 'more to come...' || chr(10) || 'and then...'
           |           ELSE t0 END AS t1
           |    FROM (SELECT doc_id,
           |        CASE WHEN doc_id % 7 = 0 THEN '$bulletsSql' || text
           |             ELSE text END AS t0
           |      FROM documents))),
           |c AS (SELECT doc_id, t,
           |    list_filter(regexp_split_to_array(trim(t), '\s+'), w -> w <> '') AS ws,
           |    string_split(t, chr(10)) AS ls
           |  FROM aug),
           |n AS (SELECT doc_id,
           |    CAST(len(ws) AS BIGINT) AS n_words,
           |    CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT) AS sum_len,
           |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
           |    CAST(length(t) - length(replace(t, '#', '')) AS BIGINT) AS n_hash,
           |    CAST((length(t) - length(replace(t, '...', ''))) // 3 AS BIGINT) AS n_ell,
           |    CAST(len(ls) AS BIGINT) AS n_lines,
           |    CAST(len(list_filter(ls, l -> l LIKE '- %' OR l LIKE '* %')) AS BIGINT) AS n_bullet,
           |    CAST(len(list_filter(ls, l -> l LIKE '%...')) AS BIGINT) AS n_ell_lines,
           |    CAST(list_contains(ws, 'the') AS INT) + CAST(list_contains(ws, 'be') AS INT)
           |      + CAST(list_contains(ws, 'to') AS INT) + CAST(list_contains(ws, 'of') AS INT)
           |      + CAST(list_contains(ws, 'and') AS INT) + CAST(list_contains(ws, 'that') AS INT)
           |      + CAST(list_contains(ws, 'have') AS INT) + CAST(list_contains(ws, 'with') AS INT)
           |      AS n_stop
           |  FROM c),
           |f AS (SELECT doc_id, n_words, n_lines,
           |    CAST(n_words >= 50 AND n_words <= 100000 AS INT) AS f_wordcount,
           |    CAST(sum_len >= n_words * 3 AND sum_len <= n_words * 10 AS INT) AS f_meanlen,
           |    CAST((n_hash + n_ell) * 10 <= n_words AS INT) AS f_symbol,
           |    CAST(n_bullet * 10 <= n_lines * 9 AS INT) AS f_bullet,
           |    CAST(n_ell_lines * 10 <= n_lines * 3 AS INT) AS f_ellipsis,
           |    CAST(n_alpha * 10 >= n_words * 8 AS INT) AS f_alpha,
           |    CAST(n_stop >= 2 AS INT) AS f_stop
           |  FROM n)
           |SELECT doc_id, n_words, n_lines, f_wordcount, f_meanlen, f_symbol,
           |  f_bullet, f_ellipsis, f_alpha, f_stop,
           |  f_wordcount * f_meanlen * f_symbol * f_bullet * f_ellipsis
           |    * f_alpha * f_stop AS keep
           |FROM f""".stripMargin
    },

    "t30_rake_keywords" ->
      raw"""WITH t AS (SELECT doc_id, $toksSql AS ws FROM documents
           |           WHERE length(trim(text)) > 0),
           |p0 AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos
           |       FROM t),
           |ns AS (SELECT doc_id, w, pos,
           |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
           |  FROM p0 WHERE w NOT IN ('the','a','an','and','of','to','in','is')),
           |ph AS (SELECT doc_id, isl, string_agg(w, ' ' ORDER BY pos) AS phrase,
           |    count(*) AS n_words FROM ns GROUP BY 1, 2),
           |ph2 AS (SELECT phrase, CAST(n_words AS INT) AS n_words FROM ph
           |  WHERE n_words BETWEEN 2 AND 4),
           |wstat AS (SELECT w, count(*) AS freq,
           |    CAST(SUM(n_words - 1) AS BIGINT) AS deg
           |  FROM (SELECT n_words, unnest(string_split(phrase, ' ')) AS w FROM ph2)
           |  GROUP BY 1),
           |wsc AS (SELECT w, deg * 1000000 // freq AS score_e6 FROM wstat),
           |occ AS (SELECT phrase, n_words, count(*) AS n_occ FROM ph2
           |  GROUP BY 1, 2 HAVING count(*) >= 1),
           |ex AS (SELECT phrase, n_words, n_occ,
           |    unnest(string_split(phrase, ' ')) AS w FROM occ)
           |SELECT e.phrase, e.n_words, e.n_occ,
           |  CAST(SUM(s.score_e6) AS BIGINT) AS score_e6
           |FROM ex e JOIN wsc s USING (w) GROUP BY 1, 2, 3""".stripMargin,

    // Mirrors TextOps.bm25 expression-for-expression: every step except ln
    // is an exactly rounded IEEE op on identical operands, the constants
    // are the same parsed doubles, and the per-doc sum is an exact
    // DECIMAL(30,10) accumulate on both engines.
    "t11_bm25" ->
      raw"""WITH tok AS (SELECT doc_id,
           |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
           |  FROM documents WHERE length(trim(text)) > 0),
           |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
           |st AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
           |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
           |       WHERE term IN ('spark', 'query', 'window') GROUP BY 1, 2),
           |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
           |c AS (SELECT tf.doc_id,
           |        ln((st.n - dfq.df + CAST('0.5' AS DOUBLE)) / (dfq.df + CAST('0.5' AS DOUBLE))
           |           + CAST('1.0' AS DOUBLE))
           |        * ((tf.tf * CAST('2.2' AS DOUBLE)) /
           |           (tf.tf + CAST('1.2' AS DOUBLE) *
           |            (CAST('0.25' AS DOUBLE) + CAST('0.75' AS DOUBLE) * dl.dl / st.avgdl))) AS contrib
           |      FROM tf JOIN dl USING (doc_id) CROSS JOIN st JOIN dfq ON tf.term = dfq.term)
           |SELECT doc_id, COUNT(*) AS n_hit,
           |  printf('%.4f', CAST(SUM(CAST(contrib AS DECIMAL(30,10))) AS DOUBLE)) AS bm25_r
           |FROM c GROUP BY doc_id""".stripMargin,

    // Heaps curve in exact integers: fixed (doc_id, idx) reading order,
    // MIN(first position) per term, decile thresholds by integer division.
    "t19_vocab_growth" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text, ' '), '\s+') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, i AS idx, toks[i] AS t
        |  FROM d, LATERAL unnest(generate_series(1, len(toks))) AS u(i)
        |  WHERE toks[i] <> ''),
        |pos AS (SELECT t, row_number() OVER (ORDER BY doc_id, idx) AS pos FROM tok),
        |firsts AS (SELECT t, MIN(pos) AS fp FROM pos GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n FROM tok),
        |cps AS (SELECT i AS decile, (SELECT n FROM tot) * i // 10 AS cp
        |  FROM unnest(generate_series(1, 10)) AS g(i))
        |SELECT decile, CAST(cp AS BIGINT) AS n_tokens,
        |  COUNT(*) AS vocab_size
        |FROM firsts JOIN cps ON fp <= cp
        |GROUP BY 1, 2""".stripMargin,

    // Token entropy: H = ln N − (Σ c·ln c)/N, per-term DECIMAL(30,10)
    // truncation before the sum (t9 contract).
    "t18_token_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text, ' '), '\s+')) AS t
        |  FROM documents),
        |cnt AS (SELECT doc_id, t, COUNT(*) AS c FROM tok WHERE t <> '' GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
        |  printf('%.4f', ln(CAST(SUM(c) AS DOUBLE))
        |    - CAST(SUM(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) AS DECIMAL(30,10)))
        |           AS DOUBLE) / SUM(c)) AS entropy_r
        |FROM cnt GROUP BY doc_id""".stripMargin,

    // Same smoothed formula from first principles: train counts, vocab
    // map with the reserved OOV symbol, per-doc window pairing.
    // Mirrors kneserNeyScore stat-for-stat: same bigram relation as t27,
    // integer num/den rationals (×4 discount clearing), same backoff CASE,
    // ln on the identical double division, DECIMAL(30,10) mean, %.4f.
    "t32_kneser_ney" ->
      raw"""WITH d AS (SELECT doc_id,
        |    string_split_regex(trim(text, ' '), '\s+') AS toks
        |  FROM documents
        |  WHERE length(trim(text, ' ')) > 0
        |    AND len(string_split_regex(trim(text, ' '), '\s+')) >= 2),
        |tr AS (SELECT * FROM d WHERE doc_id % 7 <> 0),
        |te AS (SELECT * FROM d WHERE doc_id % 7 = 0),
        |trbg AS (SELECT
        |    unnest(list_transform(generate_series(1, len(toks) - 1),
        |                          i -> array_to_string(toks[i:i+1], ' '))) AS gram
        |  FROM tr),
        |trbg2 AS (SELECT gram, string_split(gram, ' ')[1] AS ctx,
        |    string_split(gram, ' ')[2] AS nxt FROM trbg),
        |cb AS (SELECT gram, COUNT(*) AS c_vw FROM trbg2 GROUP BY 1),
        |cc AS (SELECT ctx, COUNT(*) AS c_v, COUNT(DISTINCT nxt) AS n1v
        |       FROM trbg2 GROUP BY 1),
        |cw AS (SELECT nxt, COUNT(DISTINCT ctx) AS n1w FROM trbg2 GROUP BY 1),
        |vnbb AS (SELECT COUNT(DISTINCT gram) AS nbb FROM trbg2),
        |tetok AS (SELECT doc_id, i AS pos, toks[i] AS tok
        |  FROM te, (SELECT unnest(generate_series(1, len(toks))) AS i)),
        |tebg AS (SELECT doc_id, tok AS ctx,
        |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |  FROM tetok),
        |sc AS (SELECT t.doc_id,
        |    CASE WHEN cc.c_v IS NULL THEN COALESCE(cw.n1w, 0)
        |         ELSE greatest(COALESCE(cb.c_vw, 0) * 4 - 3, 0) * (SELECT nbb FROM vnbb)
        |              + 3 * cc.n1v * COALESCE(cw.n1w, 0) END AS num,
        |    CASE WHEN cc.c_v IS NULL THEN (SELECT nbb FROM vnbb)
        |         ELSE 4 * cc.c_v * (SELECT nbb FROM vnbb) END AS den
        |  FROM tebg t
        |  LEFT JOIN cb ON cb.gram = t.ctx || ' ' || t.nxt
        |  LEFT JOIN cc ON cc.ctx = t.ctx
        |  LEFT JOIN cw ON cw.nxt = t.nxt
        |  WHERE t.nxt IS NOT NULL),
        |cnt AS (SELECT doc_id, COUNT(*) AS n_bigrams,
        |    CAST(SUM(CASE WHEN num = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |  FROM sc GROUP BY 1),
        |mn AS (SELECT doc_id,
        |    CAST(SUM(CAST(ln(CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
        |                  AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) AS mean_logp
        |  FROM sc WHERE num > 0 GROUP BY 1)
        |SELECT c.doc_id, c.n_bigrams, c.n_zero,
        |  CASE WHEN mn.mean_logp IS NULL THEN NULL
        |       ELSE printf('%.4f', mn.mean_logp) END AS mean_logp_r
        |FROM cnt c LEFT JOIN mn ON mn.doc_id = c.doc_id""".stripMargin,

    "t27_heldout_ppl" ->
      raw"""WITH d AS (SELECT doc_id,
        |    string_split_regex(trim(text, ' '), '\s+') AS toks
        |  FROM documents
        |  WHERE length(trim(text, ' ')) > 0
        |    AND len(string_split_regex(trim(text, ' '), '\s+')) >= 2),
        |tr AS (SELECT * FROM d WHERE doc_id % 7 <> 0),
        |te AS (SELECT * FROM d WHERE doc_id % 7 = 0),
        |trbg AS (SELECT
        |    unnest(list_transform(generate_series(1, len(toks) - 1),
        |                          i -> array_to_string(toks[i:i+1], ' '))) AS gram
        |  FROM tr),
        |cb AS (SELECT gram, COUNT(*) AS nb FROM trbg GROUP BY 1),
        |cc AS (SELECT string_split(gram, ' ')[1] AS ctx, COUNT(*) AS nc
        |       FROM trbg GROUP BY 1),
        |vocab AS (SELECT DISTINCT unnest(toks) AS tok FROM tr),
        |vv AS (SELECT COUNT(*) AS v FROM vocab),
        |tetok0 AS (SELECT doc_id, i AS pos, toks[i] AS tok
        |  FROM te, (SELECT unnest(generate_series(1, len(toks))) AS i)),
        |tetok AS (SELECT doc_id, pos,
        |    CASE WHEN vc.tok IS NULL THEN '<unk>' ELSE t0.tok END AS m
        |  FROM tetok0 t0 LEFT JOIN vocab vc ON vc.tok = t0.tok),
        |tebg AS (SELECT doc_id, pos, m,
        |    lead(m) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |  FROM tetok),
        |sc AS (SELECT doc_id,
        |    ln(CAST(COALESCE(cb.nb, 0) + 1 AS DOUBLE)
        |       / CAST(COALESCE(cc.nc, 0) + (SELECT v FROM vv) + 1 AS DOUBLE)) AS logp
        |  FROM tebg
        |  LEFT JOIN cb ON cb.gram = tebg.m || ' ' || tebg.nxt
        |  LEFT JOIN cc ON cc.ctx = tebg.m
        |  WHERE tebg.nxt IS NOT NULL),
        |oov AS (SELECT doc_id,
        |    CAST(SUM(CASE WHEN m = '<unk>' THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |  FROM tetok GROUP BY 1)
        |SELECT sc.doc_id, COUNT(*) AS n_bigrams, o.n_oov,
        |  printf('%.4f',
        |    CAST(SUM(CAST(logp AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*))
        |    AS mean_logp_r
        |FROM sc JOIN oov o ON o.doc_id = sc.doc_id
        |GROUP BY sc.doc_id, o.n_oov""".stripMargin,

    "t9_lm_score" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text, ' '), '\s+') AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |           ELSE list_transform(generate_series(1, len(toks) - 1),
        |                               i -> array_to_string(toks[i:i+1], ' ')) END) AS gram
        |  FROM t),
        |b2 AS (SELECT doc_id, gram, string_split(gram, ' ')[1] AS ctx FROM bg),
        |cb AS (SELECT gram, COUNT(*) AS nb FROM b2 GROUP BY 1),
        |cc AS (SELECT ctx, COUNT(*) AS nc FROM b2 GROUP BY 1)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  printf('%.4f',
        |    CAST(SUM(CAST(ln(CAST(nb AS DOUBLE) / CAST(nc AS DOUBLE)) AS DECIMAL(30,10)))
        |         AS DOUBLE) / COUNT(*)) AS mean_logp_r
        |FROM b2 JOIN cb USING (gram) JOIN cc USING (ctx)
        |GROUP BY 1""".stripMargin,

    "t8_pii_redact" ->
      """WITH aug AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |         '@example.org or call +1-555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
        |    ELSE text END AS t
        |  FROM documents),
        |r AS (SELECT doc_id, t,
        |  regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS red
        |  FROM aug)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\+1-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  md5(red) AS red_fp
        |FROM r""".stripMargin,

    "x4_contamination" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text, ' '), '\s+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
        |           ELSE list_transform(generate_series(1, len(toks) - 3),
        |                               i -> array_to_string(toks[i:i+3], ' ')) END) AS gram
        |  FROM t),
        |bench AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 17 = 0)
        |SELECT doc_id, count(*) AS n_shared_grams
        |FROM sh JOIN bench USING (gram) WHERE doc_id % 17 <> 0 GROUP BY 1""".stripMargin,

    // x4b: d8's scrub CTEs with the gram set from the BENCH slice (bench
    // fallback grams for <4-token docs are inert — different space count).
    "x4b_decontam_scrub" ->
      raw"""WITH d AS (
           |  SELECT doc_id, string_split_regex(trim(text, ' '), '\s+') AS toks
           |  FROM documents
           |  WHERE length(trim(text, ' ')) > 0 AND doc_id % 17 <> 0),
           |bt AS (SELECT string_split_regex(trim(text, ' '), '\s+') AS toks
           |       FROM documents WHERE doc_id % 17 = 0),
           |bg AS (SELECT DISTINCT unnest(list_transform(
           |         generate_series(1, len(toks) - 3),
           |         i -> array_to_string(toks[i:i+3], ' '))) AS gram
           |       FROM bt WHERE len(toks) >= 4),
           |occ AS (
           |  SELECT doc_id, unnest(generate_series(1, len(toks) - 3)) AS i, toks
           |  FROM d WHERE len(toks) >= 4),
           |og AS (SELECT doc_id, i, array_to_string(toks[i:i+3], ' ') AS gram FROM occ),
           |cov AS (SELECT DISTINCT doc_id, pos FROM (
           |        SELECT og.doc_id, unnest(generate_series(og.i, og.i + 3)) AS pos
           |        FROM og JOIN bg USING (gram))),
           |tp AS (SELECT doc_id, unnest(toks) AS tok,
           |              unnest(generate_series(1, len(toks))) AS pos FROM d),
           |k AS (SELECT tp.doc_id AS kid, COUNT(*) AS n_kept,
           |             array_to_string(list(tp.tok ORDER BY tp.pos), ' ') AS cleaned
           |      FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos
           |      WHERE cov.doc_id IS NULL GROUP BY 1)
           |SELECT d.doc_id, len(d.toks) AS n_tokens,
           |  COALESCE(k.n_kept, 0) AS n_kept,
           |  md5(COALESCE(k.cleaned, '')) AS scrub_fp
           |FROM d LEFT JOIN k ON d.doc_id = k.kid""".stripMargin,

    "x5_hash_split" -> {
      val hexVal = (1 to 8).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
        .mkString(" + ")
      val ladder = graft.ops.Sampling.splitBoundaries(splitFractions)
        .map { case (name, bound) => s"WHEN ($hexVal) < $bound THEN '$name'" }
        .mkString(" ")
      s"""SELECT doc_id, lang, CASE $ladder END AS split FROM documents""".stripMargin
    },

    // x5's split ladder + the shared LSH pair CTEs; leak set recomputed
    // relationally.
    "x12_split_leakage" -> {
      val hexVal = (1 to 8).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
        .mkString(" + ")
      val ladder = graft.ops.Sampling.splitBoundaries(splitFractions)
        .map { case (name, bound) => s"WHEN ($hexVal) < $bound THEN '$name'" }
        .mkString(" ")
      s"""WITH $minhashCtes,
         |sp AS (SELECT doc_id, CASE $ladder END AS split FROM documents),
         |pj AS (SELECT p.id_a, p.id_b, sa.split AS sa, sb.split AS sb
         |  FROM pairs p JOIN sp sa ON sa.doc_id = p.id_a
         |  JOIN sp sb ON sb.doc_id = p.id_b),
         |tl AS (SELECT COUNT(DISTINCT id) AS n_test_leaked FROM (
         |  SELECT id_a AS id, sa AS s FROM pj WHERE sa <> sb
         |  UNION ALL SELECT id_b, sb FROM pj WHERE sa <> sb) WHERE s = 'test')
         |SELECT (SELECT COUNT(*) FROM pj) AS n_pairs,
         |  (SELECT COUNT(*) FROM pj WHERE sa = sb) AS n_within,
         |  (SELECT COUNT(*) FROM pj WHERE sa <> sb) AS n_cross,
         |  CASE WHEN (SELECT COUNT(*) FROM pj) = 0 THEN NULL
         |       ELSE (SELECT COUNT(*) FROM pj WHERE sa <> sb) * 10000
         |            // (SELECT COUNT(*) FROM pj) END AS cross_bp,
         |  tl.n_test_leaked
         |FROM tl""".stripMargin
    },

    "x6_shuffle" -> {
      val hexVal = (1 to 8).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
        .mkString(" + ")
      s"""SELECT doc_id,
         |  row_number() OVER (ORDER BY ($hexVal), doc_id) AS pos,
         |  CAST(($hexVal) % 8 AS INTEGER) AS shard
         |FROM documents""".stripMargin
    },

    // Mirrors DedupOps.containmentPairs: same tokenization/short-doc
    // fallback as d7 but 8-grams; rare-gram blocking df ∈ [2, 8]; exact
    // shared counts; containment = shared / min side.
    "d9_containment" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text, ' '), '\s+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |           ELSE list_transform(generate_series(1, len(toks) - 7),
        |                               i -> array_to_string(toks[i:i+7], ' ')) END) AS gram
        |  FROM t),
        |sz AS (SELECT doc_id, COUNT(*) AS n_grams FROM sh GROUP BY 1),
        |g AS (SELECT gram, COUNT(*) AS nd FROM sh GROUP BY 1),
        |rare AS (SELECT doc_id, gram FROM sh JOIN g USING (gram)
        |         WHERE nd BETWEEN 2 AND 8),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM rare a JOIN rare b USING (gram) WHERE a.doc_id < b.doc_id),
        |shr AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_shared
        |        FROM cand c
        |        JOIN sh a ON a.doc_id = c.id_a
        |        JOIN sh b ON b.doc_id = c.id_b AND a.gram = b.gram
        |        GROUP BY 1, 2)
        |SELECT s.id_a, s.id_b, s.n_shared,
        |  printf('%.4f', CAST(s.n_shared AS DOUBLE) / least(sa.n_grams, sb.n_grams))
        |    AS containment_r
        |FROM shr s JOIN sz sa ON s.id_a = sa.doc_id
        |JOIN sz sb ON s.id_b = sb.doc_id""".stripMargin,

    // Aligned positional unnests (DuckDB zips them); 0-based dim to match
    // posexplode; same decimal moment sums and double variance chain.
    "s10_dim_variance" ->
      """WITH p AS (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
        |    unnest(generate_series(1, len(embedding))) AS dim1
        |  FROM embeddings),
        |m AS (SELECT dim1 - 1 AS dim, COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE) AS sxx
        |  FROM p GROUP BY 1),
        |v AS (SELECT dim, n, sx / n AS mean,
        |    (sxx - sx * sx / n) / n AS variance FROM m),
        |r AS (SELECT *, row_number() OVER (
        |    ORDER BY CAST(floor(variance * 1e9) AS BIGINT) DESC, dim) AS vrank
        |  FROM v)
        |SELECT dim, n, printf('%.6f', mean) AS mean_r,
        |  printf('%.8f', variance) AS var_r, vrank
        |FROM r WHERE vrank <= 8""".stripMargin,

    // OOV vs the t10 vocabulary relation (same tokenization), rate in
    // exact integer basis points.
    "t17_oov_rate" ->
      raw"""WITH t AS (SELECT doc_id,
           |    unnest(string_split_regex(trim(text, ' '), '\s+')) AS term
           |  FROM documents),
           |tk AS (SELECT doc_id, term FROM t WHERE term <> ''),
           |c AS (SELECT term, COUNT(*) AS n_occ FROM tk GROUP BY 1),
           |v AS (SELECT term FROM (
           |    SELECT term, row_number() OVER (ORDER BY n_occ DESC, term) - 1 AS vid
           |    FROM c) WHERE vid < 1000)
           |SELECT tk.doc_id, COUNT(*) AS n_tokens,
           |  COUNT(*) FILTER (WHERE v.term IS NULL) AS n_oov,
           |  (COUNT(*) FILTER (WHERE v.term IS NULL)) * 10000 // COUNT(*) AS oov_bp
           |FROM tk LEFT JOIN v ON tk.term = v.term
           |GROUP BY 1""".stripMargin,

    // FULL OUTER reconciliation; decimal-exact equality classification.
    "o22_snapshot_diff" ->
      """WITH e AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day, value
        |  FROM events),
        |m AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM e),
        |a AS (SELECT user_id, COUNT(*) AS a_n,
        |    SUM(CAST(value AS DECIMAL(30,2))) AS a_s
        |  FROM e CROSS JOIN m WHERE day <= mid GROUP BY 1),
        |b AS (SELECT user_id, COUNT(*) AS b_n,
        |    SUM(CAST(value AS DECIMAL(30,2))) AS b_s
        |  FROM e CROSS JOIN m WHERE day > mid GROUP BY 1)
        |SELECT user_id, a_n, b_n,
        |  printf('%.2f', CAST(a_s AS DOUBLE)) AS a_s_r,
        |  printf('%.2f', CAST(b_s AS DOUBLE)) AS b_s_r,
        |  CASE WHEN a_n IS NULL THEN 'added'
        |       WHEN b_n IS NULL THEN 'removed'
        |       WHEN a_n = b_n AND a_s = b_s THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM a FULL OUTER JOIN b USING (user_id)""".stripMargin,

    // Full recompute — the incremental snapshot+delta merge must equal it.
    "o23_incremental_agg" ->
      """SELECT event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |  COUNT(*) AS n_events,
        |  printf('%.4f', CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE)) AS sum_r
        |FROM events GROUP BY 1, 2""".stripMargin,

    // Pivot = grouped conditional sums; absent cells NULL on both engines.
    "t16_lang_pivot" ->
      s"""WITH d AS (SELECT source, lang,
         |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS n_tok
         |  FROM documents)
         |SELECT source,
         |  CAST(SUM(CASE WHEN lang = 'de' THEN n_tok END) AS BIGINT) AS de,
         |  CAST(SUM(CASE WHEN lang = 'en' THEN n_tok END) AS BIGINT) AS en,
         |  CAST(SUM(CASE WHEN lang = 'es' THEN n_tok END) AS BIGINT) AS es,
         |  CAST(SUM(CASE WHEN lang = 'fr' THEN n_tok END) AS BIGINT) AS fr,
         |  CAST(SUM(CASE WHEN lang = 'zh' THEN n_tok END) AS BIGINT) AS zh
         |FROM d GROUP BY 1""".stripMargin,

    // TF-IDF: identical tokenization to t11; rank by the same truncated
    // BIGINT score key + term tie-break.
    "t15_tfidf" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
           |  FROM documents WHERE length(trim(text)) > 0),
           |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
           |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
           |nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
           |s AS (SELECT doc_id, term, tf, df,
           |    tf * ln(CAST(n AS DOUBLE) / df) AS score
           |  FROM tf JOIN dfq USING (term) CROSS JOIN nn),
           |r AS (SELECT doc_id, term, tf, df, score,
           |    row_number() OVER (PARTITION BY doc_id
           |      ORDER BY CAST(floor(score * 1e9) AS BIGINT) DESC, term) AS rank
           |  FROM s)
           |SELECT doc_id, term, rank, tf, df, printf('%.6f', score) AS score_r
           |FROM r WHERE rank <= 3""".stripMargin,

    "d7_dup_ngrams" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text, ' '), '\s+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
        |           ELSE list_transform(generate_series(1, len(toks) - 3),
        |                               i -> array_to_string(toks[i:i+3], ' ')) END) AS gram
        |  FROM t),
        |g AS (SELECT gram, COUNT(*) AS nd FROM sh GROUP BY 1)
        |SELECT doc_id, COUNT(*) AS n_grams,
        |  COUNT(*) FILTER (WHERE nd >= 2) AS n_dup_grams,
        |  (COUNT(*) FILTER (WHERE nd >= 2)) * 10000 // COUNT(*) AS dup_bp
        |FROM sh JOIN g USING (gram) GROUP BY 1""".stripMargin,

    // Mirrors DedupOps.spanScrub: same tokenization, 1-based positions,
    // cross-doc distinct-doc counts, inclusive 8-token cover windows.
    "d8_span_scrub" ->
      raw"""WITH d AS (
           |  SELECT doc_id, string_split_regex(trim(text, ' '), '\s+') AS toks
           |  FROM documents WHERE length(trim(text, ' ')) > 0),
           |occ AS (
           |  SELECT doc_id, unnest(generate_series(1, len(toks) - 7)) AS i, toks
           |  FROM d WHERE len(toks) >= 8),
           |og AS (SELECT doc_id, i, array_to_string(toks[i:i+7], ' ') AS gram FROM occ),
           |dup AS (SELECT gram FROM (
           |        SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM og GROUP BY 1)
           |        WHERE nd >= 2),
           |cov AS (SELECT DISTINCT doc_id, pos FROM (
           |        SELECT og.doc_id, unnest(generate_series(og.i, og.i + 7)) AS pos
           |        FROM og JOIN dup USING (gram))),
           |tp AS (SELECT doc_id, unnest(toks) AS tok,
           |              unnest(generate_series(1, len(toks))) AS pos FROM d),
           |k AS (SELECT tp.doc_id AS kid, COUNT(*) AS n_kept,
           |             array_to_string(list(tp.tok ORDER BY tp.pos), ' ') AS cleaned
           |      FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos
           |      WHERE cov.doc_id IS NULL GROUP BY 1)
           |SELECT d.doc_id, len(d.toks) AS n_tokens,
           |  COALESCE(k.n_kept, 0) AS n_kept,
           |  md5(COALESCE(k.cleaned, '')) AS scrub_fp
           |FROM d LEFT JOIN k ON d.doc_id = k.kid""".stripMargin,

    "t13_inverted_index" ->
      raw"""WITH tok AS (
           |  SELECT DISTINCT doc_id,
           |    unnest(string_split_regex(trim(text, ' '), '\s+')) AS term
           |  FROM documents WHERE length(trim(text, ' ')) > 0)
           |SELECT term, COUNT(*) AS df,
           |  array_to_string((list_sort(list(doc_id)))[1:10], ',') AS postings_head
           |FROM tok WHERE term <> '' GROUP BY 1""".stripMargin,

    "j6_range_join" ->
      """WITH bands AS (SELECT i AS band_id, CAST(i * i AS DOUBLE) AS lo,
        |                      CAST((i + 1) * (i + 1) AS DOUBLE) AS hi
        |               FROM range(0, 23) t(i))
        |SELECT band_id, lo, hi, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
        |GROUP BY 1, 2, 3""".stripMargin,

    // NAIVE overlap predicate join — deliberately independent of the
    // engine's bin-expansion + owner-bin plan (the strongest oracle form:
    // it gates the SEMANTICS, not a mirrored implementation).
    "j9_interval_join" ->
      """WITH a AS (SELECT user_id, event_id AS id_a,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS lo_a
        |  FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id, event_id AS id_b,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS lo_b
        |  FROM events WHERE event_type = 'view')
        |SELECT a.user_id, id_a, id_b,
        |  least(lo_a + 200, lo_b + 300) - greatest(lo_a, lo_b) AS overlap_c
        |FROM a JOIN b ON a.user_id = b.user_id
        |            AND lo_a < lo_b + 300 AND lo_b < lo_a + 200""".stripMargin,

    // Both stages of the prefix-rerank replayed with list slicing: prefix
    // cosine over ve[1:16] ranks the shortlist, full-dim cosine reranks.
    "s20_prefix_rerank" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        |p AS (SELECT vec_id, ve, ve[1:16] AS vp FROM v
        |      WHERE list_inner_product(ve, ve) > 0
        |        AND list_inner_product(ve[1:16], ve[1:16]) > 0),
        |short AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_inner_product(q.vp, c.vp) /
        |        (sqrt(list_inner_product(q.vp, q.vp)) * sqrt(list_inner_product(c.vp, c.vp))) DESC,
        |      c.vec_id) AS prank
        |  FROM p q JOIN p c ON q.vec_id < 5 AND q.vec_id <> c.vec_id)
        |  WHERE prank <= 20)
        |SELECT query_id, rank, neighbor_id, sim_r FROM (
        |  SELECT s.query_id, s.neighbor_id,
        |    row_number() OVER (PARTITION BY s.query_id ORDER BY
        |      list_inner_product(q.ve, c.ve) /
        |        (sqrt(list_inner_product(q.ve, q.ve)) * sqrt(list_inner_product(c.ve, c.ve))) DESC,
        |      s.neighbor_id) AS rank,
        |    printf('%.4f', list_inner_product(q.ve, c.ve) /
        |      (sqrt(list_inner_product(q.ve, q.ve)) * sqrt(list_inner_product(c.ve, c.ve)))) AS sim_r
        |  FROM short s JOIN p q ON q.vec_id = s.query_id
        |  JOIN p c ON c.vec_id = s.neighbor_id)
        |WHERE rank <= 5""".stripMargin,

    // s6's chain with the en-filter applied to BOTH the brute-force truth
    // corpus and the served candidates (filtered-retrieval truth).
    "s19_filtered_recall" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        |$adaptiveParamsSql,
        |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm FROM v
        |      WHERE list_inner_product(ve, ve) > 0),
        |en AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        |brute AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_inner_product(q.ve, c.ve) / (q.nrm * c.nrm) DESC,
        |                    c.vec_id) AS rank
        |  FROM n q JOIN n c ON q.vec_id < 5 AND q.vec_id <> c.vec_id
        |  JOIN en ON en.doc_id = c.vec_id) WHERE rank <= 5),
        |cent AS (SELECT vec_id AS cid, ve AS cv, nrm AS cnrm FROM n
        |         WHERE vec_id % (SELECT stride FROM params) = 0),
        |assign AS (SELECT vec_id, cid FROM (
        |  SELECT a.vec_id, c.cid, row_number() OVER (PARTITION BY a.vec_id
        |    ORDER BY list_inner_product(a.ve, c.cv) / (a.nrm * c.cnrm) DESC, c.cid) AS rn
        |  FROM n a CROSS JOIN cent c) WHERE rn = 1),
        |probes AS (SELECT qid, cid FROM (
        |  SELECT q.vec_id AS qid, c.cid, row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_inner_product(q.ve, c.cv) / (q.nrm * c.cnrm) DESC, c.cid) AS rn
        |  FROM n q CROSS JOIN cent c WHERE q.vec_id < 5) WHERE rn <= 2),
        |scored AS (
        |  SELECT p.qid AS query_id, x.vec_id AS neighbor_id,
        |         list_inner_product(q.ve, x.ve) / (q.nrm * x.nrm) AS sim
        |  FROM probes p JOIN assign a ON a.cid = p.cid
        |  JOIN n x ON x.vec_id = a.vec_id JOIN n q ON q.vec_id = p.qid
        |  JOIN en ON en.doc_id = x.vec_id
        |  WHERE x.vec_id <> p.qid),
        |ivf AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored) WHERE rank <= 5)
        |SELECT i.query_id,
        |  CAST(SUM(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  CAST(SUM(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 5 AS recall_at_5
        |FROM ivf i LEFT JOIN brute b USING (query_id, neighbor_id)
        |GROUP BY 1""".stripMargin,

    "s6_ann_recall" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        |$adaptiveParamsSql,
        |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm FROM v
        |      WHERE list_inner_product(ve, ve) > 0),
        |brute AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_inner_product(q.ve, c.ve) / (q.nrm * c.nrm) DESC,
        |                    c.vec_id) AS rank
        |  FROM n q JOIN n c ON q.vec_id < 5 AND q.vec_id <> c.vec_id) WHERE rank <= 5),
        |cent AS (SELECT vec_id AS cid, ve AS cv, nrm AS cnrm FROM n
        |         WHERE vec_id % (SELECT stride FROM params) = 0),
        |assign AS (SELECT vec_id, cid FROM (
        |  SELECT a.vec_id, c.cid, row_number() OVER (PARTITION BY a.vec_id
        |    ORDER BY list_inner_product(a.ve, c.cv) / (a.nrm * c.cnrm) DESC, c.cid) AS rn
        |  FROM n a CROSS JOIN cent c) WHERE rn = 1),
        |probes AS (SELECT qid, cid FROM (
        |  SELECT q.vec_id AS qid, c.cid, row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_inner_product(q.ve, c.cv) / (q.nrm * c.cnrm) DESC, c.cid) AS rn
        |  FROM n q CROSS JOIN cent c WHERE q.vec_id < 5) WHERE rn <= 2),
        |scored AS (
        |  SELECT p.qid AS query_id, x.vec_id AS neighbor_id,
        |         list_inner_product(q.ve, x.ve) / (q.nrm * x.nrm) AS sim
        |  FROM probes p JOIN assign a ON a.cid = p.cid
        |  JOIN n x ON x.vec_id = a.vec_id JOIN n q ON q.vec_id = p.qid
        |  WHERE x.vec_id <> p.qid),
        |ivf AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored) WHERE rank <= 5)
        |SELECT i.query_id,
        |  CAST(SUM(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  CAST(SUM(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 5 AS recall_at_5
        |FROM ivf i LEFT JOIN brute b USING (query_id, neighbor_id)
        |GROUP BY 1""".stripMargin,

    // Exclusive running sum over doc_id order → integer slice arithmetic.
    // `off` is CAST back to BIGINT: DuckDB's SUM returns HUGEINT and HUGEINT
    // arithmetic stays HUGEINT, which the driver's pandas bridge widens to
    // float64 — "17.0" vs Spark's "17" hash-mismatched in round 3 despite
    // identical values.
    "x2_sequence_packing" ->
      s"""WITH t AS (SELECT doc_id,
         |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS n_tokens
         |  FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
         |  FROM t)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  off // 512 AS seq_first,
         |  CASE WHEN n_tokens <= 0 THEN off // 512
         |       ELSE (off + n_tokens - 1) // 512 END AS seq_last,
         |  (CASE WHEN n_tokens <= 0 THEN off // 512
         |        ELSE (off + n_tokens - 1) // 512 END) - off // 512 AS n_splits
         |FROM c""".stripMargin,

    // The 32-bit hash is rebuilt digit-by-digit from md5('mix:' || doc_id)
    // and compared against the SAME integer thresholds the Spark map holds.
    "x1_mixture_sample" -> {
      val hexVal = (1 to 8).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
        .mkString(" + ")
      val thr = graft.SparkEntry.mixtureRates.toSeq.sortBy(_._1).map { case (d, r) =>
        s"WHEN lang = '$d' THEN ${graft.ops.Sampling.threshold(r)}"
      }.mkString(" ")
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ($hexVal) < (CASE $thr ELSE 0 END)""".stripMargin
    },

    // The composed pipeline under one oracle: x1's hash gate → x9's
    // quality chain over the SAMPLED set → x2's running sum in curriculum
    // (qkey DESC, doc_id) order.
    "c3_training_prep" -> {
      val hexVal = (1 to 8).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
        .mkString(" + ")
      val thr = graft.SparkEntry.mixtureRates.toSeq.sortBy(_._1).map { case (d, r) =>
        s"WHEN lang = '$d' THEN ${graft.ops.Sampling.threshold(r)}"
      }.mkString(" ")
      raw"""WITH sampled AS (SELECT doc_id, text FROM documents
           |  WHERE ($hexVal) < (CASE $thr ELSE 0 END)),
           |qb AS (SELECT doc_id, text,
           |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS ntok,
           |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
           |         ELSE len(list_filter($toksSql, t -> t IN ($stopIn))) END AS nsw,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |         ELSE CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS DOUBLE)
           |              / length(text) END AS praw
           |  FROM sampled),
           |q AS (SELECT doc_id,
           |    (least(length(text) / 500.0, 1.0)
           |     + (1.0 - least(praw * 5.0, 1.0))
           |     + least((CASE WHEN ntok = 0 THEN 0.0 ELSE CAST(nsw AS DOUBLE) / ntok END) * 4.0, 1.0)
           |    ) / 3.0 AS quality, ntok FROM qb),
           |k AS (SELECT doc_id, CAST(floor(quality * 1e9) AS BIGINT) AS qkey, ntok FROM q),
           |r AS (SELECT doc_id, qkey, ntok AS n_tokens,
           |    row_number() OVER (ORDER BY qkey DESC, doc_id) AS pos,
           |    COUNT(*) OVER () AS n,
           |    CAST(COALESCE(SUM(ntok) OVER (ORDER BY qkey DESC, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
           |  FROM k)
           |SELECT doc_id, qkey, (pos - 1) * 4 // n AS phase,
           |  CAST(n_tokens AS BIGINT) AS n_tokens,
           |  off // 512 AS seq_first,
           |  CASE WHEN n_tokens <= 0 THEN off // 512
           |       ELSE (off + n_tokens - 1) // 512 END AS seq_last
           |FROM r""".stripMargin
    },

    // x7: same digit-rebuilt hash (salt 'mixbudget'), same BIGINT
    // budget/share/threshold chain; DuckDB integer SUMs come back as
    // HUGEINT, so every aggregate casts to BIGINT.
    "x7_token_budget" -> {
      val hexVal = (1 to 8).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('mixbudget:' || CAST(doc_id AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
        .mkString(" + ")
      raw"""WITH d AS (SELECT doc_id, source,
           |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS n_tok,
           |    ($hexVal) AS h
           |  FROM documents),
           |pd AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS dom_tokens FROM d GROUP BY 1),
           |tt AS (SELECT CAST(SUM(dom_tokens) AS BIGINT) AS total_tokens,
           |              COUNT(*) AS n_domains FROM pd),
           |doms AS (SELECT source, dom_tokens,
           |    CAST(least(4294967296, ((total_tokens * 6 // 10 // n_domains) * 4294967296) // dom_tokens) AS BIGINT) AS thr
           |  FROM pd CROSS JOIN tt)
           |SELECT d.source, MAX(dom_tokens) AS dom_tokens, MAX(thr) AS thr,
           |  CAST(SUM(CASE WHEN h < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_sel,
           |  CAST(SUM(CASE WHEN h < thr THEN n_tok ELSE 0 END) AS BIGINT) AS sel_tokens
           |FROM d JOIN doms USING (source) GROUP BY 1""".stripMargin
    },

    // Curriculum: the t2 quality chain (transcendental-free, bit-exact),
    // truncated-BIGINT key, quartile phases by integer division.
    "x9_curriculum" ->
      raw"""WITH qb AS (SELECT doc_id, text,
           |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS ntok,
           |    CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
           |         ELSE len(list_filter($toksSql, t -> t IN ($stopIn))) END AS nsw,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |         ELSE CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS DOUBLE)
           |              / length(text) END AS praw
           |  FROM documents),
           |q AS (SELECT doc_id,
           |    (least(length(text) / 500.0, 1.0)
           |     + (1.0 - least(praw * 5.0, 1.0))
           |     + least((CASE WHEN ntok = 0 THEN 0.0 ELSE CAST(nsw AS DOUBLE) / ntok END) * 4.0, 1.0)
           |    ) / 3.0 AS quality FROM qb),
           |k AS (SELECT doc_id, CAST(floor(quality * 1e9) AS BIGINT) AS qkey FROM q),
           |r AS (SELECT doc_id, qkey,
           |    row_number() OVER (ORDER BY qkey DESC, doc_id) AS pos,
           |    COUNT(*) OVER () AS n FROM k)
           |SELECT doc_id, qkey, pos, (pos - 1) * 4 // n AS phase FROM r""".stripMargin,

    // Hamilton allocation mirrored integer-for-integer: floor quotas +
    // largest-remainder seats (ties by stratum), per-stratum fill in the
    // same salted-hash order.
    "x11_stratified_sample" -> {
      val hexVal = (1 to 8).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('strat:' || CAST(doc_id AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
        .mkString(" + ")
      s"""WITH sz AS (SELECT lang AS stratum, COUNT(*) AS n_s FROM documents GROUP BY 1),
         |nt AS (SELECT SUM(n_s) AS n_tot FROM sz),
         |q0 AS (SELECT stratum, 200 * n_s // n_tot AS q_floor,
         |       (200 * n_s) % n_tot AS rem FROM sz CROSS JOIN nt),
         |qr AS (SELECT stratum, q_floor, rem,
         |       row_number() OVER (ORDER BY rem DESC, stratum) AS extra_rank,
         |       200 - SUM(q_floor) OVER () AS n_extra FROM q0),
         |q AS (SELECT stratum,
         |      q_floor + CASE WHEN extra_rank <= n_extra THEN 1 ELSE 0 END AS quota
         |      FROM qr),
         |h AS (SELECT lang AS stratum, doc_id,
         |      row_number() OVER (PARTITION BY lang ORDER BY ($hexVal), doc_id)
         |        AS pick_rank
         |      FROM documents)
         |SELECT h.stratum AS lang, h.doc_id, h.pick_rank
         |FROM h JOIN q USING (stratum) WHERE h.pick_rank <= q.quota""".stripMargin
    },

    // √n weights floored to the 1e10 grid; allocation integer throughout.
    "x13_temperature_mix" -> {
      val hexVal = (1 to 8).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('temp:' || CAST(doc_id AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
        .mkString(" + ")
      s"""WITH sz AS (SELECT lang AS stratum, COUNT(*) AS n_s FROM documents GROUP BY 1),
         |w AS (SELECT stratum, n_s,
         |      CAST(floor(sqrt(CAST(n_s AS DOUBLE)) * 1e10) AS BIGINT) AS w10 FROM sz),
         |wt AS (SELECT SUM(w10) AS w_tot FROM w),
         |q0 AS (SELECT stratum, n_s, 200 * w10 // w_tot AS q_floor,
         |       (200 * w10) % w_tot AS rem FROM w CROSS JOIN wt),
         |qr AS (SELECT stratum, n_s, q_floor, rem,
         |       row_number() OVER (ORDER BY rem DESC, stratum) AS extra_rank,
         |       200 - SUM(q_floor) OVER () AS n_extra FROM q0),
         |q AS (SELECT stratum, n_s,
         |      CAST(q_floor + CASE WHEN extra_rank <= n_extra THEN 1 ELSE 0 END AS BIGINT) AS quota
         |      FROM qr),
         |h AS (SELECT lang AS stratum, doc_id,
         |      row_number() OVER (PARTITION BY lang ORDER BY ($hexVal), doc_id)
         |        AS pick_rank
         |      FROM documents)
         |SELECT h.stratum AS lang, h.doc_id, h.pick_rank, q.n_s, q.quota
         |FROM h JOIN q USING (stratum) WHERE h.pick_rank <= q.quota""".stripMargin
    },

    // A-Res weighted sample: u = (h+1)/2^32 exact, rank key
    // floor(ln(u)/max(w,1)·1e9) as BIGINT (t9 ln-truncation contract).
    "x8_weighted_sample" -> {
      val hexVal = (1 to 8).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('wrs:' || CAST(doc_id AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
        .mkString(" + ")
      s"""WITH d AS (SELECT doc_id, source, n_chars,
         |    CAST(floor(ln((($hexVal) + 1) / CAST('4294967296' AS DOUBLE))
         |               / greatest(n_chars, 1) * 1e9) AS BIGINT) AS wkey
         |  FROM documents),
         |r AS (SELECT *, row_number() OVER (ORDER BY wkey DESC, doc_id) AS wrank
         |      FROM d)
         |SELECT doc_id, source, n_chars, wkey, wrank FROM r
         |WHERE wrank <= 100""".stripMargin
    },

    // Packing arithmetic: overhead 2 ("[" + "]"), tx width 15, separator 1
    // → after k txs an envelope holds 16k+1 bytes; 16·7+1 = 113 ≤ 128 <
    // 129 → 7 txs per envelope. Oversize txs (event_id % 50 = 0) never
    // enter an envelope.
    "p8_envelope_batcher" ->
      """SELECT user_id,
        |  COUNT(*) AS n_txs,
        |  CAST(CEIL((COUNT(*) FILTER (WHERE event_id % 50 <> 0)) / 7.0) AS BIGINT) AS n_envelopes,
        |  COUNT(*) FILTER (WHERE event_id % 50 = 0) AS n_dropped,
        |  COUNT(*) FILTER (WHERE event_id % 50 <> 0) AS n_packed
        |FROM events GROUP BY 1""".stripMargin,

    // The regex alternation is the tokenizer (see TextOps.bpeishPattern):
    // merges beat the \S fallback under both engines' alternation semantics.
    // t1's word count + t5's subword regex per doc, lang rollup, x18
    // split-division basis points.
    "t33_fertility" ->
      s"""WITH d AS (SELECT lang,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_words,
         |    CAST(len(regexp_extract_all(lower(text), '${TextOps.bpeishPattern()}')) AS BIGINT) AS n_sub,
         |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS n_chars
         |  FROM documents WHERE length(trim(text)) > 0),
         |a AS (SELECT lang, CAST(SUM(n_words) AS BIGINT) AS words,
         |    CAST(SUM(n_sub) AS BIGINT) AS subs,
         |    CAST(SUM(n_chars) AS BIGINT) AS chars
         |  FROM d GROUP BY 1)
         |SELECT lang, words, subs, chars,
         |  (subs // words) * 10000 + ((subs % words) * 10000) // words AS fertility_bp,
         |  (chars // subs) * 10000 + ((chars % subs) * 10000) // subs AS chars_per_sub_bp
         |FROM a""".stripMargin,

    "t5_bpe_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(lower(text), '${TextOps.bpeishPattern()}')) AS BIGINT) AS n_subwords,
         |  CAST(length(regexp_replace(text, '\\s', '', 'g'))
         |       - len(regexp_extract_all(lower(text), '${TextOps.bpeishPattern()}')) AS BIGINT) AS n_merges
         |FROM documents""".stripMargin,

    // Naive forecast base = series value at position n-5; truth = last 5;
    // pinball at q ∈ {0.05, 0.5, 0.95} with weight 2/Σ|truth|. Series with
    // ≤ 5 points produce no base row and drop out, matching the Spark
    // side's n > 0 filter.
    "mon1_fleet_metrics" ->
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
        |FROM truth GROUP BY 1""".stripMargin,

    // Unrolled BPE training (g1's one-CTE-group-per-iteration contract):
    // chr(31) is the engine's U+001F symbol separator, replace() shares
    // Spark's left-to-right non-overlapping semantics (= greedy-leftmost
    // BPE merge), argmax tie-break (n DESC, a, b) mirrored exactly.
    "t28_bpe_train" -> {
      val roundCtes = (1 to 4).map { r =>
        s"""p$r AS (
           |  SELECT u.pr[1] AS a, u.pr[2] AS b, CAST(SUM(u.freq) AS BIGINT) AS n
           |  FROM (SELECT unnest(list_zip(syms[1:len(syms) - 1],
           |                               syms[2:len(syms)])) AS pr, freq
           |        FROM (SELECT string_split(w, chr(31)) AS syms, freq
           |              FROM v${r - 1})) u
           |  GROUP BY 1, 2),
           |m$r AS (SELECT CAST($r AS BIGINT) AS round, a, b, n FROM p$r
           |        ORDER BY n DESC, a, b LIMIT 1),
           |v$r AS (SELECT replace(t.w, m.a || chr(31) || m.b, m.a || m.b) AS w,
           |               t.freq
           |        FROM v${r - 1} t, m$r m)""".stripMargin
      }.mkString(",\n")
      raw"""WITH wc AS (
        |  SELECT term, COUNT(*) AS freq
        |  FROM (SELECT unnest(string_split_regex(trim(lower(text), ' '), '\s+')) AS term
        |        FROM documents)
        |  WHERE term <> '' GROUP BY 1),
        |v0 AS (SELECT array_to_string(regexp_extract_all(term, '.'), chr(31)) AS w,
        |              freq
        |       FROM wc),
        |$roundCtes
        |SELECT round, a, b, n FROM (
        |  ${(1 to 4).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")})""".stripMargin
    },

    // Same integer binning, Laplace smoothing, and one-division ln
    // argument; terms truncated DECIMAL(30,10) before the exact sum.
    "mon11_psi" ->
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
        |FROM terms GROUP BY 1""".stripMargin,

    "mon10_mad_outliers" ->
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
        |GROUP BY e.event_type, m.n, m.med, d.mad""".stripMargin,

    // Same 1e-10 integer grid, same 25-row centered frame (COUNT-gated
    // edges), same truncating integer division (DuckDB // and Spark div
    // both truncate toward zero — probed).
    "mon9_decompose" ->
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
        |FROM d LEFT JOIN se USING (hod)""".stripMargin,

    // Final CDC state per day band: ≤ 14 (except 5) v0 plain, 5 v3
    // tripled, 15-25 v1 doubled, > 25 never landed.
    "o31_cdc_apply" ->
      """WITH m AS (SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |    EXTRACT(day FROM ts) AS dom, value FROM events)
        |SELECT tx_minute, COUNT(*) AS total_nb_trx_1min,
        |  printf('%.4f', CAST(SUM(CAST(
        |    CASE WHEN dom = 5 THEN value * 3
        |         WHEN dom BETWEEN 15 AND 25 THEN value * 2
        |         ELSE value END AS DECIMAL(30,4))) AS DOUBLE)) AS fee_r
        |FROM m WHERE dom <= 25 GROUP BY tx_minute""".stripMargin,

    // Holt recurrence replayed as a RECURSIVE CTE: same init (l₁ = x₁,
    // b₁ = x₂ − x₁), same fixed-order update chain with string-cast double
    // literals, forecasts l + h·b; histories of length 1 carry forward.
    "mon8_holt_fleet" ->
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
        |FROM truth GROUP BY 1""".stripMargin,

    // The WAV payload round-trips through a real RIFF/PCM encode + decode;
    // the oracle recomputes the order-insensitive features relationally.
    "m1_wav_features" ->
      """SELECT user_id AS content_id,
        |  COUNT(*) AS n_frames,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 3 IN (0, 1)) AS BIGINT) AS n_nonzero,
        |  CAST(CASE WHEN COUNT(*) FILTER (WHERE event_id % 3 IN (0, 1)) > 0
        |            THEN 1 ELSE 0 END AS BIGINT) AS peak2
        |FROM events GROUP BY 1""".stripMargin,

    // The BMP payload round-trips through a real BITMAPINFOHEADER encode +
    // decode; the oracle recomputes dims and per-channel set-pixel counts
    // relationally (8-wide image, partial last row padded with black).
    // dHash recomputed from the pixel formula alone (never the container):
    // same 9×8 grid, same halves layout, same banding, same popcount cut.
    "m7_image_neardup" ->
      s"""WITH $dhashPairsCtes
         |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
         |FROM p WHERE hamming <= 4""".stripMargin,

    // the m7 chain + the d6 recursive-reachability component labels
    "m8_image_clusters" ->
      s"""WITH RECURSIVE $dhashPairsCtes,
         |pp AS (SELECT id_a, id_b FROM p WHERE hamming <= 4),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pp
         |          UNION SELECT id_b, id_a FROM pp),
         |reach(id, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT re.id, e.dst FROM reach re JOIN edges e ON re.r = e.src),
         |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT l.id AS user_id, l.cluster_id, CAST(c.n AS BIGINT) AS cluster_size
         |FROM lab l JOIN (SELECT cluster_id, count(*) AS n FROM lab GROUP BY 1) c
         |  USING (cluster_id)""".stripMargin,

    // m9: VAD segmentation restated as gaps-and-islands over the same
    // event_id-ordered per-user amplitude stream — a segment starts at a
    // voiced row whose predecessor (if any) is silent; run lengths come
    // from grouping voiced rows by their running segment id.
    // Features restated relationally; padding affects only the height
    // ceiling.
    // Sampled frames 0 and 3; per-frame sums from the pixel formula
    // (event_id·31 + f·17) % 256 over the same width-8 padded raster.
    "m13_gif_frames" ->
      """WITH g AS (SELECT user_id, f.frame, COUNT(*) AS n,
        |    CAST(SUM((event_id * 31 + f.frame * 17) % 256) AS BIGINT) AS s
        |  FROM events, (VALUES (0), (3)) AS f(frame)
        |  GROUP BY 1, 2)
        |SELECT user_id AS content_id, CAST(frame AS INT) AS frame,
        |  CAST(8 * ((n + 7) // 8) AS BIGINT) AS n_px,
        |  s AS idx_sum
        |FROM g""".stripMargin,

    // Pixel-formula recomputation, blind to the GIF hop: n from the
    // per-user count, dims from the width-8 zero-padded raster, index sum
    // from event_id % 256 (padding contributes 0).
    "m12_gif_features" ->
      """WITH g AS (SELECT user_id, COUNT(*) AS n,
        |    CAST(SUM(event_id % 256) AS BIGINT) AS s
        |  FROM events GROUP BY 1)
        |SELECT user_id AS content_id, CAST(8 AS BIGINT) AS width,
        |  CAST((n + 7) // 8 AS BIGINT) AS height,
        |  CAST(8 * ((n + 7) // 8) AS BIGINT) AS n_px,
        |  s AS idx_sum
        |FROM g""".stripMargin,

    "m11_pgm_features" ->
      """SELECT user_id, CAST(8 AS BIGINT) AS width,
        |  CAST(CEIL(COUNT(*) / 8.0) AS BIGINT) AS height,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 3 = 0) AS BIGINT) AS n_bright,
        |  CAST(200 * COUNT(*) FILTER (WHERE event_id % 3 = 0)
        |       + 17 * COUNT(*) FILTER (WHERE event_id % 3 <> 0) AS BIGINT)
        |    AS sum_gray
        |FROM events GROUP BY 1""".stripMargin,

    "m9_audio_segments" ->
      """WITH s AS (SELECT user_id, event_id,
        |    CASE event_id % 5 WHEN 0 THEN 16384 WHEN 1 THEN -16384
        |         WHEN 2 THEN 8192 ELSE 0 END AS amp
        |  FROM events),
        |f AS (SELECT user_id, event_id,
        |        CASE WHEN abs(amp) > 4096 THEN 1 ELSE 0 END AS v FROM s),
        |f2 AS (SELECT user_id, event_id, v,
        |         CASE WHEN v = 1 AND COALESCE(lag(v) OVER
        |               (PARTITION BY user_id ORDER BY event_id), 0) = 0
        |              THEN 1 ELSE 0 END AS seg_start
        |       FROM f),
        |g AS (SELECT user_id, event_id, v,
        |        SUM(seg_start)
        |          OVER (PARTITION BY user_id ORDER BY event_id
        |                ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM f2),
        |runs AS (SELECT user_id, sid, COUNT(*) AS run_len FROM g
        |         WHERE v = 1 GROUP BY user_id, sid),
        |agg AS (SELECT user_id, COUNT(*) AS n_samples,
        |          CAST(SUM(v) AS BIGINT) AS n_voiced FROM g GROUP BY user_id),
        |r AS (SELECT user_id, COUNT(*) AS n_segments, MAX(run_len) AS max_run
        |      FROM runs GROUP BY user_id)
        |SELECT a.user_id, a.n_samples,
        |  COALESCE(r.n_segments, 0) AS n_segments, a.n_voiced,
        |  CAST(COALESCE(r.max_run, 0) AS BIGINT) AS max_run
        |FROM agg a LEFT JOIN r USING (user_id)""".stripMargin,

    "m2_bmp_features" ->
      """SELECT user_id AS content_id,
        |  CAST(8 AS BIGINT) AS width,
        |  CAST(CEIL(COUNT(*) / 8.0) AS BIGINT) AS height,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 2 = 0) AS BIGINT) AS n_blue,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 3 = 0) AS BIGINT) AS n_green,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 5 = 0) AS BIGINT) AS n_red
        |FROM events GROUP BY 1""".stripMargin,

    // m6: the ×2 nearest-neighbor sample keeps the pixel at (row, col) iff
    // both are even, where rn ranks event_id within user (0-based) and the
    // original image is 8 wide. Resized dims: 4 × ceil(ceil(n/8)/2).
    "m6_resize_features" ->
      """WITH p AS (SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS rn
        |  FROM events),
        |n AS (SELECT user_id, COUNT(*) AS cnt FROM p GROUP BY 1),
        |s AS (SELECT user_id, event_id FROM p
        |      WHERE (rn // 8) % 2 = 0 AND (rn % 8) % 2 = 0)
        |SELECT n.user_id AS content_id,
        |  CAST(4 AS BIGINT) AS width,
        |  CAST(((cnt + 7) // 8 + 1) // 2 AS BIGINT) AS height,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 2 = 0) AS BIGINT) AS n_blue,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 3 = 0) AS BIGINT) AS n_green,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 5 = 0) AS BIGINT) AS n_red
        |FROM s JOIN n USING (user_id) GROUP BY 1, cnt""".stripMargin,

    // The PNG payload round-trips through a real zlib encode + filtered
    // decode; same relational recomputation as m2, 7-wide image.
    "m3_png_features" ->
      """SELECT user_id AS content_id,
        |  CAST(7 AS BIGINT) AS width,
        |  CAST(CEIL(COUNT(*) / 7.0) AS BIGINT) AS height,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 2 = 0) AS BIGINT) AS n_blue,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 3 = 0) AS BIGINT) AS n_green,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 5 = 0) AS BIGINT) AS n_red
        |FROM events GROUP BY 1""".stripMargin,

    // The JPEG payload round-trips through a real baseline encode + Huffman
    // decode + IDCT; uniform 8×8 blocks make the lossy container exact, so
    // the oracle recomputes dims and bright counts relationally (6 blocks
    // wide ⇒ 48 px; one source value ⇒ 64 px; pad blocks black).
    "m4_jpeg_features" ->
      """SELECT user_id AS content_id,
        |  CAST(48 AS BIGINT) AS width,
        |  CAST(8 * CEIL(COUNT(*) / 6.0) AS BIGINT) AS height,
        |  CAST(64 * COUNT(*) FILTER (WHERE event_id % 2 = 0) AS BIGINT) AS n_bright
        |FROM events GROUP BY 1""".stripMargin,

    // 4:2:0 color fixture: one 16×16 MCU (256 px) per event, 3 MCUs wide
    // ⇒ 48 px; white MCUs light all three channels, red only R, blue only
    // B, black/pad none — so the channel-count differences isolate each
    // color exactly.
    "m4b_jpeg420_features" ->
      """SELECT user_id AS content_id,
        |  CAST(48 AS BIGINT) AS width,
        |  CAST(16 * CEIL(COUNT(*) / 3.0) AS BIGINT) AS height,
        |  CAST(256 * COUNT(*) FILTER (WHERE event_id % 4 = 0) AS BIGINT) AS n_white_px,
        |  CAST(256 * COUNT(*) FILTER (WHERE event_id % 4 = 1) AS BIGINT) AS n_red_px,
        |  CAST(256 * COUNT(*) FILTER (WHERE event_id % 4 = 2) AS BIGINT) AS n_blue_px
        |FROM events GROUP BY 1""".stripMargin,

    // The AVI container round-trips each frame's JPEG bytes losslessly and
    // the uniform-block frames make the JPEG layer exact, so every video
    // feature is relational: frame f holds the events with event_id ≡ f
    // (mod 4) (one 64-px block each, 255 iff event_id ≡ 0 mod 3), frames
    // 0 and 2 are sampled (stride 2), empty frames carry one black
    // placeholder block, pad blocks are black, header height = frame 0's.
    "m5_video_features" ->
      """SELECT user_id AS content_id,
        |  CAST(48 AS BIGINT) AS width,
        |  CAST(8 * CEIL(GREATEST(COUNT(*) FILTER (WHERE event_id % 4 = 0), 1) / 6.0) AS BIGINT) AS height,
        |  CAST(4 AS BIGINT) AS n_frames,
        |  CAST(2 AS BIGINT) AS n_sampled,
        |  CAST(384 * (CEIL(GREATEST(COUNT(*) FILTER (WHERE event_id % 4 = 0), 1) / 6.0)
        |            + CEIL(GREATEST(COUNT(*) FILTER (WHERE event_id % 4 = 2), 1) / 6.0)) AS BIGINT) AS n_px,
        |  CAST(64 * COUNT(*) FILTER (WHERE event_id % 4 IN (0, 2) AND event_id % 3 = 0) AS BIGINT) AS n_bright
        |FROM events GROUP BY 1""".stripMargin,

    // Frame f's bright mass is exactly 64·|{id : id≡f (mod 4), id≡0 (mod
    // 3)}| (uniform blocks round-trip the codec losslessly), so the scene
    // cuts recompute relationally: four frame rows per user, lag, |Δ|≥128.
    "m10_scene_cuts" ->
      """WITH pf AS (
        |  SELECT e.user_id, f.frame_idx,
        |    64 * COUNT(*) FILTER (WHERE e.event_id % 4 = f.frame_idx
        |                            AND e.event_id % 3 = 0) AS bright
        |  FROM events e CROSS JOIN (VALUES (0), (1), (2), (3)) AS f(frame_idx)
        |  GROUP BY 1, 2
        |), d AS (
        |  SELECT user_id,
        |    bright - lag(bright) OVER (PARTITION BY user_id ORDER BY frame_idx)
        |      AS delta
        |  FROM pf
        |)
        |SELECT user_id, COUNT(*) AS n_frames,
        |  CAST(COUNT(*) FILTER (WHERE abs(delta) >= 128) AS BIGINT) AS n_cuts,
        |  CAST(MAX(abs(delta)) AS BIGINT) AS max_abs_delta
        |FROM d GROUP BY 1""".stripMargin,

    // Versioned-store contract: minutes upserted twice (days 1-15) surface
    // two identical versions in the full-history scan; the rest one.
    "o10_version_history" ->
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |  CAST(CASE WHEN min(extract(day FROM ts)) <= 15 THEN 2 ELSE 1 END AS BIGINT) AS n_versions,
        |  CAST(1 AS BIGINT) AS n_distinct_counts,
        |  CAST(COUNT(*) * (CASE WHEN min(extract(day FROM ts)) <= 15 THEN 2 ELSE 1 END) AS BIGINT) AS sum_over_versions
        |FROM events GROUP BY 1""".stripMargin,

    // State as of version 1: days ≤ 20 only, version = the delta that
    // wrote the minute (deltas are disjoint day ranges, so latest-wins
    // resolves to the one writer).
    "o24_time_travel" ->
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |  CAST(CASE WHEN min(extract(day FROM ts)) <= 10 THEN 0 ELSE 1 END AS BIGINT) AS version,
        |  COUNT(*) AS total_nb_trx_1min
        |FROM events WHERE extract(day FROM ts) <= 20 GROUP BY 1""".stripMargin,

    // The served additive view must equal the all-time batch aggregate.
    // Long-schema card mirrored metric-for-metric; the median is the same
    // (n+1)//2 order statistic under (n_tok, doc_id) order.
    "o39_dataset_card" ->
      raw"""WITH d AS (SELECT doc_id, lang, source,
           |    CASE WHEN length(trim(text)) = 0 THEN 0
           |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
           |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
           |  FROM documents),
           |t AS (SELECT COUNT(*) AS docs_total,
           |    CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
           |    COUNT(DISTINCT lang) AS langs,
           |    COUNT(DISTINCT source) AS sources,
           |    COUNT(DISTINCT fp) AS distinct_fp,
           |    CAST(MIN(n_tok) AS BIGINT) AS min_tok,
           |    CAST(MAX(n_tok) AS BIGINT) AS max_tok
           |  FROM d),
           |med AS (SELECT CAST(n_tok AS BIGINT) AS value FROM (
           |    SELECT n_tok, row_number() OVER (ORDER BY n_tok, doc_id) AS pos FROM d)
           |  WHERE pos = (SELECT (docs_total + 1) // 2 FROM t)),
           |s AS (
           |  SELECT 'docs_total' AS metric, CAST(docs_total AS BIGINT) AS value FROM t
           |  UNION ALL SELECT 'tokens_total', tokens_total FROM t
           |  UNION ALL SELECT 'langs_distinct', CAST(langs AS BIGINT) FROM t
           |  UNION ALL SELECT 'sources_distinct', CAST(sources AS BIGINT) FROM t
           |  UNION ALL SELECT 'exact_dup_docs', CAST(docs_total - distinct_fp AS BIGINT) FROM t
           |  UNION ALL SELECT 'exact_dup_bp',
           |    CAST((docs_total - distinct_fp) * 10000 // docs_total AS BIGINT) FROM t
           |  UNION ALL SELECT 'min_doc_tokens', min_tok FROM t
           |  UNION ALL SELECT 'max_doc_tokens', max_tok FROM t
           |  UNION ALL SELECT 'p50_doc_tokens', value FROM med
           |  UNION ALL SELECT 'tokens_lang_' || lang,
           |    CAST(SUM(n_tok) AS BIGINT) FROM d GROUP BY lang)
           |SELECT metric, value FROM s""".stripMargin,

    // e2e_vacuum serves the identical relation: a vacuum defect (live
    // epoch deleted / orphan visible) diverges from this truth.
    "e2e_vacuum" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  printf('%.4f', CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE)) AS sum_r
        |FROM events GROUP BY 1""".stripMargin,

    "e2e_view_maintain" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  printf('%.4f', CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE)) AS sum_r
        |FROM events GROUP BY 1""".stripMargin,

    // Post-truncation as-of-2 state: every minute, version = the (disjoint)
    // delta that wrote it — identical to the never-truncated state.
    "o25_retention" ->
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |  CAST(CASE WHEN min(extract(day FROM ts)) <= 10 THEN 0
        |            WHEN min(extract(day FROM ts)) <= 20 THEN 1
        |            ELSE 2 END AS BIGINT) AS version,
        |  COUNT(*) AS total_nb_trx_1min
        |FROM events GROUP BY 1""".stripMargin,

    // Clean batch recomputation of the streamed result: the fixture's
    // overlap duplicates are removed by dedup and its health-check txs by
    // the event-bus filter, so the final table must equal a per-minute agg
    // over the raw events (fee := event_id % 10000, integer → exact sums).
    "e2e_stream_agg" ->
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |  COUNT(*) AS total_nb_trx_1min,
        |  CAST(SUM(event_id % 10000) AS BIGINT) AS total_fee_1min,
        |  CAST(SUM(event_id % 10000) AS DOUBLE) / COUNT(*) AS avg_fee_1min
        |FROM events GROUP BY 1""".stripMargin,

    // Truncated-firehose recomputation INCLUDING the never-sealed final
    // minute (epoch_us floor-division mirrors Spark's unix_timestamp
    // second truncation).
    "e2e_idle" ->
      """WITH m AS (
        |  SELECT (MAX(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000) // 60) * 60 + 30 AS cut
        |  FROM events),
        |e AS (SELECT * FROM events, m
        |      WHERE epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 < m.cut)
        |SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |  COUNT(*) AS total_nb_trx_1min,
        |  CAST(SUM(event_id % 10000) AS BIGINT) AS total_fee_1min,
        |  CAST(SUM(event_id % 10000) AS DOUBLE) / COUNT(*) AS avg_fee_1min
        |FROM e GROUP BY 1""".stripMargin,

    // The stream-stream join sink must hold exactly the batch interval
    // join (every qualifying pair matched once, none evicted early).
    "e2e_stream_join" ->
      """SELECT c.user_id, c.event_id AS click_id, e.event_id AS err_id,
        |  epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_t_us,
        |  epoch_us(CAST(e.ts AS TIMESTAMP)) AS err_t_us,
        |  c.value AS click_value
        |FROM events c JOIN events e
        |  ON c.user_id = e.user_id
        | AND c.event_type = 'click' AND e.event_type = 'error'
        | AND e.ts >= c.ts - INTERVAL 21600 SECOND AND e.ts <= c.ts""".stripMargin,

    // Every click exactly once: matched rows with err_id, unmatched with
    // NULL — the outer sink equals the batch LEFT JOIN.
    "e2e_stream_outer_join" ->
      """SELECT c.user_id, c.event_id AS click_id, e.event_id AS err_id,
        |  epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_t_us
        |FROM events c LEFT JOIN events e
        |  ON c.user_id = e.user_id
        | AND e.event_type = 'error'
        | AND e.ts >= c.ts - INTERVAL 21600 SECOND AND e.ts <= c.ts
        |WHERE c.event_type = 'click'""".stripMargin,

    // The deduped sink is exactly the original events relation — every
    // injected copy dropped, every original kept once.
    "e2e_stream_dedup" ->
      """SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, value
        |FROM events""".stripMargin,

    // Same contract under out-of-order arrival: the copy's 30 h arrival
    // delay changes WHEN it is seen, never what survives.
    "e2e_stream_dedup_ooo" ->
      """SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, value
        |FROM events""".stripMargin,

    // Stream-static enrichment sink equals the plain batch LEFT JOIN
    // against the frozen dimension (dim withholds user_id ≡ 0 mod 17;
    // those rows must surface as 'unknown', never drop).
    "e2e_stream_enrich" ->
      """WITH dim AS (
        |  SELECT user_id,
        |    CASE WHEN COUNT(*) >= 20 THEN 'heavy'
        |         WHEN COUNT(*) >= 10 THEN 'mid'
        |         ELSE 'light' END AS tier
        |  FROM events GROUP BY user_id HAVING user_id % 17 <> 0)
        |SELECT e.user_id, e.event_id,
        |  COALESCE(d.tier, 'unknown') AS tier, e.value
        |FROM events e LEFT JOIN dim d USING (user_id)""".stripMargin,

    // Batch sessionization (a11's gap-split) + per-session decimal-exact
    // value sums — the streaming replay's sink must reproduce it exactly.
    "e2e_session" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, value FROM events),
        |f AS (SELECT user_id, t, value,
        |        CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w >= 1800000000
        |             THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |g AS (SELECT user_id, t, value,
        |        sum(ns) OVER (PARTITION BY user_id ORDER BY t
        |                      ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        |SELECT user_id, min(t) AS session_start_us, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM g GROUP BY user_id, sid""".stripMargin,

    // Batch recomputation of the transformWithState running profile: the
    // processor's integer state arithmetic is slicing-independent, so the
    // final snapshot per user must equal this direct aggregate.
    "e2e_tws_profile" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  COUNT(DISTINCT event_type) AS n_types,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value,
        |  min(epoch_us(CAST(ts AS TIMESTAMP))) AS first_ts_us,
        |  max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_ts_us
        |FROM events GROUP BY 1""".stripMargin,

    // Clean recomputation EXCLUDING exactly the deterministically-delayed
    // subset (event_id % 13 = 0, not an overlap-dup candidate, outside the
    // 1 h tail) — those rows arrive beyond the 60 s watermark and must be
    // discarded by the streaming aggregate.
    "e2e_late_drop" ->
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |  COUNT(*) AS total_nb_trx_1min,
        |  CAST(SUM(event_id % 10000) AS BIGINT) AS total_fee_1min,
        |  CAST(SUM(event_id % 10000) AS DOUBLE) / COUNT(*) AS avg_fee_1min
        |FROM events
        |WHERE NOT (event_id % 13 = 0 AND event_id % 7 <> 0
        |           -- second-truncated on both sides: the fixture writer
        |           -- compares unix_timestamp (floor seconds) values
        |           AND date_trunc('second', ts) <
        |               date_trunc('second', (SELECT max(ts) FROM events)) - INTERVAL 1 HOUR)
        |GROUP BY 1""".stripMargin
  )
}
