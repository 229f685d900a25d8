package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.TextOps

/** Helpers that more than one query family uses. */
private[queries] object Shared {
  def ev(s: SparkSession, dir: String) = Tables.events(s, dir)

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
  def dhashRelations(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
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

  def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)

  def emb(s: SparkSession, dir: String) = Tables.embeddings(s, dir)

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
  def scratch(name: String): String = {
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
  def fanOut(df: DataFrame, key: Column): DataFrame = {
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
  object Adaptive {
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

  /** lag-1 prediction frame used by the evaluation queries (a5/a6/a7): the
    * previous value of the same user is the "forecast" — deterministic and
    * oracle-expressible, standing in for the external DeepAR model the
    * reference treats as a black box (SURVEY.md §7.5). */
  def predFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev(s, dir)
      .withColumn("prediction", lag(col("value"), 1).over(w))
      .filter(col("prediction").isNotNull)
      .select(col("event_id"), col("value").as("target"), col("prediction"))
  }

  val predSql =
    """SELECT event_id, value AS target, prediction FROM (
      |  SELECT event_id, value,
      |         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prediction
      |  FROM events) WHERE prediction IS NOT NULL""".stripMargin

  /** Pinball loss mirrored in Spark and SQL: q*(t-p) / (1-q)*(p-t). */
  def ql(q: Double): Column =
    when(col("target") > col("prediction"), lit(q) * (col("target") - col("prediction")))
      .otherwise(lit(1.0 - q) * (col("prediction") - col("target")))

  /** NB: fractional literals are written CAST('…' AS DOUBLE) — DuckDB parses
    * bare decimal literals as DECIMAL and its decimal→double conversion can be
    * 1 ULP off the correctly-rounded string→double parse (e.g.
    * 0.050000000000000044 → 0.05000000000000005). */
  def qlSql(q: Double): String =
    s"CASE WHEN target > prediction THEN CAST('$q' AS DOUBLE) * (target - prediction) " +
      s"ELSE CAST('${1.0 - q}' AS DOUBLE) * (prediction - target) END"

  val fpSql = raw"md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))"

  val toksSql = raw"regexp_split_to_array(trim(text), '\s+')"

  /** Shared CTE chain computing the MinHash signature relation, its banded
    * view, and the distinct LSH candidate pairs — mirrored by
    * DedupOps.signatures/bandedSignatures/lshCandidateIds. `source` is the
    * relation scanned for (doc_id, text) — `documents` everywhere except
    * d19, which bands a synthesized degenerate corpus. */
  def minhashCtes: String = minhashCtesFrom("documents")

  def minhashCtesFrom(source: String): String = {
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

  /** Shared k-NN graph prefix for the g4/g5 oracles: the same s13 edge
    * relation as g1/g2/g3 plus its undirected closure and neighbor/degree
    * relations. */
  def knnUndirectedCtes: String =
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

  def minhashOracle: String = {
    val eq = (0 until 16).map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $minhashCtes
       |SELECT p.id_a, p.id_b, CAST(($eq) AS DOUBLE) / 16 AS est_jaccard
       |FROM pairs p JOIN sig sa ON p.id_a = sa.doc_id JOIN sig sb ON p.id_b = sb.doc_id""".stripMargin
  }

  val stopIn = TextOps.defaultStopwords.map(w => s"'$w'").mkString(", ")

  /** Mixture weights for x1 (lang → sampling rate); the oracle SQL is
    * generated from this same map so the two can never drift. */
  val mixtureRates: Map[String, Double] =
    Map("en" -> 0.9, "zh" -> 0.5, "es" -> 0.5, "de" -> 0.25, "fr" -> 0.1)

  /** Split fractions for x5; oracle CASE ladder generated from the same
    * boundary list ([[graft.ops.Sampling.splitBoundaries]]). */
  val splitFractions: Seq[(String, Double)] =
    Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1)

  /** Recursive-transitive-closure component labeling of the thresholded
    * LSH pair graph (shared by d6 and d6b — same contract, two algorithms). */
  /** Shared m7/m8 oracle CTE chain ending in `p` (id_a, id_b, hamming):
    * dHash from the pixel formula alone — never the container. */
  def dhashPairsCtes: String =
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

  /** Full 64-char sign string of the embedding (1-indexed dims in DuckDB);
    * the adaptive bucket key is a prefix substring of width sd (out-of-range
    * dims read NULL → '0', matching Spark's null-index semantics). */
  def signStrSql: String =
    (1 to 64).map(i => s"(CASE WHEN ve[$i] >= 0 THEN '1' ELSE '0' END)").mkString(" || ")

  /** `params` CTE exposing the corpus-adaptive knobs (see [[Adaptive]]) —
    * integer CASE ladders over COUNT(*), exact on both engines. */
  def adaptiveParamsSql: String =
    s"""params AS (SELECT ${Adaptive.strideSql("cnt")} AS stride,
       |                  ${Adaptive.signDimsSql("cnt")} AS sd
       |           FROM (SELECT count(*) AS cnt FROM embeddings))""".stripMargin

  def ivfOracle: String =
    ivfOracle("vec_id % (SELECT stride FROM params) = 0")

  /** IVF top-k oracle parameterized by the centroid-set predicate (s2/s4 use
    * the stride-0 set; s5's drift re-assignment the stride/2 offset), the
    * base-vector relation `vSql` (s12b substitutes the MIPS-augmented
    * corpus) and the query relation `qSql` (s12b substitutes zero-augmented
    * queries — the augmentation is asymmetric by construction). */
  def ivfOracle(centroidPred: String,
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
}
