package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, Exact, SimilarityOps, TextOps}

import Kind.Throughput
import Shared._

/** Training-data preparation: mixture and weighted sampling, splits,
  * shuffles, packing, decontamination. */
private[queries] object DataPrepQueries {
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

  val all: Seq[Query] = Seq(
    // X25 — temporal train/test split with a leakage EMBARGO (the
    // financial-ML splitting rule): windowed features computed near the
    // boundary leak future information, so a one-day gap on each side of
    // the 4/5 cutoff is assigned to NEITHER split. Cutoff and embargo are
    // exact integer day arithmetic off the (min, max) day span — one
    // metadata-sized scalar broadcast; the per-row assignment is a narrow
    // codegen map. Emitted as per-(split, type) counts + exact cents.
    Query("x25_embargo_split", Throughput, (s, dir) => {
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
    },
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
        |FROM tagged GROUP BY 1, 2""".stripMargin),

    // X10 — deterministic source-interleaved training order: rank within
    // source (narrow per-source window), then global order by (rank,
    // source) — round-robin across sources, so no domain ever runs
    // consecutively longer than the source-count imbalance forces; the
    // anti-clumping policy a mixture-trained model wants on top of x6's
    // uniform shuffle. Global position via the two-pass range-partitioned
    // rank ([[graft.ops.Ranking.globalRowNumber]]) — never a single-
    // partition window over the corpus.
    Query("x10_interleave", Throughput, (s, dir) => {
      val r = docs(s, dir).select(col("doc_id"), col("source"))
        .withColumn("r", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("doc_id"))))
      graft.ops.Ranking.globalRowNumber(
          r, Seq(col("r"), col("source"), col("doc_id")), "pos")
        .select(col("doc_id"), col("source"), col("r"), col("pos"))
    },
      // Round-robin interleave: per-source rank, then (rank, source) global
      // order — unique keys make the position engine-independent.
      """WITH r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS r
        |  FROM documents)
        |SELECT doc_id, source, r,
        |  CAST(row_number() OVER (ORDER BY r, source, doc_id) AS BIGINT) AS pos
        |FROM r""".stripMargin),

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
    Query("x21_source_cap", Throughput, (s, dir) => {
      val cap = 40
      docs(s, dir).select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string")).as("h"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id")))
          .cast("long"))
        .filter(col("rk") <= cap)
        .select(col("doc_id"), col("source"), col("rk"))
    },
      // One flat window rank — independent of the engine's salted two-stage
      // top-k (the salt is plan-only; the md5 rank order is the contract).
      """SELECT doc_id, source, rk FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 40""".stripMargin),

    // X22 — deterministic per-epoch dataloader shuffle: every training
    // epoch must see the corpus in a DIFFERENT but REPRODUCIBLE order
    // (seed-stable restarts, different mixing per epoch). Order key =
    // md5(epoch ':' doc_id) — a new permutation per epoch, bit-stable
    // across runs. The global position comes from the two-pass
    // range-partitioned ranker (ops/Ranking.scala) — at 100 TB a global
    // ORDER BY would funnel the corpus through one sort; the ranker ships
    // one long per partition to the driver instead.
    Query("x22_epoch_shuffle", Throughput, (s, dir) => {
      val epochs = docs(s, dir).select(col("doc_id"))
        .withColumn("epoch", explode(array(lit(0), lit(1))))
        .withColumn("h", md5(concat(col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string"))))
      graft.ops.Ranking.globalRowNumber(epochs,
          Seq(col("epoch"), col("h"), col("doc_id")), "pos")
        .select(col("epoch"), col("doc_id"), col("pos"))
    },
      // One flat global sort — independent of the engine's two-pass
      // range-partitioned ranker (the ranker is plan-only; the md5 order is
      // the contract).
      """SELECT epoch, doc_id,
        |  row_number() OVER (ORDER BY epoch,
        |    md5(epoch || ':' || CAST(doc_id AS VARCHAR)), doc_id) AS pos
        |FROM (SELECT doc_id, unnest([0, 1]) AS epoch FROM documents)""".stripMargin),

    // X24 — k-anonymity audit with a generalization ladder (the
    // data-governance gate a training corpus with user-linked fields
    // needs): quasi-identifier group sizes at two generalization levels —
    // level 0 = (nation, segment), level 1 = (region, segment), the
    // hierarchy step that repairs level-0 violations — each group flagged
    // against k=5. Two partial-aggregated exchanges; the dim joins
    // broadcast. Suppression/generalization decisions read straight off
    // the violates flags.
    Query("x24_k_anonymity", Throughput, (s, dir) => {
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
    },
      // c_nationkey is BIGINT and n_regionkey INT in the parquet — both
      // sides align the ladder's geo key to BIGINT.
      """SELECT 0 AS level, CAST(c_nationkey AS BIGINT) AS qi_geo,
        |  c_mktsegment AS qi_seg, COUNT(*) AS n,
        |  CASE WHEN COUNT(*) < 5 THEN 1 ELSE 0 END AS violates
        |FROM customer GROUP BY 2, 3
        |UNION ALL
        |SELECT 1, CAST(n_regionkey AS BIGINT), c_mktsegment, COUNT(*),
        |  CASE WHEN COUNT(*) < 5 THEN 1 ELSE 0 END
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 2, 3""".stripMargin),

    // X26 — deterministic minority UP-sampling (the complement of x23's
    // downsampling cap): every class is replicated up to the MAJORITY
    // class size — whole copies via an explode over a per-class
    // replication count, the remainder chosen by the same md5 rank order
    // as the rest of the sampling family. Emitted as per-(class, doc)
    // multiplicities (the dataloader consumes weights, not physically
    // duplicated rows — at 100 TB you never materialize the copies).
    Query("x26_oversample", Throughput, (s, dir) => {
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
    },
      """WITH d AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |sizes AS (SELECT lang, COUNT(*) AS n FROM d GROUP BY 1),
        |mx AS (SELECT MAX(n) AS mx FROM sizes),
        |r AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
        |  FROM d)
        |SELECT r.lang, r.doc_id,
        |  CAST(mx // n + CASE WHEN rk <= mx % n THEN 1 ELSE 0 END AS BIGINT) AS mult
        |FROM r JOIN sizes USING (lang), mx""".stripMargin),

    // X28 — FIM span-corruption prep (fill-in-the-middle pretraining,
    // Bavarian et al. 2022): per document, two deterministic cut points
    // over the token sequence split it into (prefix, middle, suffix), and
    // a hash-derived 50% of docs get the transform (the published FIM
    // rate). Every decision is integer/hash arithmetic over the salted
    // md5 convention (Sampling.hash32) — no RNG, so the corpus transform
    // is reproducible and auditable on any engine/partitioning. One scan,
    // all codegen'd per-row ops — d1's scale shape.
    Query("x28_fim_splits", Throughput, (s, dir) => {
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
    },
      // hash32 restated via the strpos hex ladder (the x5 convention), the
      // t1 token count, and the same pure-integer cut arithmetic.
      {
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
    }),

    // X29 — data-constrained epoch allocation (Muennighoff et al. 2023):
    // a 3.5×-unique-tokens training budget distributed across languages by
    // √-temperature weights with a 4-epoch repeat cap; budget a capped
    // language can't absorb water-fills to the uncapped ones (3 unrolled
    // rounds — the fixture caps four of five langs in round 1, en absorbs
    // the excess in round 2, round 3 proves the fixpoint). Everything
    // integer on the established grids ([[graft.ops.Sampling.epochBudget]]);
    // the relation is strata-sized end to end regardless of corpus size.
    Query("x29_epoch_budget", Throughput, (s, dir) =>
      graft.ops.Sampling.epochBudget(
          docs(s, dir).select(col("lang"),
            TextOps.tokenCount(col("text")).as("tc")),
          col("lang"), col("tc"), budgetBp = 35000L, maxEpochs = 4)
        .select(col("stratum").as("lang"), col("toks"), col("alloc_tokens"),
          col("epochs_bp"), col("capped")),
      // the x13 sqrt grid, the shared budget constant, and THREE unrolled
      // water-fill rounds — pool/active-weight as 1-row CTEs per round,
      // share_bp and give in the identical integer order of operations.
      {
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
    }),

    // X30 — DSIR data selection (Xie et al., NeurIPS 2023): importance
    // weights from hashed unigram+bigram LMs (4096 md5 buckets — the t26
    // idiom) of the target domain (lang='en') vs the raw pool, top-100
    // kept. The top-k is a TakeOrderedAndProject (distributed heads, no
    // global sort exchange); the rank window then runs on the 100
    // survivors only. Weights are exact decimals (per-bucket ln truncated
    // to DECIMAL(30,10), t9 discipline) so ranking carries no fp ties.
    Query("x30_dsir_select", Throughput, (s, dir) => {
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
    },
      // Mirrors TextOps.dsirWeights: same tokenization, same unigram+bigram
      // feature set, the identical 3-hex-digit md5 bucketing (t26's strpos
      // idiom widened to 4096), add-one smoothing over occupied buckets,
      // per-bucket ln truncated to DECIMAL(30,10) before the exact per-doc
      // decimal sum.
      {
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
    Query("x23_class_balanced_sample", Throughput, (s, dir) => {
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
    },
      // One flat per-class rank + the naive min-class scalar subquery.
      """WITH r AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, lang, rk FROM r
        |WHERE rk <= (SELECT MIN(n) FROM
        |  (SELECT COUNT(*) AS n FROM documents GROUP BY lang))""".stripMargin),

    // X11 — stratified sample of EXACTLY 200 docs with largest-remainder
    // (Hamilton) allocation across langs: quotas ⌊200·N_s/N⌋ + one seat
    // for the largest remainders so Σ quotas = 200 EXACTLY (the property
    // per-stratum proportional rounding loses, and the one eval-set
    // builders need); within a stratum the quota fills in salted-hash
    // order — reproducible shuffle, integer decisions end to end. Quota
    // table is strata-sized metadata broadcast back; the fill compiles to
    // WindowGroupLimit-bounded per-stratum rank.
    Query("x11_stratified_sample", Throughput, (s, dir) =>
      graft.ops.Sampling.stratifiedExact(docs(s, dir), col("doc_id"), col("lang"),
          total = 200)
        .select(col("stratum").as("lang"), col("key").as("doc_id"),
          col("pick_rank")),
      // Hamilton allocation mirrored integer-for-integer: floor quotas +
      // largest-remainder seats (ties by stratum), per-stratum fill in the
      // same salted-hash order.
      {
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
    }),

    // X13 — √-temperature language rebalancing (quota ∝ √n_lang): the
    // multilingual mixture sampler between x11's proportional allocation
    // and a uniform one. α = 1/2 because sqrt is correctly rounded
    // (pow(·,0.7) is libm-ULP-exposed); weights floor onto the 1e10 grid
    // and every downstream seat count is integer largest-remainder — see
    // ops/Sampling.temperatureExact. n_s and quota ride along so the gate
    // pins the allocation itself, not just membership.
    Query("x13_temperature_mix", Throughput, (s, dir) =>
      graft.ops.Sampling.temperatureExact(docs(s, dir), col("doc_id"), col("lang"),
          total = 200)
        .select(col("stratum").as("lang"), col("key").as("doc_id"),
          col("pick_rank"), col("n_s"), col("quota")),
      // √n weights floored to the 1e10 grid; allocation integer throughout.
      {
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
    }),

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
    Query("x14_cluster_split", Throughput, (s, dir) => {
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
        splitFractions, salt = "csplit")
      assigned.groupBy(col("split"), col("gid"))
        .agg(count(lit(1)).as("gsz"))
        .groupBy(col("split"))
        .agg(sum(col("gsz")).as("n_docs"), count(lit(1)).as("n_groups"),
          max(col("gsz")).as("max_group"))
    },
      clusterSplitOracle),

    // X1 — reproducible domain-weighted mixture sampling (training-data
    // assembly): keep/drop derives from a salted md5 of the doc id, so the
    // mix is auditable and identical on any engine/partitioning — never
    // rand(). One scan, one codegen'd filter. The oracle recomputes the
    // hash digit-for-digit and applies the same integer thresholds.
    Query("x1_mixture_sample", Throughput, (s, dir) =>
      graft.ops.Sampling.mixtureSample(docs(s, dir), col("doc_id"), col("lang"),
          mixtureRates)
        .select(col("doc_id"), col("lang"), col("source")),
      // The 32-bit hash is rebuilt digit-by-digit from md5('mix:' || doc_id)
      // and compared against the SAME integer thresholds the Spark map holds.
      {
      val hexVal = (1 to 8).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
        .mkString(" + ")
      val thr = mixtureRates.toSeq.sortBy(_._1).map { case (d, r) =>
        s"WHEN lang = '$d' THEN ${graft.ops.Sampling.threshold(r)}"
      }.mkString(" ")
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ($hexVal) < (CASE $thr ELSE 0 END)""".stripMargin
    }),

    // X7 — token-budget mixture: x1 SAMPLES at given per-domain rates;
    // x7 DERIVES the rates from a corpus-wide token budget (60% of total,
    // split equally across sources; under-supplying sources keep all).
    // Budget, share, and each keep-threshold are BIGINT arithmetic and
    // membership is hash32 < thr — no double ever decides a row. Checked
    // per source: domain tokens, derived threshold, selected count and
    // selected token mass (pins both the derivation and the membership).
    Query("x7_token_budget", Throughput, (s, dir) => {
      val t = graft.ops.Sampling.tokenBudgetMixture(
        docs(s, dir), col("doc_id"), col("source"),
        TextOps.tokenCount(col("text")), 6, 10)
      t.groupBy(col("dom").as("source"))
        .agg(max(col("dom_tokens")).as("dom_tokens"),
          max(col("thr")).as("thr"),
          sum(col("selected")).cast("long").as("n_sel"),
          sum(col("selected") * col("n_tok")).as("sel_tokens"))
    },
      // x7: same digit-rebuilt hash (salt 'mixbudget'), same BIGINT
      // budget/share/threshold chain; DuckDB integer SUMs come back as
      // HUGEINT, so every aggregate casts to BIGINT.
      {
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
    }),

    // X8 — weighted sampling without replacement (A-Res): top-100 docs by
    // ln(u)/weight with weight = n_chars — the quality/length-weighted
    // draw a curriculum or mixture pipeline uses where x1's Bernoulli
    // treats all rows equally. Membership is reproducible md5 arithmetic;
    // the one ln sits behind a BIGINT truncation (t9 contract).
    Query("x8_weighted_sample", Throughput, (s, dir) =>
      graft.ops.Sampling.weightedTopK(
          docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
          col("doc_id"), col("n_chars"), k = 100)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("wkey"), col("wrank")),
      // A-Res weighted sample: u = (h+1)/2^32 exact, rank key
      // floor(ln(u)/max(w,1)·1e9) as BIGINT (t9 ln-truncation contract).
      {
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
    }),

    // X9 — curriculum ordering: every doc ranked easiest-first (quality
    // desc) and cut into 4 equal phases by integer arithmetic — the
    // schedule a curriculum dataloader consumes. The global rank is the
    // two-pass range-partitioned Ranking core, NOT a single-partition
    // window; ordering keys on the truncated-BIGINT quality (the t2
    // expression is transcendental-free, so the key is bit-identical on
    // both engines) with doc_id ties.
    Query("x9_curriculum", Throughput, (s, dir) => {
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
    },
      // Curriculum: the t2 quality chain (transcendental-free, bit-exact),
      // truncated-BIGINT key, quartile phases by integer division.
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
           |SELECT doc_id, qkey, pos, (pos - 1) * 4 // n AS phase FROM r""".stripMargin),

    // X2 — sequence packing (LLM dataloader): docs concatenated in doc_id
    // order, sliced into 512-token training sequences with docs splitting
    // at boundaries. The assignment is arithmetic over an exclusive global
    // running sum computed with the two-pass range-partitioned primitive —
    // no single-partition window anywhere.
    Query("x2_sequence_packing", Throughput, (s, dir) =>
      graft.ops.Packing.sequenceAssignments(
          docs(s, dir).select(col("doc_id"), col("text")),
          Seq(col("doc_id")), TextOps.tokenCount(col("text")), budget = 512L)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
          col("seq_first"), col("seq_last"), col("n_splits")),
      // Exclusive running sum over doc_id order → integer slice arithmetic.
      // `off` is CAST back to BIGINT: DuckDB's SUM returns HUGEINT and HUGEINT
      // arithmetic stays HUGEINT, which the driver's pandas bridge widens to
      // float64 — "17.0" vs Spark's "17" hash-mismatched in round 3 despite
      // identical values.
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
         |FROM c""".stripMargin),

    // X3 — exactly-20-per-language deterministic panel: rows ranked inside
    // each domain by salted key-hash (a reproducible shuffle), first 20
    // kept — the eval-panel counterpart of x1's Bernoulli mixture. Group
    // top-k compiles to WindowGroupLimit.
    Query("x3_domain_panel", Throughput, (s, dir) =>
      graft.ops.Sampling.domainPanel(docs(s, dir), col("doc_id"), col("lang"), k = 20)
        .select(col("doc_id"), col("lang"), col("panel_rank").cast("long").as("panel_rank")),
      // Same digit-rebuilt hash as x1 (salt 'panel'), ranked per language.
      {
      val hexVal = (1 to 8).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('panel:' || CAST(doc_id AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
        .mkString(" + ")
      s"""SELECT doc_id, lang, panel_rank FROM (
         |  SELECT doc_id, lang, row_number() OVER (
         |    PARTITION BY lang ORDER BY ($hexVal), doc_id) AS panel_rank
         |  FROM documents)
         |WHERE panel_rank <= 20""".stripMargin
    }),

    // X15 — out-of-fold target encoding: the category→mean-target feature
    // with the leakage guard real ML pipelines need (a row must never see
    // its own fold's target, or the feature memorizes the label — the
    // x12/x14 leakage theme at the feature level). The closed form needs
    // no per-fold re-aggregation: oof_mean = (Σ_total − Σ_fold)/(n_total −
    // n_fold), with both sums EXACT decimals so the subtraction is exact
    // and the single double rounding happens once, mirrored. Two narrow
    // aggregates over one scan — fold count never multiplies the data
    // pass.
    Query("x15_target_encode", Throughput, (s, dir) => {
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
    },
      """WITH f AS (SELECT event_type, user_id % 5 AS fold, COUNT(*) AS n_f,
        |    SUM(CAST(value AS DECIMAL(30,4))) AS s_f
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(SUM(n_f) AS BIGINT) AS n_t, SUM(s_f) AS s_t
        |      FROM f GROUP BY 1)
        |SELECT f.event_type, f.fold, f.n_f,
        |  printf('%.6f', CAST(t.s_t - f.s_f AS DOUBLE)
        |                 / CAST(t.n_t - f.n_f AS DOUBLE)) AS oof_r
        |FROM f JOIN t ON f.event_type = t.event_type
        |WHERE t.n_t > f.n_f""".stripMargin),

    // X16 — RAG prompt packing: per query, retrieved candidates admitted
    // in relevance order while the RUNNING token total stays within the
    // context budget (256) — the few-shot/context-window assembly step
    // between retrieval and the model. Admission contract is the prefix
    // form (keep rows whose cumulative total ≤ budget): monotone and
    // order-faithful — a greedy skip-the-big-doc variant would reorder
    // relevance, which is a different operator. One prefix-sum window
    // over the per-query rank order (a top-20 relation, never the
    // corpus) joined to the doc token counts.
    Query("x16_prompt_pack", Throughput, (s, dir) => {
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
    },
      // annOracle's candidate relation at rank ≤ 20 + the t1 token count +
      // a running-sum window, prefix-admitted at 256.
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
        |FROM packed WHERE cum_tok <= 256""".stripMargin),

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
    Query("x19_length_batching", Throughput, (s, dir) => {
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
    },
      // Mirrors x19: same t1 token count, same (pos−1)//32 batch assignment
      // over the same total orders (doc_id | n_tok,doc_id), same split-
      // division waste basis points.
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
           |FROM u""".stripMargin),

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
    Query("x18_bootstrap_ci", Throughput, (s, dir) => {
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
    },
      // Mirrors x18 weight-for-weight: same 48-bit integer from the first 12
      // md5 hex digits, same ((h>>2b & 3)+1)>>1 Binomial(2,½) map (>>2b as
      // integral division by the 4^b literal — identical on non-negative
      // operands), same split-division exact basis-point means, same
      // (mean_bp, b) order statistics.
      {
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
    Query("x17_dedup_weights", Throughput, (s, dir) => {
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
    },
      // d6's clustering joined back to the FULL corpus: singletons weigh
      // 10000 bp, members 10000 // size — all-integer soft-dedup weights.
      {
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
    }),

    // X4 — benchmark decontamination: train docs sharing a word 4-gram with
    // the held-out set (doc_id % 17 == 0). 4-grams because the synthetic
    // vocabulary is ~40 words (a real pipeline uses 13-grams; the op is
    // parameterized). Shuffle key is md5(gram), fixed-width and uniform.
    Query("x4_contamination", Throughput, (s, dir) => {
      val d = docs(s, dir)
      DedupOps.contaminationCounts(
          d.filter(pmod(col("doc_id"), lit(17)) =!= 0),
          d.filter(pmod(col("doc_id"), lit(17)) === 0),
          "doc_id", "text", 4)
        .select(col("id").as("doc_id"), col("n_shared_grams"))
    },
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
        |FROM sh JOIN bench USING (gram) WHERE doc_id % 17 <> 0 GROUP BY 1""".stripMargin),

    // X4b — span-level DECONTAMINATION: x4 counts eval-set overlap, x4b
    // REMOVES it — every train token covered by a benchmark 4-gram is
    // scrubbed and the doc kept (the leakage fix that doesn't throw the
    // document away). d8's cover/reassemble machinery with the gram set
    // from the bench relation.
    Query("x4b_decontam_scrub", Throughput, (s, dir) => {
      val d = docs(s, dir)
      DedupOps.spanScrubAgainst(
          d.filter(pmod(col("doc_id"), lit(17)) =!= 0),
          d.filter(pmod(col("doc_id"), lit(17)) === 0),
          "doc_id", "text", 4)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_kept"),
          md5(col("cleaned")).as("scrub_fp"))
    },
      // x4b: d8's scrub CTEs with the gram set from the BENCH slice (bench
      // fallback grams for <4-token docs are inert — different space count).
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
           |FROM d LEFT JOIN k ON d.doc_id = k.kid""".stripMargin),

    // X5 — stable train/validation/test split: membership is a pure
    // function of the salted doc_id hash, so no row migrates between train
    // and holdout across reruns, appends, or engines — the leakage mode
    // this op prevents. Codegen'd CASE, no shuffle.
    Query("x5_hash_split", Throughput, (s, dir) =>
      graft.ops.Sampling.hashSplit(docs(s, dir), col("doc_id"), splitFractions)
        .select(col("doc_id"), col("lang"), col("split")),
      {
      val hexVal = (1 to 8).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
        .mkString(" + ")
      val ladder = graft.ops.Sampling.splitBoundaries(splitFractions)
        .map { case (name, bound) => s"WHEN ($hexVal) < $bound THEN '$name'" }
        .mkString(" ")
      s"""SELECT doc_id, lang, CASE $ladder END AS split FROM documents""".stripMargin
    }),

    // X20 — contamination-aware splitting (x4 composed with x5): a doc
    // sharing benchmark 4-grams must never land in validation/test (it
    // would leak the benchmark into eval), so the x5 hash split is
    // overridden to 'train' for every contaminated doc. This is the other
    // half of the x12 lesson (dedup/decontaminate BEFORE splitting) as an
    // enforced policy rather than an audit. Scale = x4's gram join (one
    // bench-sided broadcastable relation) + x5's per-row hash ladder + one
    // left join on doc_id.
    Query("x20_decontam_split", Throughput, (s, dir) => {
      val d = docs(s, dir)
      val corpus = d.filter(pmod(col("doc_id"), lit(17)) =!= 0)
      val cont = DedupOps.contaminationCounts(corpus,
          d.filter(pmod(col("doc_id"), lit(17)) === 0), "doc_id", "text", 4)
        .select(col("id").as("doc_id"), lit(1).as("is_cont"))
      graft.ops.Sampling.hashSplit(corpus, col("doc_id"), splitFractions)
        .select(col("doc_id"), col("split"))
        .join(cont, Seq("doc_id"), "left")
        .withColumn("is_cont", coalesce(col("is_cont"), lit(0)))
        .withColumn("final_split",
          when(col("is_cont") === 1, lit("train")).otherwise(col("split")))
    },
      // x4's gram/bench CTEs + x5's hash ladder, composed: contaminated
      // docs force-train, everything else keeps its hash split.
      {
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
    }),

    // X6 — deterministic global shuffle (training-data ordering): rows
    // ranked by salted hash via the two-pass range-partitioned rank (never
    // a single-partition window), sharded for parallel write.
    Query("x6_shuffle", Throughput, (s, dir) =>
      graft.ops.Sampling.deterministicShuffle(
          docs(s, dir).select(col("doc_id")), col("doc_id"), shards = 8)
        .select(col("doc_id"), col("pos"), col("shard")),
      {
      val hexVal = (1 to 8).map(j =>
        s"(strpos('0123456789abcdef', substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
        .mkString(" + ")
      s"""SELECT doc_id,
         |  row_number() OVER (ORDER BY ($hexVal), doc_id) AS pos,
         |  CAST(($hexVal) % 8 AS INTEGER) AS shard
         |FROM documents""".stripMargin
    }),

    // X12 — SPLIT-LEAKAGE audit: near-dup candidate pairs that straddle
    // the x5 train/validation/test boundary — the eval-hygiene number
    // (a test doc with a train near-twin inflates benchmark scores; x4
    // checks cross-CORPUS contamination, this checks the split itself).
    // Hash-splitting is per-doc independent, so near-dup pairs land across
    // splits at the mixing rate — the audit quantifies it: total LSH
    // pairs, within/cross counts, cross rate in bp, and the count of
    // distinct TEST docs with an out-of-split twin (the rows you'd
    // quarantine). All integers.
    Query("x12_split_leakage", Throughput, (s, dir) => {
      val d = docs(s, dir)
      val split = graft.ops.Sampling.hashSplit(d, col("doc_id"),
        splitFractions).select(col("doc_id"), col("split"))
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
    },
      // x5's split ladder + the shared LSH pair CTEs; leak set recomputed
      // relationally.
      {
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
    Query("x31_tau_grid", Throughput, (s, dir) => {
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
    },
      // Mirrors x31: same sqrt-composed weights on the 1e10 floor grid
      // (floor yields an integral double, so the HUGEINT ↔ DECIMAL(38,0)
      // casts agree digit-for-digit), same integer share fold.
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
        |FROM g""".stripMargin)
  )
}
