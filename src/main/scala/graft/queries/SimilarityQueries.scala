package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Exact, SimilarityOps}

import Kind.{Maintenance, Throughput}
import Shared._

/** Vector search: brute force, IVF, PQ, MIPS, k-means; and sd1's
  * semantic dedup. */
private[queries] object SimilarityQueries {
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

  val all: Seq[Query] = Seq(
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
    Query("s29_silhouette", Throughput, (s, dir) => {
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
    },
      // The s28 seed unroll (same four rounds, same argmax tie-breaks)
      // extended point-wise: own cluster = rank-1 distance, nearest other
      // = rank-2; the silhouette numerator/denominator stay BIGINT and the
      // squared-distance sums route through DECIMAL(38,0) on both sides.
      // Self-diagnosing columns (r11): per-round seed_id + picked d²
      // mirrored from the engine so a gate mismatch localizes instantly.
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
        |FROM sil JOIN seeds USING (cluster) GROUP BY cluster""".stripMargin),

    // S1 — brute-force cosine top-10 for query vectors vec_id < 5.
    Query("s1_ann_topk", Throughput, (s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.bruteForceTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    },
      annOracle),

    Query("s2_ann_ivf", Throughput, (s, dir) => {
      val e = emb(s, dir)
      val centroids = e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val assigned = SimilarityOps.assignToCentroids(e, centroids, "vec_id", "embedding")
      SimilarityOps.ivfTopK(assigned, centroids, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 5, nprobe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    },
      ivfOracle),

    // S18 — EXACT cosine range search (all matches with sim ≥ 0.3 per
    // query) with lossless spherical-cap cell pruning: the radius-query
    // twin of s2's fixed-nprobe top-k. The per-cell angular-radius bound
    // (plus a 1e-9 slack dominating the fp error of the dot/sqrt chain)
    // can never discard a cell containing a true match, so the oracle is
    // the NAIVE brute-force τ-scan — equality holds by mathematics, not
    // recall luck. Queries are the mod-100 subset.
    Query("s18_range_search", Throughput, (s, dir) => {
      val e = emb(s, dir)
      val centroids = e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val assigned = SimilarityOps.assignToCentroids(e, centroids, "vec_id", "embedding")
      SimilarityOps.rangeSearch(assigned, centroids,
          e.filter(col("vec_id") % 100 === 0), "vec_id", "embedding", tau = 0.3)
        .select(col("query_id"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    },
      // Naive τ-scan truth for the pruned range search — the pruning is
      // lossless by the spherical-cap bound, so no mirroring needed.
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm FROM v
        |      WHERE list_inner_product(ve, ve) > 0)
        |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  printf('%.4f', list_inner_product(q.ve, c.ve) / (q.nrm * c.nrm)) AS sim_r
        |FROM n q JOIN n c ON q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id
        |WHERE list_inner_product(q.ve, c.ve) / (q.nrm * c.nrm)
        |      >= CAST('0.3' AS DOUBLE)""".stripMargin),

    // S19 — recall eval for the FILTERED search path (the s6 pattern
    // applied to s17): truth = brute force over the FILTERED corpus — the
    // correct filtered-retrieval truth; comparing against unfiltered truth
    // would punish the filter itself. Closes the serve/eval matrix:
    // s2/s6 (plain), s12b/s14 (MIPS), s17/s19 (filtered).
    Query("s19_filtered_recall", Throughput, (s, dir) => {
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
    },
      // s6's chain with the en-filter applied to BOTH the brute-force truth
      // corpus and the served candidates (filtered-retrieval truth).
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
        |GROUP BY 1""".stripMargin),

    // S20 — Matryoshka prefix-dimension retrieval: stage 1 ranks by cosine
    // over the first 16 of 64 components (a scan that column-prunes to 1/4
    // of the vector bytes when the prefix is stored as its own column),
    // stage 2 reranks the per-query top-20 shortlist by full-dim exact
    // cosine. The third byte-reduction lever after IVF (read fewer ROWS)
    // and PQ (read coded BYTES) — prefix reads fewer COMPONENTS, no
    // codebook to train. Oracle replays both stages with DuckDB list
    // slicing; ties pinned by neighbor_id at both stages.
    Query("s20_prefix_rerank", Throughput, (s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.prefixRerankTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 5, shortlistK = 20, prefixDim = 16)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    },
      // Both stages of the prefix-rerank replayed with list slicing: prefix
      // cosine over ve[1:16] ranks the shortlist, full-dim cosine reranks.
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
        |WHERE rank <= 5""".stripMargin),

    // S21 — SQ8 scalar-quantization ANN: per-dimension min/max codebook
    // (a dim-row broadcast literal — no training iterations), 1-byte codes,
    // asymmetric serve (float query vs midpoint reconstruction). Completes
    // the compression family: IVF reads fewer rows (s2), PQ reads coded
    // bytes (s7), prefix reads fewer components (s20), SQ8 reads 1 byte/
    // component with no codebook training. Every step is a fixed
    // left-to-right IEEE chain, so the oracle's relational replay (unnest →
    // per-dim MIN/MAX → encode → reconstruct → in-order list rebuild)
    // produces bit-identical sims before the 4-decimal rendering.
    Query("s21_sq8", Throughput, (s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.sq8TopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    },
      // sq8TopK replayed relationally: unnest → per-dim MIN/MAX (exact on
      // doubles, order-free) → the same clamp/floor encode → midpoint
      // reconstruct → in-order list rebuild → exact cosine rank. Every
      // arithmetic step mirrors the Spark chain left to right, so the sims
      // agree bit-for-bit before the 4-decimal rendering.
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
        |WHERE rank <= 10""".stripMargin),

    // S22 — binary (1-bit sign) quantization ANN: each vector packs to one
    // BIGINT of sign bits, distance = bit_count(XOR) — the most aggressive
    // compression tier (512× smaller than float64 at dim 64) and the
    // standard first-stage filter ahead of exact rerank. All-integer
    // scoring: no FP anywhere, cross-engine agreement exact by
    // construction. The oracle never reconstructs the packed word (that's
    // an engine optimization); it restates the SEMANTIC — count of
    // sign-mismatched dimensions — from first principles.
    Query("s22_binary_hamming", Throughput, (s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.binaryHammingTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10)
    },
      // Hamming = COUNT of dimensions whose strict-positive sign differs —
      // the packed-word XOR is equivalent by construction.
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
        |WHERE rank <= 10""".stripMargin),

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
    Query("s23_mmr_rerank", Throughput, (s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.mmrRerank(e, e.filter(col("vec_id") < 3),
        "vec_id", "embedding", poolK = 16, selectK = 5)
    },
      mmrOracle),

    // S24 — reciprocal-rank fusion (RRF, Cormack '09): the standard
    // hybrid-search combiner — two retrieval lists over the same queries
    // (cosine and raw inner-product here; dense+sparse in production)
    // merged by Σ 1/(60 + rank), which needs no score calibration between
    // lists. Ranks are integers, the fused score is the same two-term
    // double sum on both engines (identical operand order), ties break on
    // id. One full-outer join of two top-20 relations per query — the
    // fusion itself never touches the corpus.
    Query("s24_rrf_fusion", Throughput, (s, dir) => {
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
    },
      // Exact MIPS: rank by the raw inner product, ties by neighbor id.
      // Both lists restated (cosine over the zero-norm-guarded relation,
      // MIPS over the raw one), fused by the identical two-term double sum.
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
        |WHERE fused_rank <= 10""".stripMargin),

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
    Query("s26_margin_mining", Throughput, (s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.marginMining(e, "vec_id", "embedding",
          col("label") < 5, col("label") >= 5, k = 4,
          Adaptive.signDims(e.count()), minMargin = 1.05)
        .select(col("src_id"), col("tgt_id"), col("s_e10"),
          Exact.fmt(col("margin"), 4).as("margin_r"))
    },
      // Ratio margin over the sign-LSH candidate relation: 1e10 floor-grid
      // cosines, integer-exact top-4 sums, margin recomputed from integers
      // via the same IEEE expression shape as the engine (g1 contract).
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
         |WHERE rk = 1 AND margin >= CAST('1.05' AS DOUBLE)""".stripMargin),

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
    Query("s27_rp_reduce", Throughput, (s, dir) => {
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
    },
      // Mirrors rpProject/sqDistL end to end: identical 1e6 floor grid,
      // identical md5-parity sign matrix (DuckDB md5 of the same "rp:j:d"
      // strings), pure-BIGINT distances, (dist, id) integer rank ordering.
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
        |  ON r.query_id = et.query_id AND r.neighbor_id = et.neighbor_id""".stripMargin),

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
    Query("s28_kmeanspp_seed", Throughput, (s, dir) => {
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
    },
      // Four unrolled farthest-point rounds (the g1 fixed-iteration
      // contract): per round one distance CTE against the new seed, a
      // running least() min, and ORDER BY d2 DESC, vec_id LIMIT 1 — the
      // exact argmax/tie rule the engine's min(struct(-d2, id)) computes.
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
        |FROM sd JOIN cnt USING (round)""".stripMargin),

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
    Query("s31_hard_negatives", Throughput, (s, dir) => {
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
    },
      // s17's chain with the QUERY-DEPENDENT pair predicate written inside
      // the scored relation (labels ride the n relation on both sides).
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
        |  FROM scored) WHERE rank <= 5""".stripMargin),

    Query("s17_filtered_ann", Throughput, (s, dir) => {
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
    },
      // the s2 chain + one candidate-side metadata join — the commuting-
      // intersection identity the Spark side exploits, written directly
      ivfOracle(
      "vec_id % (SELECT stride FROM params) = 0",
      candJoin = "JOIN documents d ON d.doc_id = x.vec_id AND d.lang = 'en'")),

    // S32 — PCA top component by exact-integer power iteration (the
    // decorrelation prep before IVF/PQ indexing: project out the dominant
    // direction, whiten, or seed OPQ's rotation). Scatter accumulation is
    // ONE (dim×dim)-keyed map-combined exchange — 4096 cells at d=64, the
    // sketch economics of o11: the exchange carries cells, never rows —
    // and the five iterations run on the cached 4096-cell relation only.
    // All arithmetic exact integers/decimals up to one sqrt and one
    // division (SimilarityOps.pcaPowerTop).
    Query("s32_pca_power", Throughput, (s, dir) =>
      SimilarityOps.pcaPowerTop(emb(s, dir), "embedding", iters = 5)
        .select(col("dim"), col("pc1_k"), Exact.fmt(col("eig"), 6).as("eig_r")),
      // Mirrors SimilarityOps.pcaPowerTop stage for stage: the identical
      // integer quantization, exact BIGINT scatter (self-join form — the
      // oracle needs equal VALUES, not the engine's join-free outer-product
      // plan), the same truncating integral divide (// ≡ Spark's div: both
      // truncate toward zero), and the same five exact iterations with one
      // sqrt rounding each.
      {
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
    }),

    // S33 — Matryoshka truncated-dimension recall (Kusupati et al. 2022):
    // recall@5 of cosine top-5 under PREFIX dimensions m ∈ {8,16,32} vs the
    // full-width truth — the eval that decides how far an MRL embedding can
    // be truncated before retrieval degrades (the storage/latency knob of a
    // production vector store). Pure composition of bruteForceTopK over
    // slice()'d vectors: the truth subtree is computed once (single join
    // after the union), prefixes shorten the scoring dot products, and
    // recall_bp stays integer. Scale: three brute passes over the same
    // scan — at index scale the same slices ride s2's IVF instead.
    Query("s33_matryoshka_recall", Throughput, (s, dir) => {
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
    },
      // Mirrors s33: the s6 brute-force CTE shape with ve sliced to each
      // prefix width — list_inner_product folds left-to-right like the
      // engine's dot, and the norms stay √(q)·√(c) in the same order.
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
        |GROUP BY 1, 2""".stripMargin),

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
    Query("s34_ivf_balance", Throughput, (s, dir) => {
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
    },
      // Mirrors s34_ivf_balance: s2's exact assignment chain (same cosine,
      // same (sim DESC, cid) argmax tie-break), a LEFT join keeping empty
      // cells, HUGEINT mirroring Spark's DECIMAL(38,0) Σn² accumulator, and
      // the same fold-to-BIGINT integer division before output.
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
         |FROM cells""".stripMargin),

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
    Query("s2b_ann_ivf_tiered", Throughput, (s, dir) => {
      val e = emb(s, dir)
      val (centroids, top) = ivfCentroidSets(e, Adaptive.centroidStride(e.count()))
      val assigned = SimilarityOps.assignToCentroidsTiered(
        e, centroids, top, "vec_id", "embedding", probeTop = 2)
      SimilarityOps.ivfTopKTiered(assigned, centroids, top, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 5, nprobe = 2, probeTop = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    },
      ivfTieredOracle),

    // D5 — embedding-cosine near-dup pairs, sign-bucket LSH blocked.
    // S4 — the STREAMING IVF index path, oracle-grade: the corpus lands in
    // the cell-partitioned on-disk index across two epoch writes (what the
    // micro-batch writer does per batchId), then search prunes to the probed
    // cells via a static partition filter. Same queries and oracle as the
    // in-memory s2 plan — the index layout must not change a single
    // neighbor.
    Query("s4_ivf_index_search", Maintenance, (s, dir) => {
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
    },
      // The on-disk epoch-partitioned index — including a compaction pass —
      // must return the identical neighbor set the in-memory IVF plan does.
      ivfOracle),

    // S16 — MIPS served from the ON-DISK IVF index: the norm augmentation
    // composes with the persisted index machinery untouched — augment the
    // corpus once at ingest, index the augmented vectors (same epoch
    // writes, same cell partitioning), zero-augment queries at serve time.
    // Same oracle as s12b: storage must not change a neighbor, which
    // together with s4 (disk ≡ memory for cosine) closes the claim that
    // ONE index serves both metrics at 100 TB.
    Query("s16_mips_index", Maintenance, (s, dir) => {
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
    },
      // Disk must not change a neighbor: same oracle as the in-memory s12b.
      mipsIvfOracle),

    // S5i — centroid-drift maintenance under oracle: the index built on the
    // stride-0 centroid set is re-assigned against a DIFFERENT same-size
    // set (offset stride/2) in one batch pass; the searched result must
    // equal the oracle's IVF recomputation against the NEW centroids.
    Query("s5_ivf_reassign", Maintenance, (s, dir) => {
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
    },
      // After centroid-drift re-assignment, search must equal an IVF
      // recomputation against the NEW centroid set.
      ivfOracle(
      "vec_id % (SELECT stride FROM params) = (SELECT stride FROM params) // 2")),

    // S13 — approximate k-NN GRAPH (every vector's top-4 same-bucket
    // neighbors): the all-nodes generalization of per-query ANN and the
    // input structure of graph-based dedup/clustering. Each undirected
    // candidate pair scored once, serving both endpoints; per-node top-k
    // over candidates only — never N².
    Query("s13_knn_graph", Throughput, (s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.knnGraph(e, "vec_id", "embedding", k = 4,
          Adaptive.signDims(e.count()))
        .select(col("id").as("vec_id"), col("rank"), col("nbr_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    },
      // Directed candidate relation (a ≠ b, same bucket), per-node top-4 by
      // (sim desc, nbr) — sim is symmetric bit-for-bit, so scoring each
      // undirected pair once on the Spark side changes nothing.
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
         |WHERE rank <= 4""".stripMargin),

    // S9 — embedding preprocessing: corpus-mean centering + L2
    // normalization (the standard step before cosine ANN/clustering; the
    // d-row mean relation broadcasts back onto one narrow (id, dim, x)
    // explode — two corpus-sized keyed exchanges total, the
    // standardization lower bound). Means and squared-norm sums ride the
    // decimal accumulator; every other step is an exactly rounded IEEE op
    // mirrored by the oracle; components ship dim-ordered as %.4f strings.
    Query("s9_center_normalize", Throughput, (s, dir) => {
      val cn = graft.ops.SimilarityOps.centerNormalize(emb(s, dir), "vec_id", "embedding")
      cn.groupBy(col("id").as("vec_id"))
        .agg(count(lit(1)).as("n_dims"), max(col("nrm")).as("nrm"),
          concat_ws(",", transform(
            array_sort(collect_list(struct(col("dim"), Exact.fmt(col("y"), 4).as("s")))),
            x => x.getField("s"))).as("vec_r"))
        .select(col("vec_id"), col("n_dims"),
          Exact.fmt(col("nrm"), 4).as("nrm_r"), col("vec_r"))
    },
      // Mirrors SimilarityOps.centerNormalize: same decimal mean/norm
      // accumulators, same exactly rounded centering/normalizing chain.
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
        |FROM y GROUP BY 1""".stripMargin),

    // S3 — symmetric int8 embedding quantization (training pipelines store
    // embeddings quantized 4x smaller; scale = max|x|/127 per vector,
    // q = trunc(x/scale) — trunc, because Spark's double→int cast truncates
    // and the oracle mirrors it with trunc()). Per-row, no shuffle.
    Query("s3_quantize", Throughput, (s, dir) => {
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
    },
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        |m AS (SELECT vec_id, ve, list_max(list_transform(ve, x -> abs(x))) AS maxabs FROM v)
        |SELECT vec_id, maxabs / 127.0 AS scale,
        |  array_to_string(
        |    CASE WHEN maxabs = 0.0 THEN list_transform(ve, x -> 0)
        |         ELSE list_transform(ve, x -> CAST(trunc(x / (maxabs / 127.0)) AS INTEGER)) END,
        |    ',') AS qvec
        |FROM m""".stripMargin),

    // S7 — product-quantized ANN (the compression half of IVF-PQ): encode
    // every corpus vector as PqM codes against per-subspace codebooks
    // (seeds = the centroid id slice, (32,64] codewords — the adaptive-
    // nlist pattern; shape chosen by the measured recall sweep at [[PqM]]),
    // then answer the s1 query set by Asymmetric Distance Computation over
    // the codes alone. The corpus vectors are read once (encode) and never
    // touched at query time — the property that makes a billion-vector
    // index fit in memory at 100 TB. Stage-exact oracle mirrors encode
    // argmin, decimal ADC sums, and tie-breaks.
    Query("s7_pq_ann", Throughput, (s, dir) => {
      val e = emb(s, dir)
      val seeds = e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
      val cb = SimilarityOps.pqCodebook(seeds, "vec_id", "embedding", m = PqM, subDim = PqSubDim)
      val codes = SimilarityOps.pqEncode(e, cb, "vec_id", "embedding", m = PqM, subDim = PqSubDim)
      SimilarityOps.pqTopK(codes, cb, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 5, m = PqM, subDim = PqSubDim)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("sim"), 4).as("sim_r"))
    },
      pqOracle),

    // S11 — two-stage serving: PQ shortlist (20, codes only) → exact
    // cosine re-rank of just the shortlisted raw vectors — the production
    // pattern that buys back quantization error. Final ordering and every
    // reported sim are EXACT over the shortlist; only |Q|·20 vectors are
    // ever fetched (point lookups against the columnar corpus at scale).
    Query("s11_pq_rerank", Throughput, (s, dir) => {
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
    },
      pqRerankOracle),

    // S12 — exact maximum-inner-product top-k: the retrieval objective when
    // magnitude carries signal (recommender / reranker scores). Brute-force
    // exact ranking by the raw dot product — the correctness baseline the
    // reduction below is judged against.
    Query("s12_mips", Throughput, (s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.mipsTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("ip"), 4).as("ip_r"))
    },
      mipsExactOracle),

    // S12b — MIPS served by the COSINE IVF unchanged, via the norm-
    // augmentation reduction ([[graft.ops.SimilarityOps.mipsAugmentCorpus]]):
    // corpus vectors gain a sqrt(M²−‖x‖²) coordinate (constant norm M),
    // queries a trailing 0, and the existing cell-pruned cosine path —
    // assignment, probing, scoring — runs as-is on the augmented space. The
    // oracle mirrors the augmented IVF semantics stage-for-stage, so the
    // whole reduction (augment → assign → probe → rank) is hash-checked.
    // This is the 100 TB answer for MIPS: no second index structure, the
    // same partition-pruned IVF serves both metrics.
    Query("s12b_mips_ivf", Throughput, (s, dir) => {
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
    },
      mipsIvfOracle),

    // S15 — EXACT MIPS with norm-band pruning (the LEMP-family bound,
    // relationally): score the top-norm band for a per-query kth-best
    // bound τ, then scan only bands with ‖q‖·maxNorm(band) ≥ τ — pruned
    // vectors provably can't crack the top-k, so the result is
    // bit-identical to s12's brute force (same oracle) while reading a
    // fraction of the corpus. The sound remedy for the augmentation's
    // routing weakness that s14 measures; at 100 TB the bands are the
    // partition layout and most queries touch only high-norm partitions.
    Query("s15_mips_banded", Throughput, (s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.mipsTopKBanded(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          Exact.fmt(col("ip"), 4).as("ip_r"))
    },
      // Band pruning is provably lossless, so s15 sits under the SAME exact
      // oracle as the brute force — the equality IS the soundness proof.
      mipsExactOracle),

    // S14 — recall@5 of the MIPS-via-augmented-IVF reduction (s12b) against
    // exact MIPS (s12): the evaluation loop for the one-index-serves-both
    // claim, mirroring what s6 does for the cosine path. Hits counted by
    // neighbor-set membership (integer), the ratio one mirrored division.
    Query("s14_mips_recall", Throughput, (s, dir) => {
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
    },
      // Exact-MIPS truth set over RAW vectors joined against the augmented-
      // IVF top-5 (the s12b chain verbatim) — recall by set membership.
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
        |GROUP BY 1""".stripMargin),

    // S7b — IVF-PQ, the composed production design: IVF cell pruning picks
    // WHICH codes to read (~nprobe/nlist of the table — the codes are
    // encoded WITH their cell so a stored table is partition-pruned), PQ/ADC
    // makes each read row m ints instead of a float vector. Candidates =
    // vectors whose cell is probed; scoring identical to s7 within them.
    Query("s7b_pq_ivf", Throughput, (s, dir) => {
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
    },
      pqIvfOracle),

    // S7d — the PERSISTED IVF-PQ index: codes encoded at append time in the
    // same single aggregation that writes the row (no join-back), search
    // served from the stored codes alone — partition-pruned to the probed
    // cells AND column-pruned past the vector column. Same oracle as s7b:
    // storage, compaction, and the array round trip must not change a
    // neighbor (the s4 contract, applied to the compressed index).
    Query("s7d_pq_index_search", Maintenance, (s, dir) => {
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
    },
      // The on-disk PQ index — including compaction and the code-array round
      // trip — must return the identical neighbor set the in-memory IVF-PQ
      // plan does (the s4 contract for the compressed index).
      pqIvfOracle),

    // S8 — k-means (Lloyd) centroid training, 2 iterations from the
    // deterministic seed slice: the clustering step every IVF/PQ structure
    // above takes as input, as a first-class op. Decimal-exact per-element
    // means make every iteration bit-reproducible and oracle-mirrorable
    // (the SQL unrolls one assign/mean CTE pair per iteration).
    Query("s8_kmeans", Throughput, (s, dir) => {
      val e = emb(s, dir)
      val init = e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      SimilarityOps.kmeansRefine(e, init, "vec_id", "embedding", iters = 2,
          dims = EmbDim)
        .select(col("centroid_id"), col("n"),
          concat_ws(",", transform(col("centroid_vec"),
            x => format_string("%.4f", x))).as("centroid_enc"))
    },
      kmeansOracle(2)),

    // SD1 — semantic dedup (SemDeDup, Abbas et al. 2023): k-means cluster
    // the embeddings (the s8 training, same deterministic seed slice), then
    // prune same-cluster pairs at cosine >= 0.35, lowest id canonical. The
    // pairwise compare is quadratic per CELL, linear in corpus when k grows
    // with N — the published recipe's scale contract (ops/SimilarityOps).
    Query("sd1_semdedup", Throughput, (s, dir) => {
      val e = emb(s, dir)
      val init = e.filter(col("vec_id") % Adaptive.centroidStride(e.count()) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val trained = SimilarityOps.kmeansRefine(e, init, "vec_id", "embedding",
          iters = 2, dims = EmbDim)
        .select(col("centroid_id"), col("centroid_vec"))
      SimilarityOps.semDedup(e, trained, "vec_id", "embedding", tau = 0.35)
    },
      semDedupOracle(2, "0.35")),

    // S7c — PQ recall@5 vs exact brute force (the s6 contract for the
    // compressed index): how many of the true top-5 the PqM-code
    // representation keeps — the quality number a pipeline tunes m/k
    // against before committing to a compression ratio.
    Query("s7c_pq_recall", Throughput, (s, dir) => {
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
    },
      pqRecallOracle),

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
    Query("s7e_pq_trained_recall", Maintenance, (s, dir) => {
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
    },
      pqTrainedRecallOracle(PqTrainIters)),

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
    Query("s35_pq_distortion", Throughput, (s, dir) => {
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
    },
      pqDistortionOracle(PqTrainIters)),

    // S10 — per-dimension embedding statistics + top-variance feature
    // selection (the pruning pass before indexing: low-variance dimensions
    // carry no neighbor signal and inflate every distance computation).
    // posexplode → ONE dim-keyed exchange of exact moment sums (the COUNT
    // shape, 64 groups); variance from the moments in one mirrored double
    // chain; ranking on the truncated-BIGINT variance key.
    Query("s10_dim_variance", Throughput, (s, dir) => {
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
    },
      // Aligned positional unnests (DuckDB zips them); 0-based dim to match
      // posexplode; same decimal moment sums and double variance chain.
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
        |FROM r WHERE vrank <= 8""".stripMargin),

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
    Query("s30_nprobe_curve", Throughput, (s, dir) => {
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
    },
      nprobeCurveOracle),

    // S36 — nlist tuning curve (the OTHER index knob beside s30's nprobe):
    // recall@5 at nprobe=2 under a coarse (stride·4), base (the adaptive
    // default), and fine (stride/4, floor 2) centroid grid, with k_cells
    // riding along — finer grids probe fewer candidates per cell but risk
    // recall when the 2 probed cells stop covering the true neighbors;
    // the curve is what an index owner reads before re-sharding a 100 TB
    // index. Same exact chain as s2/s30 (assignment + probe tie-breaks),
    // brute truth computed once.
    Query("s36_nlist_curve", Throughput, (s, dir) => {
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
    },
      nlistCurveOracle),

    Query("s6_ann_recall", Throughput, (s, dir) => {
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
    },
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
        |GROUP BY 1""".stripMargin)
  )
}
