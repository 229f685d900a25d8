package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops.{Exact, SimilarityOps}

import Kind.Throughput
import Shared._

/** Graph analytics over the similarity graph: PageRank, triangles,
  * k-core, BFS, HITS. */
private[queries] object GraphQueries {
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

  val all: Seq[Query] = Seq(
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
    Query("g11_mis_canon", Throughput, (s, dir) => {
      val e = emb(s, dir)
      val nodes = e.select(col("vec_id"), col("embedding").cast("array<double>").as("__v"))
        .filter(SimilarityOps.isNonZero(col("__v")))
      val edges = SimilarityOps.knnGraph(e, "vec_id", "embedding", k = 4,
          Adaptive.signDims(e.count()))
        .select(col("id").as("src"), col("nbr_id").as("dst"))
      graft.ops.GraphOps.misRounds(nodes, edges, "vec_id", "src", "dst",
          rounds = 4)
        .select(col("id").as("vec_id"), col("state"), col("rnd"))
    },
      misOracle),

    // G10 — PERSONALIZED PageRank over the k-NN graph: teleport mass
    // returns only to the g6 seed set (vec_id ≡ 0 mod 10), so scores are
    // seed-relative reachability — the "expand from the labeled good set"
    // curation primitive — not global centrality. Same e10-quantized
    // contribution contract as g1 (order-independent per-target sums, one
    // mirrored double step per iteration); seed membership broadcasts.
    Query("g10_ppr", Throughput, (s, dir) => {
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
    },
      pprOracle),

    Query("g1_pagerank", Throughput, (s, dir) => {
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
    },
      pageRankOracle),

    // G2 — triangle counting + local clustering coefficient over the same
    // k-NN graph (undirected closure): the community-density signal beside
    // g1's centrality. Degree-ordered orientation (each triangle counted
    // exactly once at its (deg,id)-minimal vertex; oriented out-degree is
    // O(√m) for ANY degree distribution, so the wedge relation never
    // explodes at a hub — the 100 TB-safe form of wedge counting). Output
    // is all-integer (counts + basis-point coefficient by integer
    // division) — no doubles, nothing to format.
    Query("g2_triangles", Throughput, (s, dir) => {
      val e = emb(s, dir)
      val nodes = e.select(col("vec_id"),
          col("embedding").cast("array<double>").as("__v"))
        .filter(SimilarityOps.isNonZero(col("__v")))
      val edges = SimilarityOps.knnGraph(e, "vec_id", "embedding", k = 4,
          Adaptive.signDims(e.count()))
        .select(col("id").as("src"), col("nbr_id").as("dst"))
      graft.ops.GraphOps.triangleStats(nodes, edges, "vec_id", "src", "dst")
        .select(col("id").as("vec_id"), col("deg"), col("tri"), col("cc_bp"))
    },
      triangleOracle),

    // G3 — bounded k-core peeling (3 rounds, k=3) over the k-NN graph: the
    // density ladder beside g2's local coefficient — survivors of late
    // rounds sit in genuinely dense similarity regions (a node propped up
    // only by soon-to-be-peeled neighbors drops next round). Bounded
    // rounds are the deterministic, oracle-unrollable form (the g1
    // fixed-iteration contract); per round two semi joins + one narrow
    // degree aggregation, nothing broadcast. All-integer output.
    Query("g3_kcore", Throughput, (s, dir) => {
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
    },
      kCoreOracle),

    // G4 — bounded multi-source BFS (4 hops) from a deterministic seed set
    // (vec_id ≡ 0 mod 97) over the k-NN graph: seed-expansion distance as
    // a propagation-based quality prior. Per round only the FRONTIER joins
    // the edge relation (plus one anti join against the settled set) — the
    // moving set is what shuffles, not the graph. Integer distances, −1
    // beyond the horizon (the g1/g3 fixed-iteration contract).
    Query("g4_bfs_dist", Throughput, (s, dir) => {
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
    },
      bfsOracle),

    // G5 — common-neighbor link prediction over the k-NN graph: for every
    // non-adjacent pair sharing ≥2 neighbors, the three classic
    // neighborhood scores (common-neighbor count, Jaccard in basis points,
    // Resource Allocation Σ1/deg(z) on the exact 1e10 grid). Intermediates
    // above deg 64 are excluded from wedge formation BY CONTRACT — the
    // documented hub mitigation that bounds the wedge relation at cap·m
    // under any skew (a super-hub carries ~zero RA signal anyway).
    // All-integer output.
    Query("g5_linkpred", Throughput, (s, dir) => {
      val e = emb(s, dir)
      val nodes = e.select(col("vec_id"),
          col("embedding").cast("array<double>").as("__v"))
        .filter(SimilarityOps.isNonZero(col("__v")))
      val edges = SimilarityOps.knnGraph(e, "vec_id", "embedding", k = 4,
          Adaptive.signDims(e.count()))
        .select(col("id").as("src"), col("nbr_id").as("dst"))
      graft.ops.GraphOps.linkPrediction(nodes, edges, "vec_id", "src", "dst",
          degCap = 64, minCn = 2)
    },
      linkPredOracle),

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
    Query("g6_label_prop", Throughput, (s, dir) => {
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
    },
      labelPropOracle),

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
    Query("g8_modularity", Throughput, (s, dir) => {
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
    },
      // Same knn undirected closure as g2-g5; exact integer L_c/D_c/m,
      // identical double expression order behind the 6-decimal rendering.
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
         |FROM dc d LEFT JOIN lc ON lc.label = d.label""".stripMargin),

    // G7 — HITS hub/authority over the k-NN graph (the second classic
    // link-analysis scorer beside g1's PageRank; in a corpus graph the
    // authority rank surfaces canonical documents, the hub rank surfaces
    // survey-like ones). UNNORMALIZED integer form, 2 rounds: HITS ranks
    // are invariant to the textbook per-round rescaling, so every score
    // stays an exact BIGINT and the oracle unrolls the mutual recursion
    // with no floating grid at all.
    Query("g7_hits", Throughput, (s, dir) => {
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
    },
      hitsOracle)
  )
}
