package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, Exact, SimilarityOps, TextOps}

import Kind.Throughput
import Shared._

/** Deduplication: exact, MinHash-LSH, SimHash, n-gram Jaccard,
  * embedding near-dup, clustering. */
private[queries] object DedupQueries {
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

  /** Exact unigram-token Jaccard over the LSH candidate pairs (d4). */
  private def blockedJaccardOracle: String =
    s"""WITH $minhashCtes,
       |tks AS (SELECT doc_id, list_distinct($toksSql) AS toks FROM documents)
       |SELECT p.id_a, p.id_b,
       |  CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) = 0 THEN 0.0
       |       ELSE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
       |            / len(list_distinct(list_concat(a.toks, b.toks))) END AS jaccard
       |FROM pairs p JOIN tks a ON p.id_a = a.doc_id JOIN tks b ON p.id_b = b.doc_id""".stripMargin

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

  val all: Seq[Query] = Seq(
    // D1 — exact dedup by content fingerprint (hash-groupBy).
    Query("d1_dedup_exact", Throughput, (s, dir) =>
      docs(s, dir).groupBy(TextOps.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies")),
      s"""SELECT $fpSql AS fp, min(doc_id) AS doc_id, count(*) AS n_copies
         |FROM documents GROUP BY 1""".stripMargin),

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
    Query("d17_homoglyph_dedup", Throughput, (s, dir) => {
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
    },
      // Same synthesized homoglyph corpus, same skeleton-then-fingerprint.
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
        |FROM sk GROUP BY 1""".stripMargin),

    // D16 — INCREMENTAL near-dup admission: the production dedup shape —
    // the standing corpus (doc_id ≢ 0 mod 11) keeps a materialized
    // signature TABLE; the incoming batch computes only its own
    // signatures and band-joins against the union. Per-batch work is
    // O(batch) + a batch-sided bucket join; the result equals full-corpus
    // banding restricted to pairs with an incoming side, which is exactly
    // what the oracle states.
    Query("d16_incremental_dedup", Throughput, (s, dir) => {
      val d = docs(s, dir)
      val work = scratch("d16inc")
      val standing = DedupOps.materializeSignatures(
        d.filter(pmod(col("doc_id"), lit(11)) =!= 0), "doc_id", "text",
        s"$work/sigs")
      val incoming = DedupOps.signatures(
        d.filter(pmod(col("doc_id"), lit(11)) === 0), "doc_id", "text")
      DedupOps.incrementalPairs(standing, incoming)
    },
      // Full-corpus banding restricted to pairs with an incoming side: the
      // incremental path must find exactly what a from-scratch run finds
      // about the new batch.
      (minhashOracle + "\nWHERE p.id_a % 11 = 0 OR p.id_b % 11 = 0")),

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
    Query("d15_canonical_dedup", Throughput, (s, dir) => {
      val d = docs(s, dir)
      val messy = d.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
          upper(expr("replace(text, ' ', ' , ')")).as("text"))
      d.select(col("doc_id"), col("text")).unionByName(messy)
        .groupBy(md5(graft.expressions.AsciiCanon.asciiCanon(col("text"))).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
    },
      // Same normalize chain from DuckDB's regex primitives over the same
      // synthesized messy union.
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
        |FROM c GROUP BY 1""".stripMargin),

    // D2 — MinHash-LSH near-dup candidate pairs (16 hashes, 4 bands × 4 rows).
    Query("d2_minhash_lsh", Throughput, (s, dir) =>
      DedupOps.lshCandidatePairs(docs(s, dir), "doc_id", "text", 16, 4),
      minhashOracle),

    // D2b — the 100 TB shape of d2: the signature relation is computed ONCE,
    // persisted as a parquet table, and banding + scoring run against the
    // table (the signature subtree appears once; both join sides are cheap
    // parquet re-reads, not md5-over-shingles recomputes).
    Query("d2b_minhash_materialized", Throughput, (s, dir) => {
      val sigTable = scratch("sigs")
      DedupOps.pairsFromSignatures(
        DedupOps.materializeSignatures(docs(s, dir), "doc_id", "text", sigTable, 16), 16, 4)
    },
      // d2b runs the same logical query against a materialized signature
      // table — the result is identical by construction.
      minhashOracle),

    // D6 — near-dup CLUSTERING: connected components over the thresholded
    // LSH pair graph, one canonical id (component min) per doc — the
    // contract pair-wise dropping gets wrong on similarity chains. Min-label
    // propagation to fixpoint; the oracle recomputes components via a
    // recursive transitive closure.
    Query("d6_neardup_clusters", Throughput, (s, dir) => {
      val sigs = DedupOps.signatures(docs(s, dir), "doc_id", "text", 16).cache()
      val pairs = DedupOps.pairsFromSignatures(sigs, 16, 4)
        .filter(col("est_jaccard") >= 0.5)
      val labeled = DedupOps.connectedComponents(pairs)
      labeled.join(
          labeled.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size")),
          "cluster_id")
        .select(col("id").as("doc_id"), col("cluster_id"), col("cluster_size"))
    },
      // Components of the ≥0.5-estimated-Jaccard pair graph by recursive
      // transitive closure; label = component min doc_id.
      clusterOracle),

    // D6b — the same clustering contract via the alternating large-star/
    // small-star algorithm (O(log²) rounds on any diameter): both
    // implementations must produce the identical component labeling.
    Query("d6b_clusters_alternating", Throughput, (s, dir) => {
      val sigs = DedupOps.signatures(docs(s, dir), "doc_id", "text", 16).cache()
      val pairs = DedupOps.pairsFromSignatures(sigs, 16, 4)
        .filter(col("est_jaccard") >= 0.5)
      val labeled = DedupOps.connectedComponentsAlternating(pairs)
      labeled.join(
          labeled.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size")),
          "cluster_id")
        .select(col("id").as("doc_id"), col("cluster_id"), col("cluster_size"))
    },
      // Same contract, computed by alternating large-star/small-star rounds —
      // the labeling must be identical to d6's.
      clusterOracle),

    // D4 — exact token-set Jaccard over MinHash-band blocked candidates.
    // (Blocking on a raw text prefix makes the self-join quadratic in the
    // largest shared-boilerplate bucket; a band collision instead has
    // P = J^rowsPerBand, so bucket sizes track true similarity.) Blocking
    // runs against a materialized signature table so the md5-over-shingles
    // scan executes once, not once per self-join side.
    Query("d4_ngram_jaccard", Throughput, (s, dir) => {
      val sigs = DedupOps.signatures(docs(s, dir), "doc_id", "text", 16).cache()
      DedupOps.blockedJaccardFromSignatures(sigs, docs(s, dir), "doc_id", "text", 16, 4)
    },
      blockedJaccardOracle),

    // D3 — 32-bit SimHash fingerprints (relational form: one md5 per distinct
    // token, 32 bit-count aggregates, majority vote per bit).
    Query("d3_simhash", Throughput, (s, dir) => {
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
    },
      simhashOracle),

    // D5 — sign-key width grows as ceil(log2 N): a FIXED key width makes
    // same-bucket candidate pairs ~N²/2^bits; constant expected occupancy
    // keeps them linear (the sweep measured 0.4→57.7 s for 10× data at the
    // old fixed 8 bits).
    Query("d5_embedding_neardup", Throughput, (s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.embeddingNearDupPairs(e, "vec_id", "embedding", 0.35,
          Adaptive.signDims(e.count()))
        .select(col("id_a"), col("id_b"), Exact.fmt(col("sim"), 4).as("sim_r"))
    },
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         |$adaptiveParamsSql,
         |n AS (SELECT vec_id, ve, sqrt(list_inner_product(ve, ve)) AS nrm,
         |      substr($signStrSql, 1, (SELECT sd FROM params)) AS bucket FROM v
         |      WHERE list_inner_product(ve, ve) > 0)
         |SELECT id_a, id_b, printf('%.4f', sim) AS sim_r FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         list_inner_product(a.ve, b.ve) / (a.nrm * b.nrm) AS sim
         |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |WHERE sim >= CAST('0.35' AS DOUBLE)""".stripMargin),

    // D5b — the scale knobs of d5 under oracle: multi-probe (2 rotations of
    // the adaptive sign width) recovers pairs a single bucket rotation
    // misses — the oracle admits a pair if EITHER rotation collides, so the
    // result is a strict superset of d5's and pins the recall/bucket trade.
    Query("d5b_embedding_multiprobe", Throughput, (s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.embeddingNearDupPairs(e, "vec_id", "embedding", 0.35,
          Adaptive.signDims(e.count()), rotations = 2)
        .select(col("id_a"), col("id_b"), Exact.fmt(col("sim"), 4).as("sim_r"))
    },
      // Multi-probe: a candidate pair collides in EITHER sign-bucket rotation
      // (rotation r keys dims [r·sd, (r+1)·sd), 1-indexed substr prefixes).
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
         |WHERE sim >= CAST('0.35' AS DOUBLE)""".stripMargin),

    // D10 — LSH candidate recall/precision against EXACT shingle-Jaccard
    // truth on a bounded subset (doc_id < 500): the eval loop for the text-
    // dedup path, the analog of s6/s14 for MinHash banding. Truth via the
    // shingle-join intersection counts (never an all-pairs array compare);
    // the ≥ 0.5 membership decided by exact integers (2·|∩| ≥ |∪|).
    // Banding is per-doc independent, so candidates-on-subset ≡ subset-
    // filtered candidates — the oracle exploits exactly that.
    Query("d10_lsh_recall", Throughput, (s, dir) => {
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
    },
      lshRecallOracle),

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
    Query("d19_cap_recall", Throughput, (s, dir) => {
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
    },
      capRecallOracle),

    // D20 — chunk-level dedup with FIRST-occurrence keep (the RefinedWeb/
    // FineWeb line-dedup semantics: one copy of every boilerplate line
    // survives, at its globally first position — d8 scrubs ALL copies, this
    // keeps exactly one). 8-token chunks stand in for lines on the
    // newline-free synthetic docs. One exchange keyed on the chunk text
    // (window min — the t24 first-occurrence idiom), one doc-id rollup; the
    // rebuilt text ships as its md5 so the compare stays fixed-width.
    Query("d20_chunk_dedup_first", Throughput, (s, dir) =>
      DedupOps.chunkDedupFirst(docs(s, dir), "doc_id", "text", 8)
        .select(col("id").as("doc_id"), col("n_chunks"), col("n_kept"),
          md5(col("rebuilt")).as("dedup_fp")),
      // Mirrors DedupOps.chunkDedupFirst: same tokenization, 0-based 8-token
      // chunks (DuckDB's 1-based inclusive slice ↔ Spark's 1-based slice), the
      // identical integer first-occurrence key, ordered reassembly.
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
           |FROM d LEFT JOIN k USING (doc_id)""".stripMargin),

    // D21 — Bloom-filter incremental chunk dedup (the Dolma BFF recipe):
    // the 1-in-5 fresh batch (the t27 held-out convention) tested against
    // a filter populated by the other four fifths. The filter ships as its
    // set-bit relation (≤ 2¹⁶ rows, broadcast, constant in history size);
    // the exact containment column rides along so FP behavior is pinned
    // per doc, not hoped. See DedupOps.bloomChunkDedup for the scale shape.
    Query("d21_bloom_dedup", Throughput, (s, dir) => {
      val d = docs(s, dir)
      DedupOps.bloomChunkDedup(
          d.filter(pmod(col("doc_id"), lit(5)) =!= 0),
          d.filter(pmod(col("doc_id"), lit(5)) === 0),
          "doc_id", "text", chunkTokens = 8, kHashes = 3)
        .select(col("id").as("doc_id"), col("n_chunks"), col("n_hits"),
          col("n_true_hits"), col("dropped"))
    },
      // Mirrors DedupOps.bloomChunkDedup: same chunks, the identical salted
      // 4-hex-digit md5 positions (t26's strpos idiom widened to 2¹⁶), the
      // all-k-set hit rule, exact containment beside the bloom decision.
      {
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
    }),

    // D22 — maximal duplicated-REGION statistics (the ExactSubstr report,
    // Lee et al. 2022): per doc, cross-doc duplicate 8-gram covers merged
    // into MAXIMAL token runs — span count, duplicated mass, longest run.
    // d7 counts duplicated grams and d8 deletes their cover; the span
    // SHAPE (one quoted block vs boilerplate confetti) is the curation
    // signal neither reports. Relational islands idiom: two window frames
    // over one (id | st, en) sort, partitions bounded by per-doc gram
    // counts. See DedupOps.dupSpans.
    Query("d22_dup_spans", Throughput, (s, dir) =>
      DedupOps.dupSpans(docs(s, dir), "doc_id", "text", gramSize = 8, minDocs = 2)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_spans"),
          col("dup_tokens"), col("longest_span"), col("dup_bp")),
      // Mirrors DedupOps.dupSpans: d8's gram/dup relations (1-based starts —
      // span lengths and merge structure are position-origin invariant), the
      // same islands merge (new island iff start > running-max-end + 1, so
      // adjacent covers fuse), zeros riding along for clean docs.
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
           |FROM d LEFT JOIN pd USING (doc_id)""".stripMargin),

    // D12 — sorted-neighborhood near-dup (SortingLSH): the third candidate
    // geometry next to d2's banding and d11's prefix filtering — sort by
    // (simhash, id), compare each doc with its next 4 successors, keep
    // hamming ≤ 3. Candidate volume is EXACTLY 4n by construction (immune
    // to bucket skew; stated recall trade for pairs far apart in the sort
    // order). Global rank via the two-pass ranged rank, successor pairing
    // as a position equi-join. All-integer.
    Query("d12_sorted_neardup", Throughput, (s, dir) =>
      DedupOps.sortedNearDup(docs(s, dir), "doc_id", "text",
          window = 4, maxHamming = 3),
      sortedNearDupOracle),

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
    Query("d13_edit_distance", Throughput, (s, dir) =>
      DedupOps.editDistancePairsSegmented(docs(s, dir), "doc_id", "text",
          langCol = "lang", lenCol = "n_chars",
          prefixLen = 192, maxDist = 5, lenSlack = 4),
      // The predicate join the engine's band blocking must enumerate exactly;
      // DuckDB's levenshtein is un-thresholded so the bound is a filter.
      // Levenshtein returns BIGINT here vs Spark's INT — cast to match.
      """WITH d AS (SELECT doc_id, lang, n_chars, substr(text, 1, 192) AS pfx
        |           FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.pfx, b.pfx) AS INT) AS dist
        |FROM d a JOIN d b
        |  ON a.lang = b.lang AND a.doc_id < b.doc_id
        | AND abs(a.n_chars - b.n_chars) <= 4
        |WHERE levenshtein(a.pfx, b.pfx) <= 5""".stripMargin),

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
    Query("d14_jaro_winkler", Throughput, (s, dir) =>
      TextOps.typoCandidates(docs(s, dir), "text", minJw = 0.55, maxLenDiff = 2)
        .select(col("term_a"), col("term_b"),
          round(col("jw"), 4).as("jw_r")),
      // Independent Jaro-Winkler implementation (DuckDB builtin) against the
      // engine's native expression, pair by pair over the same vocabulary.
      raw"""WITH toks AS (SELECT DISTINCT unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |              FROM documents WHERE length(trim(text)) > 0)
        |SELECT a.t AS term_a, b.t AS term_b,
        |  round(jaro_winkler_similarity(a.t, b.t), 4) AS jw_r
        |FROM toks a JOIN toks b
        |  ON substr(a.t, 1, 1) = substr(b.t, 1, 1) AND a.t < b.t
        | AND abs(length(a.t) - length(b.t)) <= 2
        |WHERE jaro_winkler_similarity(a.t, b.t) > 0.55""".stripMargin),

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
    Query("d11_setsim_join", Throughput, (s, dir) =>
      // fanOut: the cached shingle relation inherits the scan's ONE local
      // partition, so all four PPJoin subtrees — including both broadcast
      // verification joins and their |set|-wide expansion — ran single-task
      DedupOps.setSimJoinExact(fanOut(docs(s, dir), col("doc_id")),
          "doc_id", "text",
          shingleSize = 3, tauNum = 8, tauDen = 10)
        .select(col("id_a"), col("id_b"), col("na"), col("nb"), col("ni"),
          col("j_bp")),
      setSimJoinOracle),

    // D7 — cross-document duplicated n-gram fractions (span-dedup signal,
    // Lee et al. 2022): distinct 4-grams per doc that occur in >= 2 docs.
    // Both exchanges key on the gram hash; skew lands in one count row.
    // The fraction rides as integer basis points (n_dup·10⁴ div n): a
    // formatted double ties at exact binary fractions like 2/64, where Java
    // %.4f rounds half-up and C printf half-even — integer div is exact on
    // both engines.
    Query("d7_dup_ngrams", Throughput, (s, dir) =>
      // fanOut: the gram explode + md5 pass ran single-task (r13 opt)
      DedupOps.crossDocGramStats(fanOut(docs(s, dir), col("doc_id")),
          "doc_id", "text", 4)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_dup_grams"),
          expr("(n_dup_grams * 10000) div n_grams").as("dup_bp")),
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
        |FROM sh JOIN g USING (gram) GROUP BY 1""".stripMargin),

    // D8 — span-level scrub (the removal step d7's statistics motivate):
    // tokens covered by any word 8-gram occurring in ≥2 distinct docs are
    // deleted, survivors re-join in order. All heavy relations token-sized
    // and keyed on the uniform gram hash or doc id; the cleaned text ships
    // as its md5 so the compare stays fixed-width. n_tokens/n_kept are
    // exact integers.
    Query("d8_span_scrub", Throughput, (s, dir) =>
      DedupOps.spanScrub(docs(s, dir), "doc_id", "text", gramSize = 8, minDocs = 2)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_kept"),
          md5(col("cleaned")).as("scrub_fp")),
      // Mirrors DedupOps.spanScrub: same tokenization, 1-based positions,
      // cross-doc distinct-doc counts, inclusive 8-token cover windows.
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
           |FROM d LEFT JOIN k ON d.doc_id = k.kid""".stripMargin),

    // D9 — asymmetric containment (Broder's other similarity): a short doc
    // quoted whole inside a long one has Jaccard |A|/|B| — arbitrarily low,
    // so MinHash bands (collision P = J^r) structurally miss it; its
    // containment is 1.0. Blocking is the rare-gram inverted-posting join
    // (df ∈ [2, cap]): a contained doc shares ALL its grams with its
    // container, so any sub-cap shared gram blocks the pair, and the cap
    // bounds every posting's fan-out at cap² — no boilerplate quadratics.
    // Exact shared-gram counts verify candidates only.
    Query("d9_containment", Throughput, (s, dir) =>
      // r13 opt note: fanOut measured flat here (2.3 s both ways) — the
      // posting joins, not the explode kernel, own the time; left alone
      DedupOps.containmentPairs(docs(s, dir), "doc_id", "text",
          gramSize = 8, dfCap = 8)
        .select(col("id_a"), col("id_b"), col("n_shared"),
          Exact.fmt(col("containment"), 4).as("containment_r")),
      // Mirrors DedupOps.containmentPairs: same tokenization/short-doc
      // fallback as d7 but 8-grams; rare-gram blocking df ∈ [2, 8]; exact
      // shared counts; containment = shared / min side.
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
        |JOIN sz sb ON s.id_b = sb.doc_id""".stripMargin),

    // D18 — duplication profile BY SOURCE (where the dup mass lives —
    // the drill-down that turns d1's corpus-wide rate into a curation
    // decision about which feeds to throttle): per-source exact-dup rate
    // in basis points off the d1 fingerprint. Two partial-agg exchanges.
    Query("d18_dup_by_source", Throughput, (s, dir) =>
      docs(s, dir)
        .groupBy(col("source"), TextOps.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("source"))
        .agg(sum(col("n")).as("n_docs"),
          count(lit(1)).as("n_distinct"),
          sum(col("n") - 1).as("n_dup_docs"))
        .withColumn("dup_bp", expr("n_dup_docs * 10000 div n_docs")),
      s"""WITH g AS (SELECT source, $fpSql AS fp, COUNT(*) AS n
         |  FROM documents GROUP BY 1, 2)
         |SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
         |  COUNT(*) AS n_distinct,
         |  CAST(SUM(n - 1) AS BIGINT) AS n_dup_docs,
         |  CAST(SUM(n - 1) AS BIGINT) * 10000 // CAST(SUM(n) AS BIGINT) AS dup_bp
         |FROM g GROUP BY 1""".stripMargin)
  )
}
