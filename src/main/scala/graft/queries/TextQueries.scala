package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, Exact, TextOps}

import Kind.Throughput
import Shared._

/** Text analysis: token statistics, quality, language ID, LM scoring,
  * BPE, TF-IDF, BM25. */
private[queries] object TextQueries {
  /** Decomposed suffix for t22: e+U+0301, a+U+0300, o+U+0302 — one Scala
    * constant interpolated into BOTH the query and the oracle so the two
    * can never drift. */
  private val nfcSuffix = "e\u0301a\u0300o\u0302"

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

  val all: Seq[Query] = Seq(
    // T14 — Zipf exponent: OLS slope of ln(count) over ln(rank) across the
    // vocabulary (the rank-frequency law every natural corpus follows —
    // and a quality signal when a crawled slice doesn't). Same Stats core
    // as mon3; ln sits per vocabulary row behind the decimal truncation
    // (t9 contract).
    Query("t14_zipf", Throughput, (s, dir) => {
      val v = TextOps.vocabulary(docs(s, dir), "text", topK = 1000)
      val pts = v.select(lit(1).as("g"),
        log(col("vocab_id").cast("double") + lit(1.0)).as("x"),
        log(col("n_occ").cast("double")).as("y"))
      graft.ops.Stats.olsByGroup(pts, col("g"), col("x"), col("y"))
        .select(col("n").as("n_terms"),
          Exact.fmt(col("slope"), 4).as("slope_r"),
          Exact.fmt(col("intercept"), 4).as("icept_r"))
    },
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
        |FROM mm""".stripMargin),

    // T35 — LM-based document quality (the CCNet signal: mean token
    // log-probability under a unigram LM trained on the corpus itself —
    // low-probability token soup scores low, fluent text scores near the
    // corpus mode). Plan: explode → one token-keyed count (the LM) → join
    // back → per-doc mean. The ln sum is made order-independent by the
    // t27 contract (each logp rounded to DECIMAL(30,10) before the sum,
    // mirrored digit-for-digit by the oracle); the one-row total
    // broadcasts. Hot-token join skew (every doc joins "the") is AQE's
    // skew-join case, and the probed ladder stays sublinear.
    Query("t35_lm_quality", Throughput, (s, dir) => {
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
    },
      // Same unigram LM restated relationally; the per-occurrence ln is
      // rounded to DECIMAL(30,10) BEFORE the sum on both engines (the t27
      // order-independence contract), then one mirrored double division.
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
        |GROUP BY doc_id""".stripMargin),

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
    Query("t41_adaptive_quality", Throughput, (s, dir) => {
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
    },
      // the t2 quality expression + the integer bottom-quartile rank drop;
      // the reported cut value derives from the dropped set AFTER the
      // integer membership decision, never the other way round.
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
         |FROM r GROUP BY source""".stripMargin),

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
    Query("t36_source_jsd", Throughput, (s, dir) => {
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
    },
      // Same intersection + exact-missing-mass identity, same per-term
      // DECIMAL(30,10) rounding, same final double chain.
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
        |FROM ag""".stripMargin),

    // T37 — readability (Flesch reading ease): exact integer components —
    // words, sentence runs ([.!?]+, floored at 1), syllable proxy = vowel
    // groups — plus the classic score, 206.835 − 1.015·w/s − 84.6·syl/w,
    // computed exactly from those integers:
    //   score·10⁴ = (2068350·s·w − 10150·w² − 846000·syl·s) / (s·w),
    // rounded half away from zero by integer division and rendered with 4
    // decimals. (A double chain behind %.4f rounded some ties differently
    // from DuckDB's.) One narrow codegen scan.
    Query("t37_readability", Throughput, (s, dir) =>
      docs(s, dir).filter(TextOps.tokenCount(col("text")) >= 1)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("words"),
          greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
            .cast("long").as("sentences"),
          regexp_count(lower(col("text")), lit("[aeiou]+"))
            .cast("long").as("syllables"))
        .withColumn("num", expr(
          "2068350 * sentences * words - 10150 * words * words - 846000 * syllables * sentences"))
        .withColumn("r4", expr(
          "(abs(num) * 2 + sentences * words) div (2 * sentences * words)"))
        .withColumn("flesch_r", expr(
          """concat(if(num < 0 AND r4 > 0, '-', ''), cast(r4 div 10000 AS STRING), '.',
            |  lpad(cast(r4 % 10000 AS STRING), 4, '0'))""".stripMargin))
        .drop("num", "r4"),
      """WITH c AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text, ' '), '\s+')) AS BIGINT) AS words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT) AS syllables
        |  FROM documents WHERE trim(text, ' ') <> ''),
        |n AS (SELECT *, 2068350 * sentences * words - 10150 * words * words
        |    - 846000 * syllables * sentences AS num FROM c),
        |r AS (SELECT *, (abs(num) * 2 + sentences * words) // (2 * sentences * words) AS r4
        |  FROM n)
        |SELECT doc_id, words, sentences, syllables,
        |  CASE WHEN num < 0 AND r4 > 0 THEN '-' ELSE '' END
        |    || CAST(r4 // 10000 AS VARCHAR) || '.'
        |    || lpad(CAST(r4 % 10000 AS VARCHAR), 4, '0') AS flesch_r
        |FROM r""".stripMargin),

    // T34 — calibration audit (reliability relation) for the vowel-density
    // language scorer: treating vowel density in basis points as the
    // classifier's confidence that lang = 'en' (t3's own decision
    // statistic), bucket into 500-bp bins and emit per-bin support,
    // positives, confidence mass, and the ECE gap NUMERATOR
    // |positives·10⁴ − Σconf| — every column an exact integer (the
    // common-denominator trick: acc−conf over denominator n·10⁴ needs no
    // division at all). One narrow codegen scan + one 21-row exchange.
    Query("t34_calibration", Throughput, (s, dir) =>
      docs(s, dir).select(
          expr("""(length(lower(text)) -
                   length(regexp_replace(lower(text), '[aeiou]', '')))
                  * 10000 div greatest(length(lower(text)), 1)""").as("conf_bp"),
          (col("lang") === "en").cast("long").as("y"))
        .select(expr("conf_bp div 500").as("bin"), col("conf_bp"), col("y"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
          sum(col("conf_bp")).as("sum_conf_bp"))
        .withColumn("gap_num", abs(col("n_pos") * 10000 - col("sum_conf_bp"))),
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
        |FROM c GROUP BY 1""".stripMargin),

    // T1 — token counting.
    Query("t1_token_stats", Throughput, (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.meanTokenLen(col("text")).as("mean_token_len")),
      s"""SELECT doc_id,
         |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS n_tokens,
         |  CASE WHEN length(trim(text)) = 0 OR len($toksSql) = 0 THEN 0.0
         |       ELSE CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len($toksSql)
         |  END AS mean_token_len
         |FROM documents""".stripMargin),

    // T2 — quality scoring (length/punct/stopword heuristics).
    Query("t2_quality", Throughput, (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.stopwordRatio(col("text")).as("stopword_ratio"),
        TextOps.punctRatio(col("text")).as("punct_ratio"),
        TextOps.qualityScore(col("text")).as("quality")),
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
         |FROM b""".stripMargin),

    // T3 — language-ID heuristic vs the labeled column.
    Query("t3_langid", Throughput, (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.langIdHeuristic(col("text")).as("lang_pred"),
        (TextOps.langIdHeuristic(col("text")) === col("lang")).cast("int").as("is_match")),
      """WITH b AS (SELECT doc_id, lang,
        |  CAST(length(lower(text)) - length(regexp_replace(lower(text), '[aeiou]', '', 'g')) AS DOUBLE)
        |    / greatest(length(lower(text)), 1) AS vr
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN vr >= 0.42 THEN 'en' WHEN vr >= 0.36 THEN 'es' ELSE 'de' END AS lang_pred,
        |  CASE WHEN (CASE WHEN vr >= 0.42 THEN 'en' WHEN vr >= 0.36 THEN 'es' ELSE 'de' END) = lang
        |       THEN 1 ELSE 0 END AS is_match
        |FROM b""".stripMargin),

    // T20 — language-ID CONFUSION MATRIX + per-class precision/recall in
    // exact basis points: the eval row for t3 (the d10/s14 pattern applied
    // to the classifier family — t3 reports per-doc matches, this reports
    // the aggregate quality a pipeline monitors: which languages the
    // heuristic confuses, per-class and overall). All integers.
    Query("t20_langid_eval", Throughput, (s, dir) => {
      val p = docs(s, dir).select(col("lang"),
        TextOps.langIdHeuristic(col("text")).as("pred"))
      val cell = p.groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
      val byTrue = p.groupBy(col("lang")).agg(count(lit(1)).as("n_true"))
      val byPred = p.groupBy(col("pred")).agg(count(lit(1)).as("n_pred"))
      cell.join(byTrue, "lang").join(byPred, "pred")
        .select(col("lang"), col("pred"), col("n"),
          expr("n * 10000 div n_true").as("recall_bp"),
          expr("n * 10000 div n_pred").as("precision_bp"))
    },
      // Confusion cells + per-class rates over the same vowel-ratio ladder.
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
        |FROM cell JOIN bt ON cell.lang = bt.lang JOIN bp ON cell.pred = bp.pred""".stripMargin),

    // T4 — document fingerprinting.
    Query("t4_fingerprint", Throughput, (s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp")),
      s"SELECT doc_id, $fpSql AS fp FROM documents"),

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
    Query("t22_nfc_normalize", Throughput, (s, dir) => {
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
    },
      // utf8proc-based nfc_normalize against the engine's native expression;
      // the suffix constant is the same Scala literal on both sides.
      s"""WITH r AS (SELECT lang, substr(text, 1, 40) || '$nfcSuffix' AS raw
         |           FROM documents),
         |n AS (SELECT lang, raw, nfc_normalize(raw) AS norm FROM r)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(length(raw)) AS BIGINT) AS sum_len_raw,
         |  CAST(SUM(length(norm)) AS BIGINT) AS sum_len_norm,
         |  COUNT(CASE WHEN raw <> norm THEN 1 END) AS n_changed,
         |  COUNT(DISTINCT substr(md5(norm), 1, 8)) AS n_fp
         |FROM n GROUP BY 1""".stripMargin),

    // T24 — cross-doc n-gram NOVELTY: per doc, the fraction (basis points)
    // of its distinct 3-word shingles whose GLOBAL first occurrence (min
    // doc_id over the corpus) is the doc itself — the memorization /
    // template-reuse curation signal (a doc whose shingles all appeared
    // earlier is boilerplate; a high-novelty doc carries new text). One
    // window min over the shared shingle relation (first-occurrence idiom:
    // no self-join, ONE exchange on the shingle + one on doc_id), integer
    // basis points end to end. At 100 TB the shingle relation is the same
    // one d2/d11 already shuffle; novelty adds no wider exchange.
    Query("t24_ngram_novelty", Throughput, (s, dir) => {
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
    },
      noveltyOracle),

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
    Query("t25_html_strip", Throughput, (s, dir) => {
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
    },
      // Same render → strip → decode pipeline built from DuckDB's regex/
      // replace primitives; expected text built independently on both sides.
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
        |FROM s""".stripMargin),

    // T6 — rarity-weighted top terms per document: tf × linear inverse
    // document frequency (score = tf/df — division is exactly rounded per
    // IEEE-754, so the ranking is engine-deterministic; tf·ln(N/df) would
    // hinge on libm ulp differences). Group top-3 compiles to
    // WindowGroupLimit: bounded per-doc heaps both sides of the exchange.
    Query("t6_top_terms", Throughput, (s, dir) => {
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
    },
      // tf/df reproduces exactly on both engines (single rounded division).
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
           |WHERE rank <= 3""".stripMargin),

    // T7 — Gopher-style repetition signals: duplicate-token fraction and
    // the fraction of adjacent-2-gram slots taken by the most frequent
    // 2-gram. Per-row array math (native gram array, sort, run-length scan)
    // — no shuffle; the oracle recomputes via unnest + groupBy + max.
    Query("t7_repetition", Throughput, (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.dupTokenFraction(col("text")).as("dup_token_frac"),
        TextOps.topBigramFraction(col("text")).as("top_2gram_frac")),
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
        |FROM s LEFT JOIN m USING (doc_id)""".stripMargin),

    // T8 — PII scrubbing. The synthetic corpus contains no PII, so a
    // deterministic email + phone is planted on every 5th doc first (both
    // engines build the identical augmented text); the scrubber then masks
    // with RE2-safe patterns (explicit classes, no lookarounds — Java and
    // RE2 agree). Output pins the match counts and the md5 of the scrubbed
    // text, so a single divergent replacement anywhere fails the hash.
    Query("t8_pii_redact", Throughput, (s, dir) => {
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
    },
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
        |FROM r""".stripMargin),

    // T10 — frequency-ranked vocabulary (tokenizer-training lite): term →
    // count + dense id, count-desc/term-asc deterministic ids. The window
    // ranks the VOCABULARY (distinct terms), not the corpus.
    Query("t10_vocab", Throughput, (s, dir) =>
      TextOps.vocabulary(docs(s, dir), "text", topK = 50)
        .select(col("term"), col("n_occ"), col("vocab_id")),
      """WITH t AS (
        |  SELECT unnest(string_split_regex(trim(text, ' '), '\s+')) AS term
        |  FROM documents),
        |c AS (SELECT term, COUNT(*) AS n_occ FROM t WHERE term <> '' GROUP BY 1)
        |SELECT term, n_occ,
        |  row_number() OVER (ORDER BY n_occ DESC, term) - 1 AS vocab_id
        |FROM c QUALIFY vocab_id < 50""".stripMargin),

    // T21 — vocabulary ID-ENCODING (the dataloader transform the t10
    // vocabulary exists for): each document becomes its ordered token-id
    // sequence under the frequency-ranked vocab, OOV → −1 — the exact
    // array a training run consumes, with the OOV count as the coverage
    // signal. Order is carried by posexplode positions through the
    // broadcast vocab join and reassembled with sort_array — never an
    // implicit collect order. Output bounded to doc_id < 100 (the encode
    // itself runs corpus-wide; only the checked rendering is capped).
    Query("t21_encode_ids", Throughput, (s, dir) => {
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
    },
      // Same vocab ranking as t10, positions from the token array ordinals,
      // string_agg ordered by position.
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
           |FROM ids WHERE doc_id < 100 GROUP BY doc_id""".stripMargin),

    // T23 — sliding-window token CHUNKING with overlap (size 64, stride 48,
    // overlap 16): the context-window chunker every RAG and pretraining
    // pipeline runs before embedding/packing. Contract pinned: chunk i
    // starts at 48·i; a non-first start is emitted only if it adds ≥1 new
    // token past its predecessor (no pure-suffix chunks); trailing chunk
    // may be short. Chunk CONTENT is pinned by an md5 fingerprint of the
    // space-joined slice — order-sensitive, so a wrong slice bound or
    // off-by-one start hashes differently. Oracle restates the same
    // start-ladder with range() + 1-based list slicing.
    Query("t23_chunk_overlap", Throughput, (s, dir) => {
      TextOps.chunkWithOverlap(docs(s, dir), "doc_id", "text",
          chunkSize = 64, stride = 48)
        .select(col("doc_id"), col("chunk_id"), col("chunk_start"),
          size(col("chunk")).cast("long").as("n_tokens"),
          substring(md5(concat_ws(" ", col("chunk"))), 1, 8).as("fp8"))
    },
      // t23: the same start-ladder (multiples of 48, keep start 0 plus any
      // start adding ≥1 token: start + 16 < n) over the same whitespace
      // tokens, chunks cut with DuckDB's 1-based inclusive list slicing.
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
         |FROM c""".stripMargin),

    // T12 — bigram PMI collocations (Church & Hanks): which adjacent word
    // pairs co-occur far above chance — corpus analysis for tokenizer/
    // quality work, the set-valued counterpart of t9's LM score. Output is
    // the full ≥ minCount set (no ORDER BY on the double — membership is
    // integer-determined, so libm ULP skew cannot change the row set).
    Query("t12_pmi", Throughput, (s, dir) =>
      TextOps.bigramPmi(docs(s, dir), "text", minCount = 20L)
        .select(col("gram"), col("n_ab"), col("n_a"), col("n_b"),
          Exact.fmt(col("pmi"), 4).as("pmi_r")),
      // Mirrors TextOps.bigramPmi: same ≥2-token doc filter on both counts,
      // same integer counts, one mirrored IEEE chain inside the ln.
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
           |FROM j""".stripMargin),

    // T29 — skip-gram co-occurrence counts at window 3 (the word2vec/GloVe
    // training-prep relation): t12 sees only ADJACENT pairs; the context
    // window is what embedding trainers actually consume. Pair generation
    // is an in-array nested transform (narrow, codegen'd, O(len·window)
    // per row — never a positional self-join, which would shuffle the
    // token relation `window` times); the only exchange is the groupBy on
    // the canonical pair, a vocab²-bounded relation map-side combine
    // crushes. All-integer output — nothing to format.
    Query("t29_skipgram", Throughput, (s, dir) =>
      // fanOut: the in-array pair transform ran single-task (r13 opt)
      TextOps.skipGramPairs(fanOut(docs(s, dir), col("doc_id")), "text",
          window = 3, minCount = 20L)
        .select(col("w_a"), col("w_b"), col("n_pair")),
      // Positional self-join (b.i in (a.i+1 .. a.i+3)) — the naive relational
      // statement of the window; the engine's in-array generation must agree.
      raw"""WITH w AS (SELECT doc_id, $toksSql AS ws FROM documents),
           |p AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
           |      FROM w WHERE len(ws) >= 2),
           |pr AS (SELECT least(a.w, b.w) AS w_a, greatest(a.w, b.w) AS w_b
           |       FROM p a JOIN p b ON a.doc_id = b.doc_id
           |                        AND b.i BETWEEN a.i + 1 AND a.i + 3)
           |SELECT w_a, w_b, COUNT(*) AS n_pair FROM pr GROUP BY 1, 2
           |HAVING COUNT(*) >= 20""".stripMargin),

    // T30 — RAKE keyword extraction (Rose et al. 2010): stopword-free token
    // runs as candidate phrases (gaps-and-islands per doc), scored by the
    // sum of their words' co-occurrence-degree / frequency ratios — the
    // phrase-level extraction pass beside t6's unigram top-terms and t11's
    // query-anchored BM25. Integer-exact: per-word score is deg·1e6 div
    // freq, phrase score an integer sum — no double reaches the output.
    // Islands window partitions by DOC; the score join hits the
    // vocabulary-bounded word-stat relation.
    Query("t30_rake_keywords", Throughput, (s, dir) =>
      TextOps.rakeKeywords(docs(s, dir), "doc_id", "text")
        .select(col("phrase"), col("n_words"), col("n_occ"), col("score_e6")),
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
           |FROM ex e JOIN wsc s USING (w) GROUP BY 1, 2, 3""".stripMargin),

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
    Query("t31_gopher_rules", Throughput, (s, dir) => {
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
    },
      // Islands via pos − row_number over non-stop tokens; deg = Σ(len−1)
      // over phrase instances; integral per-word score, integer phrase sum.
      // Mirrors TextOps.gopherRules counter-for-counter: same augmentation
      // CASE chain, same '\s+' split with empty-token filter, same
      // non-overlapping replace() counts for '#'/'...', same LIKE shapes for
      // bullet/ellipsis lines; every flag an integer cross-multiplication.
      {
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
    }),

    // T11 — BM25 keyword relevance against a fixed query-term set (the
    // lexical retrieval scorer behind Lucene/Elasticsearch; Lucene-form
    // always-positive idf). k1=1.2 / b=0.75 live as source literals
    // mirrored by the oracle's CAST('…' AS DOUBLE) parses — deriving k1+1
    // or 1−b arithmetically could land 1 ULP off the other engine. Per-doc
    // sum routes through DECIMAL(30,10) (the t9 contract), so the score is
    // order-independent and the ln's libm skew stays behind %.4f.
    Query("t11_bm25", Throughput, (s, dir) =>
      TextOps.bm25(docs(s, dir), "doc_id", "text", Seq("spark", "query", "window"))
        .select(col("id").as("doc_id"), col("n_hit"),
          Exact.fmt(col("bm25"), 4).as("bm25_r")),
      // Mirrors TextOps.bm25 expression-for-expression: every step except ln
      // is an exactly rounded IEEE op on identical operands, the constants
      // are the same parsed doubles, and the per-doc sum is an exact
      // DECIMAL(30,10) accumulate on both engines.
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
           |FROM c GROUP BY doc_id""".stripMargin),

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
    Query("t19_vocab_growth", Throughput, (s, dir) => {
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
    },
      // Heaps curve in exact integers: fixed (doc_id, idx) reading order,
      // MIN(first position) per term, decile thresholds by integer division.
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
        |GROUP BY 1, 2""".stripMargin),

    // T18 — per-document token-entropy quality signal: Shannon entropy of
    // the doc's unigram distribution, H = ln N − (Σ c·ln c)/N nats — low
    // entropy flags repetitive/templated docs (the distributional
    // complement of t7's literal repetition counts: t7 sees adjacent
    // copies, entropy sees ANY skewed reuse). Each transcendental term
    // truncates to DECIMAL(30,10) before the exact sum (the t9 contract)
    // so the reduction is order-independent and the libm ULP skew stays
    // behind %.4f. One explode → two partial-aggregated groupBys, all
    // narrow — token-linear at 100 TB.
    Query("t18_token_entropy", Throughput, (s, dir) => {
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
    },
      // Token entropy: H = ln N − (Σ c·ln c)/N, per-term DECIMAL(30,10)
      // truncation before the sum (t9 contract).
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text, ' '), '\s+')) AS t
        |  FROM documents),
        |cnt AS (SELECT doc_id, t, COUNT(*) AS c FROM tok WHERE t <> '' GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
        |  printf('%.4f', ln(CAST(SUM(c) AS DOUBLE))
        |    - CAST(SUM(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) AS DECIMAL(30,10)))
        |           AS DOUBLE) / SUM(c)) AS entropy_r
        |FROM cnt GROUP BY doc_id""".stripMargin),

    // T9 — bigram LM quality score (CCNet/KenLM-style perplexity proxy,
    // model trained on the corpus itself): per doc, mean ln P(w2|w1) from
    // global bigram/context counts. Each log term truncates to
    // DECIMAL(30,10) before the exact sum, so the mean is order-independent
    // and digit-mirrorable.
    Query("t9_lm_score", Throughput, (s, dir) =>
      TextOps.bigramLmScore(docs(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"),
          Exact.fmt(col("mean_logp"), 4).as("mean_logp_r")),
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
        |GROUP BY 1""".stripMargin),

    // T27 — held-out perplexity scoring (the CCNet-style filter shape):
    // test docs (doc_id ≡ 0 mod 7) scored under a bigram LM trained on
    // the REST of the corpus, add-one smoothed, OOV mapped to a reserved
    // symbol — unseen bigrams get finite mass, unlike t9's self-scored
    // unsmoothed form. The ln sits behind avgD(10)+%.4f (the t9/t12
    // transcendental discipline); counts and V are exact integers.
    Query("t27_heldout_ppl", Throughput, (s, dir) => {
      val d = docs(s, dir)
      TextOps.heldOutLmScore(
          d.filter(pmod(col("doc_id"), lit(7)) =!= 0),
          d.filter(pmod(col("doc_id"), lit(7)) === 0),
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"), col("n_oov"),
          Exact.fmt(col("mean_logp"), 4).as("mean_logp_r"))
    },
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
        |GROUP BY sc.doc_id, o.n_oov""".stripMargin),

    // T32 — interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995,
    // Chen & Goodman's interpolated form, D = 3/4) on the same 1-in-7
    // held-out split as t27's add-one baseline: probabilities are exact
    // long rationals (D = 3/4 clears denominators via ×4), unseen contexts
    // back off to the continuation distribution, zero-mass bigrams are
    // counted and excluded from the mean — the published-standard smoother
    // beside the baseline, sharing its ln/DECIMAL(30,10)/%.4f rendering
    // contract.
    Query("t32_kneser_ney", Throughput, (s, dir) => {
      val d = docs(s, dir)
      TextOps.kneserNeyScore(
          d.filter(pmod(col("doc_id"), lit(7)) =!= 0),
          d.filter(pmod(col("doc_id"), lit(7)) === 0),
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"), col("n_zero"),
          when(col("mean_logp").isNull, lit(null: String))
            .otherwise(Exact.fmt(col("mean_logp"), 4)).as("mean_logp_r"))
    },
      // Same smoothed formula from first principles: train counts, vocab
      // map with the reserved OOV symbol, per-doc window pairing.
      // Mirrors kneserNeyScore stat-for-stat: same bigram relation as t27,
      // integer num/den rationals (×4 discount clearing), same backoff CASE,
      // ln on the identical double division, DECIMAL(30,10) mean, %.4f.
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
        |FROM cnt c LEFT JOIN mn ON mn.doc_id = c.doc_id""".stripMargin),

    // T33 — tokenizer fertility by language (the multilingual-tokenizer
    // equity metric: subwords per word and characters per subword — a
    // language whose fertility runs high pays more sequence length per
    // sentence, the bias tokenizer papers report): t5's BPE-ish subword
    // count over the t1 word count, aggregated per lang, both ratios in
    // exact basis points via the x18 split-division identity. One narrow
    // scan + one |langs|-row aggregate.
    Query("t33_fertility", Throughput, (s, dir) =>
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
            .as("chars_per_sub_bp")),
      // The regex alternation is the tokenizer (see TextOps.bpeishPattern):
      // merges beat the \S fallback under both engines' alternation semantics.
      // t1's word count + t5's subword regex per doc, lang rollup, x18
      // split-division basis points.
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
         |FROM a""".stripMargin),

    // T26 — feature hashing (the "hashing trick", Weinberger '09): tokens
    // hashed into 16 signed buckets — the fixed-width featurizer that
    // needs NO vocabulary pass, which is exactly why it scales where t21's
    // vocab join can't (no dictionary to build, broadcast, or keep
    // consistent across 100 TB re-runs). bucket = md5 hex digit 1, sign =
    // digit 2's parity (collision bias cancels in expectation — the
    // signed-sum property the trick depends on); one explode + one
    // (doc, bucket) partial-aggregated sum, scan-bound.
    Query("t26_feature_hash", Throughput, (s, dir) =>
      // fanOut: tokenize+md5 kernel ran single-task on the one-split scan
      fanOut(docs(s, dir), col("doc_id")).filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
        .withColumn("hx", md5(col("t")))
        .withColumn("bucket", conv(substring(col("hx"), 1, 1), 16, 10).cast("long"))
        .withColumn("sgn", when(
          conv(substring(col("hx"), 2, 1), 16, 10).cast("int") % 2 === 0,
          1L).otherwise(-1L))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(sum(col("sgn")).as("v")),
      raw"""WITH t AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text, ' '), '\s+')) AS t
        |  FROM documents WHERE length(trim(text, ' ')) > 0),
        |h AS (SELECT doc_id,
        |    CAST(strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1 AS BIGINT) AS bucket,
        |    CASE WHEN (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1) % 2 = 0
        |         THEN 1 ELSE -1 END AS sgn
        |  FROM t)
        |SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS v
        |FROM h GROUP BY 1, 2""".stripMargin),

    // T17 — out-of-vocabulary rate per doc against the corpus top-1000
    // vocabulary (t10's relation): the domain-shift / gibberish signal a
    // curation pipeline tracks per batch. The vocabulary is broadcast
    // (1000 rows) so the token relation never shuffles on term; the rate
    // ships as exact integer basis points.
    Query("t17_oov_rate", Throughput, (s, dir) => {
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
    },
      // OOV vs the t10 vocabulary relation (same tokenization), rate in
      // exact integer basis points.
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
           |GROUP BY 1""".stripMargin),

    // T16 — pivot (long→wide): per-source token mass cross-tabbed by
    // language — the mixture-balance report a corpus pipeline prints.
    // Pivot values are an EXPLICIT list: without it Spark runs an eager
    // distinct scan to discover columns (a second job over the corpus at
    // 100 TB) and the output schema becomes data-dependent. Absent
    // (source, lang) cells surface as null on both engines.
    Query("t16_lang_pivot", Throughput, (s, dir) =>
      docs(s, dir)
        .select(col("source"), col("lang"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(sum(col("n_tok"))),
      // Pivot = grouped conditional sums; absent cells NULL on both engines.
      s"""WITH d AS (SELECT source, lang,
         |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS n_tok
         |  FROM documents)
         |SELECT source,
         |  CAST(SUM(CASE WHEN lang = 'de' THEN n_tok END) AS BIGINT) AS de,
         |  CAST(SUM(CASE WHEN lang = 'en' THEN n_tok END) AS BIGINT) AS en,
         |  CAST(SUM(CASE WHEN lang = 'es' THEN n_tok END) AS BIGINT) AS es,
         |  CAST(SUM(CASE WHEN lang = 'fr' THEN n_tok END) AS BIGINT) AS fr,
         |  CAST(SUM(CASE WHEN lang = 'zh' THEN n_tok END) AS BIGINT) AS zh
         |FROM d GROUP BY 1""".stripMargin),

    // T15 — per-doc top-3 TF-IDF keywords: the corpus-statistics tagging
    // pass (tf one (doc,term) count, df one term count over it, top-k a
    // WindowGroupLimit). Rank order keys on the BIGINT-truncated score
    // (t9 ln contract) with a term tie-break — engine-exact ordering.
    Query("t15_tfidf", Throughput, (s, dir) =>
      TextOps.tfidfTopK(docs(s, dir), "doc_id", "text", k = 3)
        .select(col("id").as("doc_id"), col("term"), col("rank"),
          col("tf"), col("df"), col("score_r")),
      // TF-IDF: identical tokenization to t11; rank by the same truncated
      // BIGINT score key + term tie-break.
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
           |FROM r WHERE rank <= 3""".stripMargin),

    // T13 — inverted index build: term → document frequency + the 10
    // lowest doc ids as a deterministic posting sample (distinct'd,
    // numerically sorted, sliced, stringified — physical layout cannot
    // reorder it). Stop-term skew lands in single grouped rows; full
    // posting lists would shard by (term, bucket) at 100 TB (see
    // TextOps.invertedIndex doc).
    Query("t13_inverted_index", Throughput, (s, dir) =>
      TextOps.invertedIndex(docs(s, dir), "doc_id", "text", topDocs = 10)
        .select(col("term"), col("df"), col("postings_head")),
      raw"""WITH tok AS (
           |  SELECT DISTINCT doc_id,
           |    unnest(string_split_regex(trim(text, ' '), '\s+')) AS term
           |  FROM documents WHERE length(trim(text, ' ')) > 0)
           |SELECT term, COUNT(*) AS df,
           |  array_to_string((list_sort(list(doc_id)))[1:10], ',') AS postings_head
           |FROM tok WHERE term <> '' GROUP BY 1""".stripMargin),

    // T5 — BPE-ish subword tokenization: greedy left-to-right merge-or-char
    // scan against a fixed merge vocabulary (what one round of BPE training
    // learns), as a per-row codegen'd expression. n_merges = chars saved by
    // merges — the compression a real subword vocab buys on this corpus.
    Query("t5_bpe_tokens", Throughput, (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.bpeishTokenCount(col("text")).cast("long").as("n_subwords"),
        (length(regexp_replace(col("text"), "\\s", "")) -
          TextOps.bpeishTokenCount(col("text"))).cast("long").as("n_merges")),
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(lower(text), '${TextOps.bpeishPattern()}')) AS BIGINT) AS n_subwords,
         |  CAST(length(regexp_replace(text, '\\s', '', 'g'))
         |       - len(regexp_extract_all(lower(text), '${TextOps.bpeishPattern()}')) AS BIGINT) AS n_merges
         |FROM documents""".stripMargin),

    // T28 — the BPE TRAINING pass t5's fixed merge list stands in for
    // (r10 verdict task 5): 4 rounds of count-pairs → merge-argmax →
    // re-segment over the distinct-word relation. See
    // [[TextOps.bpeTrain]] for the two load-bearing design points
    // (vocabulary-not-corpus iteration; greedy merge ≡ string replace on
    // separator-joined symbols, which is what makes the oracle an
    // unrolled CTE triple per round — g1's unrolled-iteration contract).
    Query("t28_bpe_train", Throughput, (s, dir) =>
      TextOps.bpeTrain(docs(s, dir), "text", rounds = 4),
      // Unrolled BPE training (g1's one-CTE-group-per-iteration contract):
      // chr(31) is the engine's U+001F symbol separator, replace() shares
      // Spark's left-to-right non-overlapping semantics (= greedy-leftmost
      // BPE merge), argmax tie-break (n DESC, a, b) mirrored exactly.
      {
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
    })
  )
}
