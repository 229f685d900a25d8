package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines.
  *
  * Exact dedup is a keyed groupBy on a 128-bit content hash — one shuffle on
  * the hash, partial-agg'd, no skew (hashes are uniform). MinHash-LSH is the
  * scale path for near-dup detection: signature computation is embarrassingly
  * parallel; candidate generation shuffles once on (band, bandSignature) —
  * bucket sizes stay small because a band collision already implies high
  * similarity, so the self-join explodes only true near-dup clusters, never
  * the whole corpus.
  *
  * Hash functions are md5-hex based so the semantics are portable (the DuckDB
  * oracle computes the identical strings); min over fixed-width lowercase hex
  * strings ≡ min over the underlying integers.
  */
object DedupOps {

  /** Rounds the most recent connected-components call took to converge —
    * diagnostic only (scale sweeps read it to separate "more rounds" from
    * "wider shuffles" when a clustering query goes super-linear). */
  @volatile private[graft] var lastCcRounds: Int = -1

  /** Default LSH bucket cap for COMPOSED pipelines that run on dirty corpora
    * (the c1 cleaner): a band bucket larger than this means thousands of
    * near-identical documents — exact-fingerprint dedup territory, which the
    * composed cleaner runs anyway — while the bucket's quadratic self-join
    * would dominate the whole job. Real near-dup clusters are orders of
    * magnitude smaller, so on a non-degenerate corpus the cap never fires
    * (and the oracle's uncapped SQL stays exactly equal). */
  val DefaultBucketCap = 4096

  /** Exact dedup: keep the smallest id per identical (normalized) content. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(TextOps.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Distinct whitespace tokens of a text column. */
  def distinctTokens(text: Column): Column = array_distinct(TextOps.tokens(text))

  /** Mersenne prime modulus for the affine MinHash family. */
  val MinhashP: Long = 2147483647L // 2^31 - 1

  /** Deterministic (a, b) parameters of the affine hash family
    * h_i(x) = (a_i·x + b_i) mod P. One base hash per element + k cheap
    * affine transforms replaces k independent md5 calls — the classic
    * universal-hashing minhash construction. Operands stay < 2^31 so the
    * products fit in int64 on both Spark and the SQL oracle. */
  def minhashParams(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      val a = (1103515245L * (i + 1) + 12345L) % MinhashP
      val b = (2654435761L * i + 1013904223L) % MinhashP
      (if (a == 0) 1L else a, b)
    }

  /** Base hash of an element: 32-bit value of md5's first 8 hex chars,
    * reduced mod P. (md5 keeps the oracle portable — the SQL side rebuilds
    * the same integer from the hex digits.) */
  def baseHash(t: Column): Column =
    conv(substring(md5(t), 1, 8), 16, 10).cast("long") % MinhashP

  /** One MinHash component over an element array (used by the Column API). */
  def minhashComponent(tokens: Column, a: Long, b: Long): Column =
    array_min(transform(tokens, t => (baseHash(t) * a + b) % MinhashP))

  /** MinHash signature as an array of `numHashes` longs, computed over the
    * distinct word-`shingleSize`-gram set (shingleSize 1 = unigram tokens).
    * Shingling is what makes the signature order-sensitive: a corpus with
    * shared vocabulary but different word order stays dissimilar, which
    * keeps LSH bucket sizes — and therefore the candidate self-join — small.
    */
  def minhashSignature(text: Column, numHashes: Int = 16, shingleSize: Int = 3): Column = {
    val units = array_distinct(
      if (shingleSize <= 1) TextOps.tokens(text) else shingles(text, shingleSize))
    array(minhashParams(numHashes).map { case (a, b) => minhashComponent(units, a, b) }: _*)
  }

  /** Estimated Jaccard similarity between two signatures (fraction of equal
    * components). */
  def estJaccard(sigA: Column, sigB: Column, numHashes: Int): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x)).cast("double") / numHashes

  /** MinHash-LSH candidate pairs: docs whose signatures collide in at least
    * one band of `rowsPerBand` components. Output: (idA, idB, est_jaccard)
    * with idA < idB, one row per pair (dupes across bands collapsed).
    *
    * Shuffle discipline for scale: the bucket self-join carries only
    * (band, bandSig, id) — ~50 bytes/row, not the full signature; pairs are
    * de-duplicated *before* signatures are joined back for scoring, so the
    * wide rows exist only for the (small) true-candidate set. Bucket keys are
    * md5-uniform, so the join has no skew beyond genuine dup clusters.
    *
    * numHashes must be bands * rowsPerBand. */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 16, rowsPerBand: Int = 4,
                        shingleSize: Int = 3): DataFrame =
    // Carry the signature array through banding and score at the join: the
    // signature subtree is computed once per join side instead of four times
    // (band a/b + two scoring join-backs). The extra shuffle payload is
    // numHashes longs per banded row — cheaper than recomputing the
    // md5-over-shingles scan until signatures are materialized as a table.
    pairsFromSignatures(
      signatures(docs, idCol, textCol, numHashes, shingleSize),
      numHashes, rowsPerBand)

  /** Banding + estimated-Jaccard scoring against an existing signature
    * relation (id, sig). With a [[materializeSignatures]] table as input this
    * is the 100 TB shape: the signature scan appears ONCE in the plan (a
    * cheap parquet re-read per join side, no md5-over-shingles recompute).
    *
    * ==Degenerate-corpus guard==
    * A corpus of near-identical documents puts them all in ONE band bucket,
    * making the self-join quadratic in that bucket — correct but explosive
    * (10k verbatim copies → ~50M pairs per colliding band). `maxBucketSize`
    * (opt-in) drops buckets larger than the cap BEFORE the join and logs
    * what was dropped. Recall note: docs in an over-cap bucket are that
    * similar to thousands of others — exact dedup ([[exactDupGroups]] /
    * fingerprint groupBy) is the right operator for them, and capped LSH
    * still pairs them through any other under-cap band. Guard cost: bucket
    * sizes come from a partial-aggregated groupBy COUNT over the NARROW
    * (band, band_sig) projection — never a window over the wide banded rows
    * — and the over-cap bucket set (empty on a healthy corpus, few rows on
    * a degenerate one) broadcast-anti-joins against the banded relation, so
    * the join's own exchange shape is unchanged. The drop count rides the
    * main action as an [[org.apache.spark.sql.Observation]] and is logged
    * when the query runs — silent truncation would read as "covered
    * everything", and an eager counting job would cost an extra action. */
  def pairsFromSignatures(sigArr: DataFrame, numHashes: Int = 16,
                          rowsPerBand: Int = 4,
                          maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val banded0 = bandedSignatures(sigArr, numHashes, rowsPerBand)
    val banded =
      if (maxBucketSize == Int.MaxValue) banded0
      else {
        val over = banded0.select(col("band"), col("band_sig"))
          .groupBy(col("band"), col("band_sig"))
          .agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") > maxBucketSize)
        // drop count surfaced WITHOUT an eager extra action (an extra job
        // per call measured +4-6 s cold at bench scale): an Observation on
        // the over-cap subtree pipes the metrics out of the main action;
        // the daemon logging future resolves iff the query executes.
        val obs = org.apache.spark.sql.Observation(
          s"lsh-bucket-guard-${java.util.UUID.randomUUID()}")
        val observed = over.observe(obs,
          coalesce(sum(col("__bn")), lit(0L)).as("dropped_rows"),
          count(lit(1)).as("buckets"))
        // A dedicated daemon thread per call, NOT ExecutionContext.global:
        // obs.get blocks until the first action, and a plan that is built
        // but never executed (explain-only, abandoned) would otherwise park
        // a global-pool worker forever — enough of those starves every
        // other global-EC user. A parked daemon thread costs one stack and
        // never blocks JVM exit.
        val logThread = new Thread(() => {
          val m = obs.get // Map[String, Any], blocks until the first action
          // AQE can prune the whole guard subtree (an empty over-cap set
          // propagates EmptyRelation through the anti-join), leaving the
          // observed metrics row EMPTY — an absent key means zero drops,
          // not an error.
          val dropped = m.getOrElse("dropped_rows", 0L).asInstanceOf[Long]
          if (dropped > 0)
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"pairsFromSignatures: dropped $dropped banded rows in " +
                s"${m.getOrElse("buckets", -1L)} over-cap buckets " +
                s"(maxBucketSize=$maxBucketSize)")
        }, s"lsh-bucket-guard-log-${obs.name}")
        logThread.setDaemon(true)
        logThread.start()
        banded0.join(broadcast(observed.select(col("band"), col("band_sig"))),
          Seq("band", "band_sig"), "left_anti")
      }
    val a = banded.select(col("band"), col("band_sig"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("band_sig"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "band_sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b"), numHashes).as("est_jaccard"))
      .distinct()
  }

  /** Compute the signature relation once and persist it as a parquet table
    * (compute-once, band-and-score-many). Returns the reloaded relation. */
  def materializeSignatures(docs: DataFrame, idCol: String, textCol: String,
                            path: String, numHashes: Int = 16,
                            shingleSize: Int = 3): DataFrame = {
    signatures(docs, idCol, textCol, numHashes, shingleSize)
      .write.mode("overwrite").parquet(path)
    docs.sparkSession.read.parquet(path)
  }

  /** MinHash signature relation — one row per doc: (id, sig: array<long>).
    *
    * Computed by the native one-pass expression
    * [[graft.expressions.MinHashSignature]]: the per-doc mins run inside the
    * row scan (whole-stage codegen, no shingle array, no explode + groupBy —
    * ZERO exchanges), with semantics identical to [[signaturesRelational]],
    * which the DuckDB oracle mirrors. Docs with null text are absent from
    * the relation, matching the relational form (explode of a null shingle
    * array emits no rows). At production scale this is the relation to
    * materialize once as a table (see [[materializeSignatures]]) and share
    * across banding + scoring. */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = 16, shingleSize: Int = 3): DataFrame =
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        graft.expressions.MinHashExpressions
          .minhashSig(col(textCol), numHashes, shingleSize).as("sig"))

  /** The composable-builtin form of [[signatures]] (explode the distinct
    * shingle set, md5 each shingle once, affine transforms, min-aggregates
    * partial-agg'd before the exchange). Kept as the executable spec the
    * native expression is tested against — higher-order functions evaluate
    * lambdas interpreted, so this form costs ~6× more per scan. */
  def signaturesRelational(docs: DataFrame, idCol: String, textCol: String,
                           numHashes: Int = 16, shingleSize: Int = 3): DataFrame = {
    val params = minhashParams(numHashes)
    val units = docs.select(col(idCol).as("id"),
      explode(array_distinct(
        if (shingleSize <= 1) TextOps.tokens(col(textCol))
        else shingles(col(textCol), shingleSize))).as("t"))
      .withColumn("bh", baseHash(col("t")))
    val sigs = units.groupBy(col("id")).agg(
      min((col("bh") * params.head._1 + params.head._2) % MinhashP).as("h0"),
      params.zipWithIndex.tail.map { case ((a, b), i) =>
        min((col("bh") * a + b) % MinhashP).as(s"h$i")
      }: _*)
    sigs.select(col("id"),
      array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Banded view of a signature relation: (id, sig, band, band_sig) — one
    * row per (doc, band), the LSH bucketing key. */
  def bandedSignatures(sigArr: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    val bands = numHashes / rowsPerBand
    sigArr.select(col("id"), col("sig"),
      posexplode(array((0 until bands).map { b =>
        concat_ws("_", (b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => col("sig")(i)): _*)
      }: _*)).as(Seq("band", "band_sig")))
  }

  /** MinHash-band blocked candidate id pairs (no scoring): (id_a, id_b),
    * distinct, id_a < id_b. A band collision already implies high estimated
    * Jaccard (P[collide] = J^rowsPerBand per band), so unlike a raw text
    * prefix the blocking key never groups boilerplate-prefix documents into
    * one quadratic bucket. */
  def lshCandidateIds(docs: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 16, rowsPerBand: Int = 4,
                      shingleSize: Int = 3): DataFrame =
    candidateIdsFromSignatures(
      signatures(docs, idCol, textCol, numHashes, shingleSize),
      numHashes, rowsPerBand)

  /** Band-blocked candidate id pairs against an existing signature relation
    * (id, sig). With a [[materializeSignatures]] table as input, both sides
    * of the bucket self-join are cheap parquet re-reads — the signature
    * subtree never executes twice. */
  def candidateIdsFromSignatures(sigArr: DataFrame, numHashes: Int = 16,
                                 rowsPerBand: Int = 4): DataFrame = {
    val banded = bandedSignatures(sigArr, numHashes, rowsPerBand)
      .select(col("band"), col("band_sig"), col("id"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Incremental near-dup admission: candidate pairs for an INCOMING batch
    * against an EXISTING signature relation plus itself — the production
    * shape of corpus dedup (yesterday's 100 TB corpus keeps its
    * materialized signatures; today's batch computes only its own, then
    * band-joins against the union). Work per batch is O(batch) signature
    * computation + a bucket join whose new side is batch-sized — never a
    * full-corpus recompute or full self-join. The pair set equals the
    * full-corpus banding restricted to pairs with ≥ 1 incoming side
    * (new×old and new×new both land through the new-side probe; new×new
    * dedups via canonicalization).
    *
    * @param existing (id, sig) relation, typically a materialized table
    * @param incoming (id, sig) for the new batch (ids disjoint from existing)
    * @return (id_a, id_b, est_jaccard), id_a < id_b, distinct */
  def incrementalPairs(existing: DataFrame, incoming: DataFrame,
                       numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val all = existing.select(col("id"), col("sig"))
      .unionByName(incoming.select(col("id"), col("sig")))
    val bAll = bandedSignatures(all, numHashes, rowsPerBand)
      .select(col("band"), col("band_sig"), col("id").as("idb"))
    val bNew = bandedSignatures(incoming, numHashes, rowsPerBand)
      .select(col("band"), col("band_sig"), col("id").as("ida"))
    val cand = bNew.join(bAll, Seq("band", "band_sig"))
      .filter(col("ida") =!= col("idb"))
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"))
      .distinct()
    cand
      .join(all.select(col("id").as("id_a"), col("sig").as("siga")), "id_a")
      .join(all.select(col("id").as("id_b"), col("sig").as("sigb")), "id_b")
      .select(col("id_a"), col("id_b"),
        estJaccard(col("siga"), col("sigb"), numHashes).as("est_jaccard"))
  }

  /** Exact token-set Jaccard over MinHash-band blocked candidates — the
    * scale-safe form of prefix-blocked n-gram dedup: candidates come from
    * LSH banding (similarity-proportional bucket sizes), scores are the
    * exact Jaccard over distinct unigram tokens. The token arrays are joined
    * back per id AFTER pair dedup, so wide rows exist only for true
    * candidates. */
  def blockedJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                          numHashes: Int = 16, rowsPerBand: Int = 4,
                          shingleSize: Int = 3): DataFrame =
    blockedJaccardFromSignatures(
      signatures(docs, idCol, textCol, numHashes, shingleSize),
      docs, idCol, textCol, numHashes, rowsPerBand)

  /** [[blockedJaccardPairs]] against an existing signature relation — the
    * compute-once shape: blocking reads the (materialized) signatures, and
    * only the scoring join-back touches the raw text. */
  def blockedJaccardFromSignatures(sigArr: DataFrame, docs: DataFrame,
                                   idCol: String, textCol: String,
                                   numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val pairs = candidateIdsFromSignatures(sigArr, numHashes, rowsPerBand)
    val toks = docs.select(col(idCol).as("id"), distinctTokens(col(textCol)).as("toks"))
    pairs
      .join(toks.select(col("id").as("id_a"), col("toks").as("ta")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("toks").as("tb")), "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("ta"), col("tb")).as("jaccard"))
  }

  /** Benchmark-contamination check: for every corpus doc, how many of its
    * distinct word `gramSize`-grams also occur in the benchmark set (the
    * standard n-gram-overlap decontamination pass an LLM training pipeline
    * runs against eval sets before training). Returns (id, n_shared_grams)
    * for contaminated docs only.
    *
    * Scale shape: both sides explode to distinct grams and join on the
    * md5 of the gram — a fixed-width 32-char shuffle key instead of the
    * raw n-gram text (which for character-heavy corpora is 10× wider).
    * Gram hashes are uniform, so the join has no skew; the benchmark side
    * is distinct-reduced before the join and is typically small enough
    * that AQE broadcasts it. */
  /** EXACT set-similarity join via prefix filtering (PPJoin-family,
    * Chaudhuri/Ganti/Kaushik '06, Xiao et al. '08): all pairs whose
    * distinct-shingle Jaccard ≥ tauNum/tauDen, with FULL RECALL — the
    * exact counterpart of the LSH candidate path (d2/d4 trade recall for
    * candidate volume; this trades a per-doc prefix index for a
    * guarantee).
    *
    * Why it scales: under one global token order (ascending document
    * frequency, ties by token), two sets with Jaccard ≥ τ MUST share a
    * token inside their first n − ⌈τ·n⌉ + 1 tokens — so only PREFIX
    * tokens are joined, and because the order puts the RAREST tokens
    * first, each prefix token's posting list is short (a stopword shared
    * by every document lands at the END of every prefix-eligible list and
    * never generates a candidate). Candidate volume collapses from
    * "pairs sharing ANY token" to "pairs sharing a RARE token" — measured
    * 11 533 → prefix-filtered subset on the sf0.01 corpus — and the exact
    * verification join runs only over candidates.
    *
    * All thresholds are INTEGER arithmetic: prefix length
    * n − ⌈τn⌉ + 1 with ⌈τn⌉ = (tauNum·n + tauDen − 1) div tauDen, and the
    * final test tauDen·|∩| ≥ tauNum·|∪| — no floating point anywhere, so
    * the pair set is bit-identical on any engine.
    *
    * Returns (id_a, id_b, na, nb, ni, j_bp) for matching pairs,
    * j_bp = ⌊|∩|·10⁴/|∪|⌋. */
  def setSimJoinExact(docs: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, tauNum: Int = 8,
                      tauDen: Int = 10): DataFrame = {
    require(tauNum > 0 && tauDen >= tauNum)
    // cached: the shingle relation feeds FOUR subtrees (document
    // frequencies, the per-doc prefix ranking, and both sides of the
    // verification join) — uncached, the regex tokenize + explode re-runs
    // per subtree (the scrubBase lesson). Callers release it via the
    // bench/verify harnesses' clearCache().
    val tok = docs.select(col(idCol).as("id"),
      explode(array_distinct(shingles(col(textCol), shingleSize))).as("t"))
      .cache()
    val dfreq = tok.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val sizes = tok.groupBy(col("id")).agg(count(lit(1)).as("n"))
    import org.apache.spark.sql.expressions.Window
    val ranked = tok.join(dfreq, "t")
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("t"))))
      .join(sizes, "id")
    val prefix = ranked.filter(col("pos") <=
      col("n") - expr(s"($tauNum * n + ${tauDen - 1}) div $tauDen") + 1)
      .select(col("id"), col("t"))
    val cand = prefix.select(col("t"), col("id").as("id_a"))
      .join(prefix.select(col("t"), col("id").as("id_b")), "t")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    // PPJoin length filter BEFORE the expensive verification join: J ≥ τ
    // forces the two set sizes within ratio τ, so size-mismatched
    // candidates can be dropped from a size-only compare — result-
    // invariant (the final threshold re-checks), plan-only pruning
    // (measured 118 826 → 43 543 candidates at sf0.1 before the
    // ~|set|-wide explode join)
    val candSized = cand
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
      .filter(lit(tauDen) * least(col("na"), col("nb")) >=
        lit(tauNum) * greatest(col("na"), col("nb")))
    // r13 opt note — keyed repartition pins on these two joins were measured
    // and REJECTED: the planner broadcasts the KB-sized candidate side, so
    // the joins have NO exchange, and forcing shuffle joins moved 81 MB
    // (vs 12) for a slower run. The verification parallelism instead comes
    // from the caller handing in a fanned-out docs relation (tok's cache
    // inherits its partitioning — see the d11 registration).
    val inter = candSized
      .join(tok.select(col("id").as("id_a"), col("t")), "id_a")
      .join(tok.select(col("id").as("id_b"), col("t")), Seq("id_b", "t"))
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("ni"))
    inter
      .filter(lit(tauDen) * col("ni") >=
        lit(tauNum) * (col("na") + col("nb") - col("ni")))
      .select(col("id_a"), col("id_b"), col("na"), col("nb"), col("ni"),
        expr("ni * 10000 div (na + nb - ni)").as("j_bp"))
  }

  def contaminationCounts(corpus: DataFrame, bench: DataFrame,
                          idCol: String, textCol: String,
                          gramSize: Int = 13): DataFrame = {
    def grams(df: DataFrame) = df.select(col(idCol).as("id"),
      explode(array_distinct(graft.expressions.MinHashExpressions
        .wordGrams(col(textCol), gramSize))).as("gram"))
      .select(col("id"), md5(col("gram")).as("gh"))
    val bg = grams(bench).select(col("gh")).distinct()
    grams(corpus).join(bg, "gh")
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Cross-document duplicated n-gram statistics (the span-dedup signal of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): per document, how many of its DISTINCT word n-grams occur in
    * at least one OTHER document. High dup fractions mark boilerplate and
    * templated text that survives document-level dedup.
    *
    * Scale shape: the gram relation is one narrow (id, md5) row per
    * distinct gram per doc (~tokens-sized); the per-gram doc count and the
    * join back both key on the gram hash, so the two exchanges share a key
    * and partial-aggregate map-side; the final per-doc rollup is narrow.
    * Nothing is ever quadratic — the gram-frequency skew (a stop-gram in
    * every doc) lands in ONE count row, not an all-pairs blowup. */
  def crossDocGramStats(corpus: DataFrame, idCol: String, textCol: String,
                        gramSize: Int = 13): DataFrame = {
    val pairs = corpus.select(col(idCol).as("id"),
      explode(array_distinct(graft.expressions.MinHashExpressions
        .wordGrams(col(textCol), gramSize))).as("gram"))
      .select(col("id"), md5(col("gram")).as("gh"))
    // distinct docs per gram: `pairs` is already distinct per (id, gram)
    val counts = pairs.groupBy(col("gh")).agg(count(lit(1)).as("nd"))
    pairs.join(counts, "gh")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("nd") >= 2, lit(1))).as("n_dup_grams"))
  }

  /** Asymmetric containment dedup: containment(A,B) =
    * |grams(A) ∩ grams(B)| / min(|grams(A)|, |grams(B)|) — the subset-
    * duplicate detector (Broder 1997's *containment*, beside resemblance).
    * A short document quoted whole inside a long one has Jaccard
    * ≈ |A|/|B| — arbitrarily low — so MinHash banding (collision
    * P = J^r) structurally misses it; containment scores such a pair 1.0.
    *
    * Blocking is the inverted-posting rare-gram join, not MinHash: a
    * contained doc shares ALL its grams with its container, so any of its
    * grams with document frequency in [2, dfCap] blocks the pair. The df
    * cap keeps the posting self-join linear-ish — a gram in thousands of
    * docs is boilerplate (d7/d8 territory), and blocking through it would
    * make the join quadratic in that gram's posting list; capped grams
    * bound each posting's pair fan-out at dfCap². Verification then counts
    * shared grams EXACTLY over the full postings of candidate docs only —
    * the candidate set is a small fraction of the corpus, so the
    * verification join is narrow (one md5-keyed row per shared gram per
    * pair).
    *
    * Returns (id_a, id_b, n_shared, containment) for all blocked pairs;
    * id_a < id_b. All joins key on the fixed-width gram md5. */
  def containmentPairs(corpus: DataFrame, idCol: String, textCol: String,
                       gramSize: Int = 8, dfCap: Int = 8): DataFrame = {
    // The posting relation feeds several plan branches. Deliberately NOT
    // cached: materializing the tokens-sized relation measured SLOWER than
    // recompute at bench scale (2.6 vs 2.1 s min — Spark's ReusedExchange
    // already dedups the gh-keyed shuffles, so cache only buys back scan
    // time while paying a full in-memory write). Per-doc gram counts are
    // computed on the candidate-restricted postings only — sizes of
    // non-candidate docs are never used, and the global groupBy(id) would
    // shuffle the whole corpus-sized relation for them.
    val postings = corpus.select(col(idCol).as("id"),
      explode(array_distinct(graft.expressions.MinHashExpressions
        .wordGrams(col(textCol), gramSize))).as("gram"))
      // r14 opt (guide §2.3 narrower types): 16-byte binary digest instead
      // of the 32-char hex string — every downstream exchange/join keys on
      // gh, so the suite's top shuffler halves its key bytes; unhex∘md5 is
      // injective on md5's image, so all join/groupBy decisions (and the
      // output, which never exposes gh) are unchanged.
      .select(col("id"), unhex(md5(col("gram"))).as("gh"))
    val rareGh = postings.groupBy(col("gh")).agg(count(lit(1)).as("nd"))
      .filter(col("nd").between(2, dfCap)).select(col("gh"))
    val rare = postings.join(rareGh, "gh")
    // r14 opt note — localCheckpoint(cand) measured and REJECTED: the
    // static plan's 80 duplicated scan+explode subtrees looked alarming,
    // but runtime AQE exchange reuse already dedups them (warm run: 14
    // jobs / 22 tasks, nowhere near 80 scans); the checkpoint only split
    // the pipeline into more jobs (14→17) and slowed the warm run
    // 1.97→2.42 s with identical shuffle bytes.
    val cand = rare.select(col("gh"), col("id").as("id_a"))
      .join(rare.select(col("gh"), col("id").as("id_b")), "gh")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val candDocs = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id"))).distinct()
    val p = postings.join(candDocs, "id")
    val sizes = p.groupBy(col("id")).agg(count(lit(1)).as("n_grams"))
    val shared = p.select(col("gh"), col("id").as("id_a"))
      .join(p.select(col("gh"), col("id").as("id_b")), "gh")
      .filter(col("id_a") < col("id_b"))
      .join(cand, Seq("id_a", "id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("id").as("id_a"), col("n_grams").as("ga")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_grams").as("gb")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_shared"),
        (col("n_shared").cast("double") / least(col("ga"), col("gb")))
          .as("containment"))
  }

  /** Span-level scrub — the REMOVAL step d7's statistics motivate (Lee et
    * al. 2022 dedup *the spans themselves*, not whole documents): every
    * token covered by some word `gramSize`-gram occurring in ≥ `minDocs`
    * DISTINCT documents is deleted; the survivors re-join (in order,
    * single-spaced) into the cleaned text. Cross-doc only — a phrase
    * repeated within one document is that document's own business.
    *
    * Returns one row per non-blank doc: (id, n_tokens, n_kept, cleaned) —
    * docs whose every token is covered come back with n_kept=0 and
    * cleaned=''.
    *
    * Scale shape: all heavy relations are token-sized and narrow, every
    * exchange keys on either the uniform gram hash or the doc id — (1) gram
    * occurrences (id, start, gh); (2) distinct-doc counts per gh (the
    * boilerplate-gram skew lands in ONE count row); (3) occurrence⨝dup-gram
    * hash join back on gh; (4) covered positions, ≤ gramSize× the dup
    * occurrences, distinct'd on (id, pos); (5) a token-sized anti join plus
    * one per-doc rollup whose collect_list is bounded by document length.
    * Nothing quadratic, nothing driver-side. */
  def spanScrub(corpus: DataFrame, idCol: String, textCol: String,
                gramSize: Int = 8, minDocs: Int = 2): DataFrame = {
    require(gramSize >= 1 && minDocs >= 1)
    val base = scrubBase(corpus, idCol, textCol)
    val dupGrams = scrubOcc(base, gramSize).select(col("id"), col("gh")).distinct()
      .groupBy(col("gh")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select(col("gh"))
    coverAndReassemble(base, dupGrams, gramSize)
  }

  /** Span-level DECONTAMINATION — [[spanScrub]]'s cover/reassemble
    * machinery with the scrub-gram set taken from an EXTERNAL benchmark
    * relation instead of cross-doc counts: every corpus token covered by a
    * word `gramSize`-gram that occurs anywhere in `bench` is deleted
    * (x4/contaminationCounts MEASURES the overlap; this REMOVES it — the
    * eval-set leakage fix that keeps the document instead of dropping it).
    * Bench-side grams are distinct-reduced to one narrow md5 relation
    * before the join; everything else is the d8 scale shape. */
  def spanScrubAgainst(corpus: DataFrame, bench: DataFrame, idCol: String,
                       textCol: String, gramSize: Int = 4): DataFrame = {
    require(gramSize >= 1)
    val base = scrubBase(corpus, idCol, textCol)
    val benchGrams = bench.select(explode(array_distinct(
        graft.expressions.MinHashExpressions.wordGrams(col(textCol), gramSize))).as("gram"))
      .select(md5(col("gram")).as("gh")).distinct()
    coverAndReassemble(base, benchGrams, gramSize)
  }

  /** Cached: the base relation feeds four scrub subtrees (gram occurrences
    * twice, token positions, final token counts), and the upstream corpus
    * may itself be expensive (c2 arrives here through a regex-heavy
    * quality gate — uncached, that gate re-ran per subtree: measured 3.2 s
    * → see PLANS.md round-10 c2 note). Callers release it via the bench/
    * verify harnesses' clearCache(). */
  private def scrubBase(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("id"), col(textCol).as("t"),
        graft.ops.TextOps.tokens(col(textCol)).as("toks"))
      .cache()

  /** Gram occurrences with 0-based start positions. wordGrams falls back to
    * one whole-doc gram for docs shorter than the window; those docs must
    * contribute no occurrences (nothing to scrub), hence the size filter.
    * (A short doc's fallback gram also can never equal a true k-gram —
    * different space count — so fallback grams on the BENCH side of
    * [[spanScrubAgainst]] are inert by construction.) */
  private def scrubOcc(base: DataFrame, gramSize: Int): DataFrame =
    base.filter(size(col("toks")) >= gramSize)
      .select(col("id"), posexplode(graft.expressions.MinHashExpressions
        .wordGrams(col("t"), gramSize)).as(Seq("i", "gram")))
      .select(col("id"), col("i"), md5(col("gram")).as("gh"))

  private def coverAndReassemble(base: DataFrame, scrubGrams: DataFrame,
                                 gramSize: Int): DataFrame = {
    val covered = scrubOcc(base, gramSize).join(scrubGrams, "gh")
      .select(col("id"),
        explode(sequence(col("i"), col("i") + lit(gramSize - 1))).as("pos"))
      .distinct()
    val tokpos = base.select(col("id"),
      posexplode(col("toks")).as(Seq("pos", "tok")))
    val kept = tokpos.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok"))).as("cleaned"))
    base.select(col("id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** Maximal duplicated-REGION statistics — the ExactSubstr-style report
    * beside d8's removal (Lee et al. 2022 report duplicated-substring mass
    * before scrubbing it): per doc, the token intervals covered by any
    * word `gramSize`-gram occurring in ≥ `minDocs` distinct documents,
    * merged into MAXIMAL runs. d7 counts duplicated grams and d8 deletes
    * their cover; neither says whether a doc's duplication is one 400-token
    * quoted block (benign license header — one long span) or boilerplate
    * confetti sprayed through the text (40 short spans) — the span-shape
    * distinction IS the curation signal this audit adds.
    *
    * Interval merge is the classic islands idiom, fully relational: gram
    * hits become inclusive intervals [i, i+g−1]; ordered by start within
    * the doc, a row opens a NEW island iff its start exceeds the running
    * max end of all previous intervals + 1 (adjacent runs fuse — covered
    * token sets touch), island ids are the running sum of open flags, and
    * one groupBy((id, island)) yields the maximal spans. Two window frames
    * over the SAME (id | st, en) sort → one exchange + one sort, partitions
    * bounded by per-doc gram counts — never corpus-wide.
    *
    * @return one row per non-blank doc: (id, n_tokens, n_spans,
    *         dup_tokens, longest_span, dup_bp) — zero-duplication docs
    *         ride along with zeros so the corpus-level distribution reads
    *         off the one relation. */
  def dupSpans(corpus: DataFrame, idCol: String, textCol: String,
               gramSize: Int = 8, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(gramSize >= 1 && minDocs >= 1)
    val base = scrubBase(corpus, idCol, textCol)
    val occ = scrubOcc(base, gramSize)
    val dupGrams = occ.select(col("id"), col("gh")).distinct()
      .groupBy(col("gh")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select(col("gh"))
    val iv = occ.join(dupGrams, "gh")
      .select(col("id"), col("i").as("st"),
        (col("i") + lit(gramSize - 1)).as("en"))
      .distinct()
    val ord = Window.partitionBy(col("id")).orderBy(col("st"), col("en"))
    val spans = iv
      .withColumn("prev_en", max(col("en")).over(
        ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("opens",
        when(col("prev_en").isNull || col("st") > col("prev_en") + 1, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("opens")).over(
        ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("id"), col("island"))
      .agg((max(col("en")) - min(col("st")) + 1L).as("span_len"))
    val perDoc = spans.groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("span_len")).as("dup_tokens"),
        max(col("span_len")).as("longest_span"))
    base.select(col("id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("longest_span"), lit(0L)).as("longest_span"))
      .withColumn("dup_bp", expr("dup_tokens * 10000 div n_tokens"))
  }

  /** Chunk-level dedup with FIRST-occurrence keep — the line-level dedup of
    * RefinedWeb/FineWeb-style curation, re-expressed over whitespace corpora
    * as fixed-width token chunks (the synthetic docs carry no newlines, so
    * consecutive `chunkTokens`-token chunks stand in for lines; the last
    * chunk of a doc may be short). Unlike [[spanScrub]] (d8), which deletes
    * EVERY copy of a duplicated span, this keeps the globally FIRST
    * occurrence of each distinct chunk — the corpus retains exactly one copy
    * of every boilerplate line instead of zero — and reassembles each doc
    * from its surviving chunks in order.
    *
    * First occurrence = the minimum integer key `id·10⁶ + chunk_idx` (the
    * t24 first-occurrence idiom: ONE window min keyed on the chunk text, no
    * self-join). Bounds, stated exactly: chunk_idx < 10⁶ (an 8 M-token
    * single document at the default width — beyond any real web doc) and
    * id ≤ ~9.2·10¹² keep the key exact in a BIGINT; larger id spaces
    * re-key on a wider multiplier.
    *
    * Returns one row per non-blank doc: (id, n_chunks, n_kept, rebuilt) —
    * a doc whose every chunk appeared earlier comes back n_kept=0,
    * rebuilt=''.
    *
    * Scale shape: the chunk relation is token-mass-sized and narrow; the
    * window min is one exchange keyed on the chunk text (boilerplate-chunk
    * skew lands in one min per distinct chunk — the partial agg absorbs the
    * copies), the rollup one exchange on id with collect_list bounded by
    * document length. Nothing quadratic, nothing driver-side. */
  /** Non-blank docs tokenized and sized: (id, toks, n_chunks) — the shared
    * base of the chunk-granularity dedup family (d20/d21). */
  private def chunkBase(corpus: DataFrame, idCol: String, textCol: String,
                        chunkTokens: Int): DataFrame = {
    require(chunkTokens >= 1)
    corpus.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("toks"))
      .withColumn("n_chunks",
        expr(s"(size(toks) + ${chunkTokens - 1}) div $chunkTokens"))
  }

  /** Consecutive `chunkTokens`-token chunks per non-blank doc (the last
    * chunk may be short): (id, chunk_idx, chunk) — the "line" relation of
    * the chunk-granularity dedup family. Token-mass-sized, generated
    * per-row (no shuffle). */
  def tokenChunks(corpus: DataFrame, idCol: String, textCol: String,
                  chunkTokens: Int = 8): DataFrame =
    chunkBase(corpus, idCol, textCol, chunkTokens).select(col("id"),
      posexplode(transform(
        sequence(lit(0L), col("n_chunks") - 1L),
        i => concat_ws(" ",
          slice(col("toks"), (i * chunkTokens + 1).cast("int"),
            lit(chunkTokens))))).as(Seq("chunk_idx", "chunk")))

  def chunkDedupFirst(corpus: DataFrame, idCol: String, textCol: String,
                      chunkTokens: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = chunkBase(corpus, idCol, textCol, chunkTokens)
    val chunks = tokenChunks(corpus, idCol, textCol, chunkTokens)
    val firstKeyed = chunks
      .withColumn("okey", col("id") * lit(1000000L) + col("chunk_idx"))
      .withColumn("first_key",
        min(col("okey")).over(Window.partitionBy(col("chunk"))))
    val kept = firstKeyed.filter(col("okey") === col("first_key"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
          x => x.getField("chunk"))).as("rebuilt"))
    base.select(col("id"), col("n_chunks").cast("long").as("n_chunks"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("rebuilt"), lit("")).as("rebuilt"))
  }

  /** Bloom-filter INCREMENTAL chunk dedup — the Dolma "BFF" recipe
    * (Soldaini et al. 2024): chunks of the already-ingested history
    * populate a Bloom filter; a NEW document drops when at least half its
    * chunks test positive. The batch-over-batch form of [[chunkDedupFirst]]
    * for pipelines that cannot re-scan history per batch — the filter is
    * the only state carried forward, kilobytes regardless of history size.
    *
    * The gate form materializes the filter as its SET-BIT RELATION
    * (distinct 16-bit positions — semantically identical to a word array,
    * oracle-mirrorable, ≤ 65536 rows ⇒ broadcast-small and CONSTANT in
    * history size; the production scan-prune form of the same idea is the
    * o13 xxhash64 word array in [[Sketches.bloomBuild]]). Positions are
    * md5-portable: pos_i(chunk) = first 4 hex digits of md5(i ∥ chunk), k
    * salted hashes per chunk; a chunk HITS iff all k positions are set.
    * False positives possible — that is the recipe's trade — false
    * negatives impossible; the output carries the exact containment count
    * next to the bloom count so the gate PINS the FP behavior per doc
    * instead of hoping.
    *
    * Scale shape: both chunk relations are token-mass-sized and generated
    * per-row; the bit relation partial-aggregates to ≤ 2¹⁶ rows and
    * broadcasts; the only wide exchanges key on (id, chunk_idx) and the
    * chunk text (the exact-containment semi join).
    *
    * @return one row per non-blank fresh doc: (id, n_chunks, n_hits,
    *         n_true_hits, dropped) — dropped = 1 iff n_hits·2 ≥ n_chunks. */
  def bloomChunkDedup(history: DataFrame, fresh: DataFrame, idCol: String,
                      textCol: String, chunkTokens: Int = 8,
                      kHashes: Int = 3): DataFrame = {
    require(kHashes >= 1 && kHashes <= 8)
    def pos(key: Column, i: Int): Column =
      conv(substring(md5(concat(lit(i.toString), key)), 1, 4), 16, 10)
        .cast("long")
    val saltedPos =
      explode(array((0 until kHashes).map(i => pos(col("chunk"), i)): _*))
    val hist = tokenChunks(history, idCol, textCol, chunkTokens)
      .select(col("chunk")).distinct()
    val bits = hist.select(saltedPos.as("pos")).distinct()
    val nc = tokenChunks(fresh, idCol, textCol, chunkTokens)
    val bloomHit = nc
      .select(col("id"), col("chunk_idx"), saltedPos.as("pos"))
      .join(broadcast(bits), Seq("pos"))
      .groupBy(col("id"), col("chunk_idx"))
      .agg(count(lit(1)).as("n_set"))
      .filter(col("n_set") === kHashes)
      .select(col("id"), col("chunk_idx"), lit(1L).as("bhit"))
    nc.join(hist.select(col("chunk"), lit(1L).as("thit")), Seq("chunk"), "left")
      .join(bloomHit, Seq("id", "chunk_idx"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("bhit"), lit(0L))).as("n_hits"),
        sum(coalesce(col("thit"), lit(0L))).as("n_true_hits"))
      .withColumn("dropped", (col("n_hits") * 2 >= col("n_chunks")).cast("int"))
  }

  /** Connected components over an undirected pair relation — the clustering
    * step a production near-dup pipeline runs on LSH pair output. Dropping
    * `id_b` of every pair over-deletes on chains (A~B, B~C kills B and C,
    * though A~C may be dissimilar); the correct contract is one canonical
    * doc per COMPONENT.
    *
    * Algorithm: min-label propagation to fixpoint — each round every node
    * takes the min label among itself and its neighbors; one join + one
    * groupBy per round, the labels' lineage cut by localCheckpoint.
    * Rounds needed = component diameter: near-dup components are
    * clique-ish (2-3 hops), so this converges in a handful of rounds. For adversarial long-chain
    * graphs the alternating large-star/small-star rounds (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") drop the bound to
    * O(log²) with the same relational core.
    *
    * @return (id, cluster_id) — every node of the pair relation labeled
    *         with its component's min id. Throws if maxIter rounds don't
    *         reach the fixpoint (wrong labels must not pass silently). */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 25): DataFrame = {
    // r14 opt (guide §1.2): LAZY checkpoints throughout this loop — the
    // labelSum action that follows every checkpoint materializes the
    // blocks in the SAME job, so each round (and the init) runs one
    // driver-synchronized job instead of two (eager ckpt + sum). Plan
    // truncation is unchanged (the Dataset is LogicalRDD-backed either
    // way); only the final-stage materialization fuses with the sum.
    // RDD lineage is cut for `labels` only: with the default
    // spark.checkpoint.checkpointAllMarkedAncestors=false a job checkpoints
    // the first marked RDD it reaches, which is always `labels`. The next
    // action persists `edges` but does not checkpoint it, so `edges` stays
    // persist-backed (MEMORY_AND_DISK) with live lineage; a lost block is
    // recomputed from `pairs`.
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct().localCheckpoint(eager = false)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(eager = false)
    // labels only ever DECREASE, so Σlabel is strictly monotone until the
    // fixpoint — an unchanged sum IS convergence; no per-round diff join.
    // Exact decimal sum: a long overflow colliding two different label sets
    // would silently end the loop early.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var rounds = 0
    // r13 opt note — two propagation rounds per materialization (halving
    // checkpoint/sum jobs) was measured and REJECTED: AQE turns each deeper
    // double-step into MORE stage-jobs, clique-ish graphs converge in 2-3
    // rounds anyway, and the mandatory extra sub-round made d6/x17/c9
    // slower (1.1→2.0 s, 1.1→1.7 s, 2.9→4.2 s warm). One round per
    // materialization stays.
    while (!converged && rounds < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("nl")).as("nl"))
      labels = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
        .localCheckpoint(eager = false) // materialized by the sum below
      val s = labelSum(labels)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      rounds += 1
    }
    require(converged, s"label propagation did not converge in $maxIter rounds")
    lastCcRounds = rounds
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Connected components by ALTERNATING large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") — the
    * adversarial-graph scale path: converges in O(log² n) rounds regardless
    * of component diameter, where [[connectedComponents]]' label propagation
    * needs diameter rounds (fine for clique-ish near-dup components, ruinous
    * on long chains). Each round is two groupBy+join passes over the edge
    * relation; no step ever materializes a neighborhood larger than the
    * input degree.
    *
    *   - large-star: every node's LARGER neighbors re-attach to the minimum
    *     of its neighborhood (min(Γ(u) ∪ u)) — halves tree heights;
    *   - small-star: every node and its SMALLER neighbors attach to that
    *     minimum — flattens toward stars.
    *
    * Fixpoint = the edge set stops changing; then every edge points a node
    * at its component's minimum id. Same output contract as
    * [[connectedComponents]]: (id, cluster_id) for every node of `pairs`. */
  def connectedComponentsAlternating(pairs: DataFrame, idA: String = "id_a",
                                     idB: String = "id_b",
                                     maxIter: Int = 40): DataFrame = {
    val nodes = pairs.select(col(idA).as("id"))
      .union(pairs.select(col(idB).as("id"))).distinct()
      .localCheckpoint(eager = false) // materialized by the final join's action

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      sym.join(m, "src").filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // input edges point large→small (large-star output shape)
      val m = e.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      val withM = e.join(m, "src")
      withM.select(col("dst").as("src"), col("m").as("dst"))
        .union(m.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
    }

    var edges = pairs
      .select(greatest(col(idA), col(idB)).as("src"),
        least(col(idA), col(idB)).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      // lazy: the signature probe right below materializes it (r14 opt)
      .localCheckpoint(eager = false)
    // Per-round fixpoint probe: one cheap commutative signature aggregate
    // (count, exact decimal Σsrc/Σdst, Σxxhash64(src,dst)) instead of the
    // count+except pair the naive check needs — except is a full shuffle
    // set-difference EVERY round. Equal signatures almost surely mean an
    // unchanged edge set, but "almost surely" must not decide correctness:
    // when signatures match we run except ONCE to prove the fixpoint (&&
    // short-circuits, so the expensive job runs a single time per call —
    // or again only on an astronomically unlikely hash collision).
    def signature(df: DataFrame): Seq[Any] =
      df.agg(
        count(lit(1)),
        coalesce(sum(col("src").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")),
        coalesce(sum(col("dst").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")),
        coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))
      ).head().toSeq
    var prevSig = signature(edges)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxIter) {
      val next = smallStar(largeStar(edges))
        .localCheckpoint(eager = false) // materialized by the signature probe
      val sig = signature(next)
      converged = sig == prevSig && next.except(edges).isEmpty
      prevSig = sig
      edges = next
      rounds += 1
    }
    require(converged, s"alternating rounds did not converge in $maxIter rounds")
    lastCcRounds = rounds
    nodes.join(edges.select(col("src").as("id"), col("dst").as("cluster_id")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** Exact n-gram (word shingle) Jaccard similarity between two token-array
    * columns, as a double in [0,1]. */
  def jaccard(tokensA: Column, tokensB: Column): Column = {
    val inter = size(array_intersect(tokensA, tokensB)).cast("double")
    val uni = size(array_union(tokensA, tokensB)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** Word n-gram shingles (space-joined) of a text column. */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextOps.tokens(text)
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** SimHash (32-bit, md5-derived bit planes) of the distinct-token set.
    * Near-dup docs differ in few bits; group by fingerprint bands or compare
    * popcount(xor) ≤ t downstream. Computed per-row (no shuffle).
    *
    * Written as ONE `aggregate` pass over the per-token hashes. The naive
    * form — 32 × `size(filter(hashes, bit b set))` — inlines the md5
    * `hashes` subtree into every bit plane at Column-construction time, so
    * materializing the column runs md5 32× per token (~10 s for 5 k docs;
    * invisible under count(*) column pruning, which is how it hid). Here
    * md5 is the aggregate's INPUT (evaluated once per token) and both
    * lambdas only touch lambda VARIABLES: the merge bumps a 33-slot
    * accumulator (32 bit-counts + the token count) via a zip with a
    * constant mask array, and the finish applies the same majority rule
    * (2·count ≥ n, ties set the bit) — value-identical to the naive form,
    * which the d3/d12 oracles pin. */
  def simhash32(text: Column): Column = {
    val toks = distinctTokens(text)
    // per-token 32-bit hash from the first 8 hex chars of md5
    val hashes = transform(toks, t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
    // bit masks for planes 0..31; the 33rd zero slot accumulates n
    val masks = array((0 until 32).map(b => lit(1L << b)) :+ lit(0L): _*)
    aggregate(
      hashes,
      array_repeat(lit(0L), 33),
      (acc, h) => zip_with(acc, masks, (c, m) =>
        when(m === 0L, c + 1L)
          .otherwise(when(h.bitwiseAND(m) =!= 0L, c + 1L).otherwise(c))),
      acc => {
        val n = element_at(acc, 33)
        (0 until 32).map(b =>
          when(element_at(acc, b + 1) * 2 >= n, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _)
      })
  }

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Sorted-neighborhood near-dup detection (SortingLSH): order the corpus
    * by (simhash, id) and compare each doc against its next `window`
    * successors only — the THIRD candidate-generation geometry next to
    * banding (d2: hash-bucket joins) and prefix filtering (d11: inverted
    * rare-token lists). Its scale niche: candidate volume is EXACTLY
    * n·window by construction — immune to bucket skew (a degenerate corpus
    * that floods one LSH bucket produces a quadratic join there; here it
    * just sorts adjacent) — at the stated recall trade that near docs can
    * sit far apart in one sort order (production stacks rotate bit
    * permutations; one rotation here keeps the oracle 1:1).
    *
    * The global order comes from [[Ranking.globalRowNumber]]'s two-pass
    * range-partitioned rank (never a single-partition window), and the
    * successor pairing is an EQUI-join on position (each row explodes into
    * its `window` successor slots) — no range join, no self cross join.
    * Output pairs are id-canonicalized, all-integer. */
  def sortedNearDup(df: DataFrame, idCol: String, textCol: String,
                    window: Int, maxHamming: Int): DataFrame = {
    require(window >= 1 && maxHamming >= 0)
    // Materialize the (id, simhash) relation BEFORE ranking: the ranking's
    // repartitionByRange samples its input to pick boundaries, and that
    // sampling evaluates the order key through the interpreted (non-codegen)
    // path — cheap for a stored long, ~2× the whole query for the simhash
    // expression. Two narrow longs per doc.
    val sh = df.select(col(idCol).as("id"), simhash32(col(textCol)).as("sh"))
      .localCheckpoint()
    val ranked = Ranking.globalRowNumber(sh, Seq(col("sh"), col("id")), "pos")
      .localCheckpoint() // feeds both sides of the successor join
    val probes = ranked.select(col("id").as("ida"), col("sh").as("sha"),
      explode(sequence(col("pos") + 1, col("pos") + window)).as("pos"))
    probes.join(ranked.select(col("id").as("idb"), col("sh").as("shb"),
        col("pos")), "pos")
      .withColumn("hamming", hamming(col("sha"), col("shb")))
      .filter(col("hamming") <= maxHamming)
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"), col("hamming"))
  }

  /** Bounded edit-distance near-dup pairs: the FOURTH candidate geometry —
    * deterministic length-band blocking + thresholded Levenshtein scoring.
    * Its niche vs the hash families: token-order-insensitive hashes (d2
    * minhash, d3/d12 simhash bags) cannot distinguish small EDITS from
    * small vocabulary overlap changes; character-level edit distance is
    * the score OCR/scrape mutation dedup actually wants.
    *
    * Scale shape: never an all-pairs join. Docs are blocked on
    * (lang, ⌊len/bandWidth⌋) and candidates are the SAME-band plus
    * ADJACENT-band equi-joins — with `lenSlack < bandWidth`, any pair
    * within the length tolerance falls in the same or adjacent band, so
    * the two hash-partitioned equi-joins enumerate exactly the predicate
    * join `|lenA−lenB| ≤ lenSlack` without a single non-equi comparison
    * crossing the exchange. Scoring uses Spark's THRESHOLDED
    * `levenshtein(l, r, maxDist)` — O(len·maxDist) with early exit, not
    * O(len²) — over a fixed-length prefix so per-comparison cost is capped
    * regardless of document size. Each equi-join key is (lang, band):
    * bucket population is bounded by the corpus length histogram, not by
    * content skew.
    *
    * Pairs are id-canonicalized (id_a < id_b), output is
    * (id_a, id_b, dist), dist ≤ maxDist exact (the threshold form returns
    * the true distance when within bound). */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        langCol: String, lenCol: String,
                        prefixLen: Int = 64, maxDist: Int = 5,
                        lenSlack: Int = 4, bandWidth: Int = 8): DataFrame = {
    require(lenSlack < bandWidth,
      "lenSlack must be < bandWidth so adjacent-band joins cover the tolerance")
    val d = docs.select(col(idCol).as("id"), col(langCol).as("lang"),
      col(lenCol).as("len"),
      substring(col(textCol), 1, prefixLen).as("pfx"),
      floor(col(lenCol) / lit(bandWidth)).as("band"))
    val a = d.select(col("id").as("ida"), col("lang"), col("len").as("lena"),
      col("pfx").as("pfxa"), col("band").as("banda"))
    val b = d.select(col("id").as("idb"), col("lang").as("langb"),
      col("len").as("lenb"), col("pfx").as("pfxb"), col("band").as("bandb"))
    val same = a.join(b, col("lang") === col("langb") &&
        col("banda") === col("bandb") && col("ida") < col("idb"))
    val adjacent = a.join(b, col("lang") === col("langb") &&
        col("banda") + 1 === col("bandb"))
    same.unionByName(adjacent)
      .filter(abs(col("lena") - col("lenb")) <= lenSlack)
      .withColumn("dist", levenshtein(col("pfxa"), col("pfxb"), maxDist))
      .filter(col("dist") >= 0)
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"), col("dist"))
  }

  /** [[editDistancePairs]] with CONTENT-keyed blocking — the 100× scale
    * path. The length-band geometry above is exact but its block
    * populations are the corpus LENGTH HISTOGRAM: every same-length doc
    * lands in one bucket whether or not it is remotely similar, so
    * candidates grow quadratically in corpus size (measured: 2.2× work at
    * 10× data, 61× at 100× — the superlinear knee). This variant blocks on
    * PassJoin-style segment signatures (Li, Deng, Feng '11): partition
    * each doc's comparison prefix into maxDist+1 segments — if
    * lev(a, b) ≤ maxDist, the optimal alignment spends ≤ maxDist edits
    * across maxDist+1 segments, so by pigeonhole SOME segment of b
    * survives un-edited and appears VERBATIM in a, shifted by at most the
    * net indel balance (≤ maxDist). Candidates are therefore an equi-join:
    * b's segments × a's substrings at the segment's position ±maxDist, for
    * every partner prefix length the |Δlen| ≤ lenSlack tolerance admits.
    * Full recall by the pigeonhole; precision restored by the same
    * thresholded-Levenshtein verification. Join keys carry the segment
    * CONTENT, so block population tracks actual textual repetition (the
    * near-dup signal itself), not the length histogram — candidate volume
    * stays linear in corpus size under any length distribution.
    *
    * Prefixes shorter than maxDist+1 chars admit no (maxDist+1)-way
    * segment partition; pairs with exactly ONE short side are still
    * reached (the short side probes, the ≥maxDist+1 side is indexed), but
    * BOTH-short pairs would be silently unreachable. Those route through a
    * dedicated distinct-VALUE pairing block: the short-string universe is
    * bounded (≤ |Σ|^maxDist distinct values no matter the corpus size), so
    * pairing distinct values and re-attaching ids is corpus-size-
    * independent work — no quadratic block even on an all-short corpus.
    *
    * Per-doc fanout is a constant: ≤ (2·lenSlack+1 length layouts) ×
    * (maxDist+1 segments) × (2·maxDist+1 positions) probe keys and
    * maxDist+1 index keys — independent of corpus size. Both relations are
    * hash-partitioned on (lang, layout, segment, content); the verify join
    * re-fetches prefixes by id so only narrow keys cross the candidate
    * exchange.
    *
    * Precondition: `lenCol` must equal `length(textCol)` (the usual
    * materialized-length column) — partner prefix layouts are derived from
    * it; the banded variant has no such dependency. */
  def editDistancePairsSegmented(docs: DataFrame, idCol: String,
                                 textCol: String, langCol: String,
                                 lenCol: String, prefixLen: Int = 192,
                                 maxDist: Int = 5, lenSlack: Int = 4): DataFrame = {
    val nSeg = maxDist + 1
    val d = docs.select(col(idCol).as("id"), col(langCol).as("lang"),
        col(lenCol).cast("long").as("len"),
        substring(col(textCol), 1, prefixLen).as("pfx"))
      .withColumn("pl", length(col("pfx")).cast("long"))
      .localCheckpoint() // reused by the index arm, probe arm, and verify
    val segIdx = explode(sequence(lit(0), lit(nSeg - 1))).as("i")
    // even partition of a length-L prefix into nSeg parts: first (L mod
    // nSeg) parts get the extra char; start_i = i*base + min(i, rem)
    def segW(l: Column, i: Column) =
      (l / nSeg).cast("long") + when(i < l % nSeg, 1L).otherwise(0L)
    def segS(l: Column, i: Column) =
      i * (l / nSeg).cast("long") + least(i.cast("long"), l % nSeg)
    // index arm: each doc's own segments, keyed by its own prefix length
    val segs = d.select(col("id").as("idb"), col("lang"), col("len").as("lenb"),
        col("pl").as("lb"), col("pfx"), segIdx)
      .filter(col("lb") >= nSeg)
      .select(col("idb"), col("lang"), col("lenb"), col("lb"), col("i"),
        // 64-bit content key, not the string: the candidate exchange then
        // carries 8 bytes per key instead of a ~32-char segment (hash
        // collisions only ADD candidates, and verification kills them)
        xxhash64(substring_index_expr(col("pfx"), segS(col("lb"), col("i")),
          segW(col("lb"), col("i")))).as("ck"))
    // probe arm: for every partner length the tolerance admits, the
    // substrings of THIS doc that could equal a partner segment
    val probes = d
      .select(col("id").as("ida"), col("lang"), col("len").as("lena"),
        col("pl").as("la"), col("pfx"),
        explode(sequence(lit(-lenSlack.toLong), lit(lenSlack.toLong))).as("dl"))
      .withColumn("lb", least(lit(prefixLen.toLong), col("lena") + col("dl")))
      .filter(col("lb") >= nSeg)
      .select(col("ida"), col("lang"), col("lena"), col("la"), col("pfx"),
        col("lb")).distinct()
      .withColumn("i", explode(sequence(lit(0), lit(nSeg - 1))))
      .withColumn("w", segW(col("lb"), col("i")))
      .withColumn("s", segS(col("lb"), col("i")))
      .withColumn("plo", greatest(lit(0L), col("s") - maxDist))
      .withColumn("phi", least(col("la") - col("w"), col("s") + maxDist))
      .filter(col("plo") <= col("phi"))
      .withColumn("p", explode(sequence(col("plo"), col("phi"))))
      .select(col("ida"), col("lang"), col("lena"), col("lb"), col("i"),
        xxhash64(substring_index_expr(col("pfx"), col("p"), col("w"))).as("ck"))
    val cands = probes.join(segs, Seq("lang", "lb", "i", "ck"))
      .filter(col("ida") =!= col("idb") &&
        abs(col("lena") - col("lenb")) <= lenSlack)
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"))
      .distinct()
    val pa = d.select(col("id").as("id_a"), col("pfx").as("pfxa"))
    val pb = d.select(col("id").as("id_b"), col("pfx").as("pfxb"))
    val mainPairs = cands.join(pa, "id_a").join(pb, "id_b")
      .withColumn("dist", levenshtein(col("pfxa"), col("pfxb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
    // Both-short block (see scaladoc): pl < nSeg forces len = pl (a doc can
    // only have a short PREFIX by being short outright, since nSeg ≤
    // prefixLen), so the length filter runs on the values themselves and
    // id re-attachment needs no extra columns. Disjoint from mainPairs by
    // construction — every mainPairs pair has an indexed side with
    // pl ≥ nSeg — so the union needs no dedup.
    val shortD = d.filter(col("pl") < nSeg)
    val shortVals = shortD.select(col("lang"), col("pfx")).distinct()
    val shortValPairs = shortVals
      .join(shortVals.select(col("lang"), col("pfx").as("pfxb")), Seq("lang"))
      .withColumn("dist", levenshtein(col("pfx"), col("pfxb"), maxDist))
      .filter(col("dist") >= 0 &&
        abs(length(col("pfx")) - length(col("pfxb"))) <= lenSlack)
    val shortPairs = shortValPairs
      .join(shortD.select(col("lang"), col("pfx"), col("id").as("ida")),
        Seq("lang", "pfx"))
      .join(shortD.select(col("lang"), col("pfx").as("pfxb"),
        col("id").as("idb")), Seq("lang", "pfxb"))
      .filter(col("ida") =!= col("idb"))
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"), col("dist"))
      .distinct() // both-short pairs arise in both (value-a, value-b) orders
    mainPairs.unionByName(shortPairs)
  }

  /** 0-based, length-parameterized substring as a Column (Spark's
    * `substring` takes literal ints only; `expr` substring is 1-based). */
  private def substring_index_expr(s: Column, start0: Column, len: Column): Column =
    s.substr(start0.cast("int") + 1, len.cast("int"))
}
