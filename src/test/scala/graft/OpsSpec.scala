package graft

import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, SimilarityOps, TextOps}

/** Unit coverage for the LLM-pipeline operators: text stats, MinHash/LSH,
  * SimHash, Jaccard, cosine ANN. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("token count / stopword ratio / fingerprint") {
    val df = Seq((1L, "the quick  brown fox"), (2L, ""), (3L, "  The QUICK brown  fox ")).toDF("id", "text")
    val out = df.select($"id", TextOps.tokenCount($"text").as("n"),
      TextOps.fingerprint($"text").as("fp")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(out(1L)._1 === 4)
    assert(out(2L)._1 === 0)
    assert(out(3L)._1 === 4)
    assert(out(1L)._2 === out(3L)._2, "fingerprint is case/whitespace-insensitive")
    val sw = df.filter($"id" === 1).select(TextOps.stopwordRatio($"text")).head().getDouble(0)
    assert(sw === 0.25) // "the" of 4 tokens
  }

  test("minhash: unigram mode is order-insensitive; shingle mode is order-sensitive") {
    val df = Seq((1L, "a b c d e f g h"), (2L, "h g f e d c b a"), (3L, "x y z")).toDF("id", "text")
    val uni = df.select($"id", DedupOps.minhashSignature($"text", 16, shingleSize = 1).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(uni(1L) === uni(2L), "same token set → same unigram signature")
    assert(uni(1L) !== uni(3L))
    val sh = df.select($"id", DedupOps.minhashSignature($"text", 16, shingleSize = 3).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sh(1L) !== sh(2L), "different word order → different shingle signature")
    val est = df.filter($"id" <= 2)
      .select(DedupOps.estJaccard(DedupOps.minhashSignature($"text", 16, 1),
        DedupOps.minhashSignature($"text", 16, 1), 16)).head().getDouble(0)
    assert(est === 1.0)
  }

  test("BPE-ish tokenizer: greedy merge-or-char scan with priority order") {
    val df = Seq((1L, "The cat"), (2L, ""), (3L, "thth")).toDF("id", "text")
    val toks = df.select($"id", TextOps.bpeishTokens($"text").as("t"))
      .as[(Long, Seq[String])].collect().toMap
    // "the cat" → th|e + c|at (merges th, at; never overlapping)
    assert(toks(1L) === Seq("th", "e", "c", "at"))
    assert(toks(2L) === Seq.empty)
    // after consuming "th", the scan resumes AT the next char: th|th
    assert(toks(3L) === Seq("th", "th"))
    val counts = df.select($"id", TextOps.bpeishTokenCount($"text").as("n"))
      .as[(Long, Int)].collect().toMap
    assert(counts === Map(1L -> 4, 2L -> 0, 3L -> 2))
  }

  test("LSH candidates include identical docs and exclude disjoint docs") {
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "p q r s t u v w")).toDF("doc_id", "text")
    val pairs = DedupOps.lshCandidatePairs(df, "doc_id", "text", 16, 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("setSimJoinExact: full recall vs brute force, threshold integer-exact") {
    import graft.ops.DedupOps
    // corpus with engineered overlap: base 40-token docs, variants with
    // 1..12 tokens substituted (Jaccard sweeps across the 0.8 threshold),
    // plus unrelated docs
    val base = (0 until 40).map(i => s"w$i")
    val docsSeq = Seq(
      (0L, base.mkString(" ")),
      (1L, base.updated(5, "X1").mkString(" ")), // 1 sub → J ≈ 35/41 = 0.85
      (2L, base.updated(5, "X2").updated(20, "Y2").mkString(" ")), // 2 subs
      (3L, (0 until 40).map(i => s"w${i}").updated(1, "A").updated(10, "B")
        .updated(19, "C").updated(28, "D").mkString(" ")), // 4 subs
      (4L, (0 until 40).map(i => s"z$i").mkString(" ")), // disjoint
      (5L, base.take(20).mkString(" "))) // prefix half (containment, low J)
      .toDF("doc_id", "text")
    val got = DedupOps.setSimJoinExact(docsSeq, "doc_id", "text", 3, 8, 10)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // brute force over distinct shingle sets
    def sh(s: String): Set[String] = {
      val t = s.split("\\s+").toSeq
      if (t.length < 3) Set(t.mkString(" "))
      else t.sliding(3).map(_.mkString(" ")).toSet
    }
    val m = docsSeq.as[(Long, String)].collect().toMap
    val brute = (for {
      a <- m.keys; b <- m.keys if a < b
      sa = sh(m(a)); sb = sh(m(b))
      ni = (sa & sb).size; nu = (sa | sb).size
      if 10 * ni >= 8 * nu
    } yield (a, b)).toSet
    assert(got === brute)
    assert(brute.contains((0L, 1L)), "1-sub variant is over threshold")
    assert(!brute.contains((0L, 4L)), "disjoint excluded")
    // every reported pair carries j_bp >= 8000 by the integer threshold
    val bps = DedupOps.setSimJoinExact(docsSeq, "doc_id", "text", 3, 8, 10)
      .select($"j_bp").as[Long].collect()
    assert(bps.forall(_ >= 8000L))
  }

  test("degenerate corpus: per-bucket cap bounds the LSH self-join") {
    // 10k verbatim copies land in ONE bucket per band — uncapped that is
    // ~4 × C(10k,2) ≈ 200M join rows; with the cap the join sees none of
    // them and completes in bounded time, while under-cap legit pairs
    // elsewhere in the corpus still come through
    val degenerate = spark.range(10000)
      .select(col("id").as("doc_id"), lit("spam spam spam spam spam ham").as("text"))
    val legit = Seq((100001L, "a b c d e f g h"), (100002L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val sigs = DedupOps.signatures(degenerate.unionAll(legit), "doc_id", "text", 16)
    val pairs = DedupOps.pairsFromSignatures(sigs, 16, 4, maxBucketSize = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((100001L, 100002L)),
      "over-cap buckets dropped, under-cap pairs preserved")
    // and the uncapped default is unchanged on a small corpus
    val uncapped = DedupOps.pairsFromSignatures(
      DedupOps.signatures(legit, "doc_id", "text", 16), 16, 4)
    assert(uncapped.count() === 1)
  }

  test("composed cleaner stays bounded on a 10k-identical-docs corpus") {
    // the c1 composition (shared signature relation → CAPPED LSH pairs →
    // exact-fingerprint canon → anti-join) on a degenerate corpus: the cap
    // drops the mass-duplicate buckets BEFORE the quadratic self-join, and
    // the exact-dedup stage still collapses those docs to one canonical —
    // capping loses no cleaning power where it fires
    val degenerate = spark.range(10000)
      .select(col("id").as("doc_id"), lit("spam spam spam spam spam ham").as("text"))
    val legit = Seq((100001L, "a b c d e f g h"), (100002L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val d = degenerate.unionAll(legit)
    val sigs = DedupOps.signatures(d, "doc_id", "text", 16).cache()
    try {
      val dupIds = DedupOps.pairsFromSignatures(sigs, 16, 4, maxBucketSize = 100)
        .filter(col("est_jaccard") >= 0.5)
        .select(col("id_b").as("doc_id")).distinct()
      val kept = d.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      val canon = kept.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      val cleaned = kept.join(canon, Seq("fp", "doc_id"))
        .join(dupIds, Seq("doc_id"), "left_anti")
        .select("doc_id").as[Long].collect().toSet
      // one canonical per identical-content group, nothing else survives
      assert(cleaned === Set(0L, 100001L))
    } finally sigs.unpersist()
  }

  test("global running sum and sequence packing slice the token stream exactly") {
    import graft.ops.{Packing, Ranking}
    val df = Seq((1L, 100L), (2L, 500L), (3L, 0L), (4L, 30L))
      .toDF("id", "toks")
    val sums = Ranking.globalRunningSum(df, Seq(col("id")), col("toks"), "c")
      .select("id", "c").as[(Long, Long)].collect().toMap
    assert(sums === Map(1L -> 0L, 2L -> 100L, 3L -> 600L, 4L -> 600L))

    // budget 512: doc2 spans [100,600) → sequences 0 and 1 (one split);
    // empty doc3 attaches to its offset's sequence with no splits
    val packed = Packing.sequenceAssignments(df, Seq(col("id")), col("toks"), 512L)
      .select("id", "seq_first", "seq_last", "n_splits")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(packed(1L) === ((0L, 0L, 0L)))
    assert(packed(2L) === ((0L, 1L, 1L)))
    assert(packed(3L) === ((1L, 1L, 0L)))
    assert(packed(4L) === ((1L, 1L, 0L)))
  }

  test("alternating large-star/small-star components equal label propagation") {
    import scala.util.Random
    // adversarial shapes for propagation: a 40-node chain (diameter 40 —
    // alternation must converge in far fewer rounds), a star, two cliques
    // bridged by one edge, and a seeded random graph
    val chain = (0L until 39L).map(i => (i, i + 1))
    val star = (1L to 8L).map(i => (100L, 100L + i))
    val cliques = (for (a <- 200L to 204L; b <- a + 1 to 204L) yield (a, b)) ++
      (for (a <- 300L to 304L; b <- a + 1 to 304L) yield (a, b)) :+ (204L, 300L)
    val rnd = new Random(7)
    val random = (0 until 60).map(_ => (rnd.nextInt(40).toLong + 400L, rnd.nextInt(40).toLong + 400L))
      .filter(p => p._1 != p._2)
    for (edges <- Seq(chain, star, cliques, random)) {
      val pairs = edges.toDF("id_a", "id_b")
      val prop = DedupOps.connectedComponents(pairs, maxIter = 60)
        .as[(Long, Long)].collect().toMap
      val alt = DedupOps.connectedComponentsAlternating(pairs)
        .as[(Long, Long)].collect().toMap
      assert(alt === prop, s"mismatch on edge set ${edges.take(5)}…")
    }
  }

  test("seeded sampling: deterministic, nested across rates, salt-independent") {
    import graft.ops.Sampling
    val df = spark.range(2000).toDF("id")
    def ids(frac: Double, salt: String = "sample") =
      Sampling.seededSample(df, col("id"), frac, salt).as[Long].collect().toSet
    val a = ids(0.3)
    assert(a === ids(0.3), "same salt+rate → identical sample")
    // threshold sampling nests: raising the rate only ADDS rows (stable
    // train subsets as the budget grows)
    assert(a.subsetOf(ids(0.6)))
    // a different salt draws an independent sample
    assert(a !== ids(0.3, "other"))
    // rate is approximately honored
    assert(math.abs(a.size / 2000.0 - 0.3) < 0.05)
  }

  test("connected components label chains by component min, not pair-wise") {
    // chain 1~5~3 plus disjoint pair 10~12: pair-wise id_b-dropping would
    // delete 5, 3 AND 12 but also break if 3~1 were absent; components give
    // {1,3,5}→1 and {10,12}→10
    val pairs = Seq((1L, 5L), (5L, 3L), (10L, 12L)).toDF("id_a", "id_b")
    val labels = DedupOps.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels === Map(1L -> 1L, 5L -> 1L, 3L -> 1L, 10L -> 10L, 12L -> 10L))
  }

  test("blocked exact Jaccard scores LSH candidates; materialized signatures agree") {
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h x"),
      (3L, "p q r s t u v w")).toDF("doc_id", "text")
    val scored = DedupOps.blockedJaccardPairs(df, "doc_id", "text", 16, 4)
      .as[(Long, Long, Double)].collect().map { case (a, b, j) => (a, b) -> j }.toMap
    assert(scored.keySet === Set((1L, 2L)), "only the near-dup pair survives blocking")
    assert(scored((1L, 2L)) === 8.0 / 9.0) // |{a..h}| / |{a..h,x}|
    // compute-once signature table reproduces the inline candidate pairs
    val sigs = DedupOps.materializeSignatures(df, "doc_id", "text", tmpDir("sigs"), 16)
    val fromTable = DedupOps.pairsFromSignatures(sigs, 16, 4)
    val inline = DedupOps.lshCandidatePairs(df, "doc_id", "text", 16, 4)
    assert(fromTable.except(inline).isEmpty && inline.except(fromTable).isEmpty)
  }

  test("two-pass global row number matches a single-partition rank") {
    import graft.ops.Ranking
    val df = spark.range(1000).select(
      (col("id") * 48271 % 1009).as("k"), col("id").as("v")) // shuffled unique keys
    val got = Ranking.globalRowNumber(df, Seq(col("k"), col("v")), "pos")
    val want = df.withColumn("pos",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy($"k", $"v"))
        .cast("long"))
    assert(got.count() === 1000)
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("jaccard and shingles") {
    val df = Seq((1L, "a b c", "b c d")).toDF("id", "x", "y")
    val j = df.select(DedupOps.jaccard(
      DedupOps.distinctTokens($"x"), DedupOps.distinctTokens($"y"))).head().getDouble(0)
    assert(j === 0.5) // {b,c} / {a,b,c,d}
    val sh = spark.range(1).select(DedupOps.shingles(lit("a b c d"), 2).as("s"))
      .as[Seq[String]].head()
    assert(sh === Seq("a b", "b c", "c d"))
  }

  test("simhash: near-identical docs have small hamming distance") {
    val df = Seq((1L, "spark catalyst tungsten shuffle partition broadcast join agg"),
      (2L, "spark catalyst tungsten shuffle partition broadcast join scan"),
      (3L, "completely different words entirely unrelated corpus tokens here")).toDF("id", "text")
    val hs = df.select($"id", DedupOps.simhash32($"text").as("h")).as[(Long, Long)].collect().toMap
    val near = spark.range(1).select(DedupOps.hamming(lit(hs(1L)), lit(hs(2L)))).head().getInt(0)
    val far = spark.range(1).select(DedupOps.hamming(lit(hs(1L)), lit(hs(3L)))).head().getInt(0)
    assert(near < far, s"near=$near should be < far=$far")
  }

  test("brute-force cosine topK returns exact neighbors in similarity order") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val out = SimilarityOps.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), "vec_id", "embedding", 2)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toMap
    assert(out(1) === 1L) // closest to (1,0) is (0.9,0.1)
    assert(out(2) === 3L)
  }

  test("zero-norm vectors never appear as neighbors (NaN-ordering guard)") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (9L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = SimilarityOps.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), "vec_id", "embedding", 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(out === Set(1L), "zero vector must be filtered, not ranked #1 via NaN")
  }

  test("PQ: full-span codebook reconstructs exactly — pqTopK == bruteForceTopK") {
    // When every corpus vector is a codebook seed, each subvector's nearest
    // codeword is ITSELF (argmax of ip − ‖c‖²/2 = −‖a−c‖²/2 peaks at c = a),
    // so ADC degenerates to the exact cosine and the ranking must match
    // brute force row for row (sims differ only by the decimal-sum rounding
    // of the 4 partial dots vs one 8-dim fold).
    val rng = new scala.util.Random(7)
    val vecs = (0L until 24L).map(i =>
      (i, Array.fill(8)(rng.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
    val cb = SimilarityOps.pqCodebook(vecs, "vec_id", "embedding", m = 4, subDim = 2)
    val codes = SimilarityOps.pqEncode(vecs, cb, "vec_id", "embedding", m = 4, subDim = 2)
    val queries = vecs.filter($"vec_id" < 3)
    val pq = SimilarityOps.pqTopK(codes, cb, queries, "vec_id", "embedding", 5, m = 4, subDim = 2)
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val bf = SimilarityOps.bruteForceTopK(vecs, queries, "vec_id", "embedding", 5)
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(pq.map(r => (r._1, r._2, r._3)).toSeq === bf.map(r => (r._1, r._2, r._3)).toSeq)
    pq.zip(bf).foreach { case (p, b) =>
      assert(math.abs(p._4 - b._4) < 1e-9, s"sim drift at ${p._1}/${p._2}") }
  }

  test("epochBudget: caps respected, budget never exceeded, capped excess water-fills") {
    import graft.ops.Sampling
    // skewed strata: one giant, three small — at 3.5x budget with cap 4
    // the small ones cap and the giant absorbs their excess
    val rows = Seq(("big", 10000L), ("s1", 1000L), ("s2", 1100L), ("s3", 900L))
      .flatMap { case (s, t) => Seq((s, t / 2), (s, t - t / 2)) } // split rows
      .toDF("src", "tc")
    def run(bp: Long, cap: Int) =
      Sampling.epochBudget(rows, $"src", $"tc", budgetBp = bp, maxEpochs = cap)
        .select("stratum", "toks", "alloc_tokens", "epochs_bp", "capped")
        .as[(String, Long, Long, Long, Int)].collect().map(r => r._1 -> r).toMap
    val total = 13000L
    val out = run(35000L, 4)
    val budget = total * 35000L / 10000L
    assert(out.values.map(_._3).sum <= budget, "never over-allocates")
    out.values.foreach { case (s, t, a, bpv, c) =>
      assert(a <= 4 * t, s"cap respected for $s")
      assert(bpv <= 40000L)
      assert((c == 1) === (a == 4 * t))
    }
    // the small strata cap; the giant absorbs beyond its first-round share
    assert(Seq("s1", "s2", "s3").forall(out(_)._5 == 1), "small strata capped")
    val w6 = out.map { case (k, v) => k -> math.floor(math.sqrt(v._2.toDouble) * 1e6).toLong }
    val firstShare = budget * (w6("big") * 10000L / w6.values.sum) / 10000L
    assert(out("big")._3 > firstShare, "water-fill gave the giant the capped excess")
    // degenerate budgets
    assert(run(0L, 4).values.forall(_._3 == 0L), "zero budget allocates nothing")
    val flood = run(100000L, 4) // 10 epochs' worth >> cap: everyone caps
    assert(flood.values.forall(v => v._3 == 4 * v._2 && v._5 == 1))
  }

  test("pqCodebookRefine: Lloyd strictly reduces quantization error; fixpoint when seeds are the corpus") {
    // Sparse seeds (stride 4 of 32 vectors) make the initial book genuinely
    // lossy; each Lloyd iteration must not increase the total squared
    // reconstruction error Sum ||sv - cw[assigned]||^2, and on this random
    // corpus the first iteration strictly reduces it.
    val rng = new scala.util.Random(13)
    val vecs = (0L until 32L).map(i =>
      (i, Array.fill(8)(rng.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
    def mse(cb: org.apache.spark.sql.DataFrame): Double = {
      val codes = SimilarityOps.pqEncode(vecs, cb, "vec_id", "embedding", m = 4, subDim = 2)
      val subs = (0 until 4).map(i =>
        struct(lit(i).as("sub"), slice($"embedding".cast("array<double>"), i * 2 + 1, 2).as("sv")))
      val sv = vecs.select($"vec_id", explode(array(subs: _*)).as("s"))
        .select($"vec_id", $"s.sub".as("sub"), $"s.sv".as("sv"))
      sv.join(codes, Seq("vec_id", "sub")).join(cb, Seq("sub", "code_id"))
        .select(aggregate(zip_with($"sv", $"cw", (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("e"))
        .agg(sum($"e")).head().getDouble(0)
    }
    val cb0 = SimilarityOps.pqCodebook(vecs.filter($"vec_id" % 4 === 0),
      "vec_id", "embedding", m = 4, subDim = 2)
    val cb1 = SimilarityOps.pqCodebookRefine(vecs, cb0, "vec_id", "embedding",
      m = 4, subDim = 2, iters = 1)
    val cb2 = SimilarityOps.pqCodebookRefine(vecs, cb0, "vec_id", "embedding",
      m = 4, subDim = 2, iters = 2)
    val (e0, e1, e2) = (mse(cb0), mse(cb1), mse(cb2))
    assert(e1 < e0, s"first Lloyd iteration reduces error: $e1 < $e0")
    assert(e2 <= e1 + 1e-12, s"second iteration never increases it: $e2 <= $e1")
    // degenerate init: every vector is a seed -> every cell's sole member is
    // its own seed, so the means reproduce the codewords up to the exact-
    // accumulator's DECIMAL(30,10) rounding (~1e-11 per element, ~1e-21
    // squared) — error stays at rounding scale, not quantization scale
    val cbAll = SimilarityOps.pqCodebook(vecs, "vec_id", "embedding", m = 4, subDim = 2)
    val cbAllT = SimilarityOps.pqCodebookRefine(vecs, cbAll, "vec_id", "embedding",
      m = 4, subDim = 2, iters = 1)
    assert(mse(cbAll) === 0.0 && mse(cbAllT) < 1e-15)
    assert(cbAllT.count() === cbAll.count(), "no cell drops at the fixpoint")
  }

  test("PQ rerank: full shortlist equals brute force BIT for bit; sims are exact, not ADC") {
    // With shortlistK = corpus size the shortlist is everything, so the
    // exact re-rank must reproduce bruteForceTopK exactly — including the
    // sims, since stage 2 scores raw vectors with the same cosine (no ADC
    // rounding anywhere in the output). A sparse codebook (stride 4) makes
    // stage 1 genuinely lossy, proving the equality comes from the rerank.
    val rng = new scala.util.Random(11)
    val vecs = (0L until 24L).map(i =>
      (i, Array.fill(8)(rng.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
    val seeds = vecs.filter($"vec_id" % 4 === 0)
    val cb = SimilarityOps.pqCodebook(seeds, "vec_id", "embedding", m = 4, subDim = 2)
    val codes = SimilarityOps.pqEncode(vecs, cb, "vec_id", "embedding", m = 4, subDim = 2)
    val queries = vecs.filter($"vec_id" < 3)
    val rr = SimilarityOps.pqRerankTopK(codes, cb, queries, vecs,
        "vec_id", "embedding", k = 5, shortlistK = 24, m = 4, subDim = 2)
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val bf = SimilarityOps.bruteForceTopK(vecs, queries, "vec_id", "embedding", 5)
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(rr === bf, "exhaustive shortlist + exact rerank must equal brute force exactly")
  }

  test("PQ: every vector gets exactly m in-dictionary codes; encode is deterministic") {
    val rng = new scala.util.Random(11)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(8)(rng.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
    val seeds = vecs.filter($"vec_id" % 5 === 0)
    val cb = SimilarityOps.pqCodebook(seeds, "vec_id", "embedding", m = 4, subDim = 2)
    val codes = SimilarityOps.pqEncode(vecs, cb, "vec_id", "embedding", m = 4, subDim = 2)
      .select("vec_id", "sub", "code_id").as[(Long, Int, Long)].collect()
    assert(codes.length === 40 * 4, "one code per (vector, subspace)")
    assert(codes.map(c => (c._1, c._2)).distinct.length === 40 * 4)
    assert(codes.forall(_._3 % 5 == 0), "codes must come from the seed dictionary")
    val again = SimilarityOps.pqEncode(vecs, cb, "vec_id", "embedding", m = 4, subDim = 2)
      .select("vec_id", "sub", "code_id").as[(Long, Int, Long)].collect()
    assert(codes.sorted.toSeq === again.sorted.toSeq)
  }

  test("PQ: IVF-PQ with every cell probed equals the flat ADC exactly") {
    // With nprobe = nlist the probed candidate set is every assigned vector,
    // so cell pruning changes nothing and the composed path must reproduce
    // pqTopK bit for bit (same decimal sums, same tie-breaks).
    val rng = new scala.util.Random(13)
    val vecs = (0L until 30L).map(i =>
      (i, Array.fill(8)(rng.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
    val centroids = vecs.filter($"vec_id" % 6 === 0)
      .select($"vec_id".as("centroid_id"), $"embedding".as("centroid_vec"))
    val assigned = SimilarityOps.assignToCentroids(vecs, centroids, "vec_id", "embedding")
    val cb = SimilarityOps.pqCodebook(vecs.filter($"vec_id" % 5 === 0),
      "vec_id", "embedding", m = 4, subDim = 2)
    val codes = SimilarityOps.pqEncode(assigned, cb, "vec_id", "embedding",
      m = 4, subDim = 2, carry = Seq("centroid_id"))
    val queries = vecs.filter($"vec_id" < 3)
    val probes = SimilarityOps.probeCells(queries, centroids, "vec_id", "embedding", nprobe = 5)
    val probed = SimilarityOps.pqTopKProbed(codes, cb, probes, "vec_id", 5, m = 4, subDim = 2)
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val flat = SimilarityOps.pqTopK(codes, cb, queries, "vec_id", "embedding", 5, m = 4, subDim = 2)
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(probed === flat)
  }

  test("probeCellsRanked at depth r <= np equals probeCells(np) for every np") {
    // The s30 nprobe-sweep fusion rests on exactly this: one ranked probe
    // set at the maximum depth, each grid point a filter over it. Ties in
    // cdist are broken by centroid_id in both paths, so the sets must be
    // identical, not merely same-sized.
    val rng = new scala.util.Random(29)
    val vecs = (0L until 24L).map(i =>
      (i, Array.fill(6)(rng.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
    val centroids = vecs.filter($"vec_id" % 4 === 0)
      .select($"vec_id".as("centroid_id"), $"embedding".as("centroid_vec"))
    val queries = vecs.filter($"vec_id" < 5)
    val maxNp = 4
    val ranked = SimilarityOps.probeCellsRanked(queries, centroids, "vec_id", "embedding", maxNp)
      .select("query_id", "centroid_id", "r").as[(Long, Long, Int)].collect()
    assert(ranked.forall(t => t._3 >= 1 && t._3 <= maxNp))
    for (np <- 1 to maxNp) {
      val viaRank = ranked.filter(_._3 <= np).map(t => (t._1, t._2)).toSet
      val direct = SimilarityOps.probeCells(queries, centroids, "vec_id", "embedding", np)
        .select("query_id", "centroid_id").as[(Long, Long)].collect().toSet
      assert(viaRank === direct, s"nprobe=$np")
    }
  }

  test("PQ: array-form encode equals the long-form reference") {
    val rng = new scala.util.Random(17)
    val vecs = (0L until 35L).map(i =>
      (i, i % 7, Array.fill(8)(rng.nextFloat() * 2f - 1f))).toDF("vec_id", "cell", "embedding")
    val cb = SimilarityOps.pqCodebook(vecs.filter($"vec_id" % 4 === 0),
      "vec_id", "embedding", m = 4, subDim = 2)
    val long = SimilarityOps.pqEncode(vecs, cb, "vec_id", "embedding", m = 4, subDim = 2)
      .select("vec_id", "sub", "code_id").as[(Long, Int, Long)].collect().toSet
    val arr = SimilarityOps.pqEncodeArray(vecs, cb, "vec_id", "embedding",
      m = 4, subDim = 2, keep = Seq("cell"))
    // the keep column survives with its original value
    assert(arr.filter($"cell" =!= $"vec_id" % 7).isEmpty)
    val exploded = arr.select($"vec_id", posexplode($"codes").as(Seq("sub", "code_id")))
      .as[(Long, Int, Long)].collect().toSet
    assert(exploded === long)
  }

  test("kmeans: converges to exact cluster means and is a fixed point on separated data") {
    // three tight direction-clusters in 4d; seeds = one member of each.
    // After one Lloyd iteration the centroids are the exact element-wise
    // cluster means; on separated data the assignment then no longer
    // changes, so a second iteration must reproduce the same centroids.
    val mk = (base: Array[Float], eps: Float) => base.zipWithIndex.map {
      case (v, i) => if (i == 0) v + eps else v }
    val a = Array(10f, 0f, 0f, 0f); val b = Array(0f, 10f, 0f, 0f); val c = Array(0f, 0f, 10f, 0f)
    val vecs = Seq(
      (0L, a), (1L, mk(a, 1f)), (2L, mk(a, 2f)),
      (10L, b), (11L, mk(b, 1f)),
      (20L, c), (21L, mk(c, 1f)), (22L, mk(c, 2f)), (23L, mk(c, 3f))
    ).toDF("vec_id", "embedding")
    val init = vecs.filter($"vec_id".isin(0L, 10L, 20L))
      .select($"vec_id".as("centroid_id"), $"embedding".as("centroid_vec"))
    val one = SimilarityOps.kmeansRefine(vecs, init, "vec_id", "embedding", iters = 1)
    val r1 = one.select("centroid_id", "n").as[(Long, Long)].collect().toMap
    assert(r1 === Map(0L -> 3L, 10L -> 2L, 20L -> 4L))
    val c0 = one.filter($"centroid_id" === 0L)
      .select("centroid_vec").as[Seq[Double]].head()
    assert(c0.head === (10.0 + 11.0 + 12.0) / 3 && c0(1) === 0.0)
    val two = SimilarityOps.kmeansRefine(vecs, init, "vec_id", "embedding", iters = 2)
    assert(two.except(one).isEmpty && one.except(two).isEmpty,
      "second iteration must be a fixed point on separated clusters")
  }

  test("kmeans: fixed-width fast path is bit-identical to the posexplode spec path") {
    // r14 opt gate: kmeansRefine(dims = d) collapses the per-dim means into
    // one centroid-keyed exchange of d decimal partial sums; the variable-
    // width path stays as the executable spec. Values chosen so double
    // rounding would expose any accumulation-order difference (0.1f is not
    // representable; sums of it differ across fp orders), and an empty-cell
    // seed exercises the dropped-centroid branch on both paths.
    val vecs = (0L until 23L).map { i =>
      (i, Array.tabulate(4)(d => (0.1f * ((i * 7 + d * 3) % 11)) - 0.3f))
    }.toDF("vec_id", "embedding")
    val far = Seq((99L, Array.fill(4)(1e9f))).toDF("vec_id", "embedding")
    val init = vecs.filter($"vec_id" % 5 === 0).union(far)
      .select($"vec_id".as("centroid_id"), $"embedding".as("centroid_vec"))
    for (iters <- Seq(1, 3)) {
      val spec = SimilarityOps.kmeansRefine(vecs, init, "vec_id", "embedding", iters)
      val fast = SimilarityOps.kmeansRefine(vecs, init, "vec_id", "embedding", iters,
        dims = 4)
      val s = spec.orderBy($"centroid_id")
        .as[(Long, Seq[Double], Long)].collect().toSeq
      val f = fast.orderBy($"centroid_id")
        .as[(Long, Seq[Double], Long)].collect().toSeq
      assert(f === s, s"fast path diverged from spec at iters=$iters")
    }
  }

  test("kmeans: fixed-width path fails loudly when dims is not the vector width") {
    val vecs = (0L until 6L).map(i => (i, Array.tabulate(4)(d => (i * 4 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val init = vecs.filter($"vec_id" % 3 === 0)
      .select($"vec_id".as("centroid_id"), $"embedding".as("centroid_vec"))
    for (dims <- Seq(3, 5)) {
      val e = intercept[Exception] {
        SimilarityOps.kmeansRefine(vecs, init, "vec_id", "embedding", iters = 1,
          dims = dims).collect()
      }
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("\n")
      assert(msgs.contains(s"width differs from dims = $dims"), msgs)
    }
  }

  test("vocabulary: deterministic count-desc/term-asc ids, layout-independent") {
    val docs = Seq((1L, "b a a"), (2L, "c a b"), (3L, "  ")).toDF("doc_id", "text")
    // counts: a=3, b=2, c=1; blank doc contributes nothing
    val v = TextOps.vocabulary(docs, "text", topK = 10)
      .select("term", "n_occ", "vocab_id").as[(String, Long, Long)].collect().sortBy(_._3)
    assert(v.toSeq === Seq(("a", 3L, 0L), ("b", 2L, 1L), ("c", 1L, 2L)))
    // tie-break by term: equal counts order alphabetically
    val tied = TextOps.vocabulary(Seq((1L, "z y")).toDF("doc_id", "text"), "text", 10)
      .select("term", "vocab_id").as[(String, Long)].collect().toMap
    assert(tied("y") === 0L && tied("z") === 1L)
    // identical mapping from any physical layout
    val re = TextOps.vocabulary(docs.repartition(7), "text", topK = 10)
      .select("term", "vocab_id").as[(String, Long)].collect().toMap
    assert(re === v.map(r => r._1 -> r._3).toMap)
    // topK truncates by id
    val top2 = TextOps.vocabulary(docs, "text", topK = 2)
      .select("term").as[String].collect().toSet
    assert(top2 === Set("a", "b"))
  }

  test("CMS: never under-counts, exact at low load, bounded sketch size") {
    import graft.ops.Sketches
    // 100 keys with key k occurring k+1 times
    val rows = (0 until 100).flatMap(k => Seq.fill(k + 1)(k.toLong)).toDF("k")
    val sk = Sketches.cmsBuild(rows, $"k", d = 4, w = 512)
    assert(sk.count() <= 4 * 512, "sketch must stay within d*w cells")
    val probes = (0 until 100).map(_.toLong).toDF("k")
    val est = Sketches.cmsEstimate(sk, probes, $"k", d = 4, w = 512)
      .as[(Long, Long)].collect().toMap
    (0 until 100).foreach { k =>
      assert(est(k.toLong) >= k + 1, s"CMS under-counted key $k: ${est(k.toLong)} < ${k + 1}")
    }
    // at 100 keys over 4x512 cells, collisions across ALL 4 rows are
    // overwhelmingly unlikely — the min should be exact here
    assert((0 until 100).count(k => est(k.toLong) == k + 1) == 100,
      "expected exact estimates at this load factor")
    // unseen keys: every cell they hash to may still carry other keys'
    // counts, but an empty cell (absent row) means the join drops them —
    // estimate present keys only, by contract
    assert(est.size === 100)
  }

  test("olsByGroup: exact fit on a line, null slope on zero variance, layout-independent") {
    import graft.ops.Stats
    // group A: exact line y = 2x + 3; group B: all x equal → undefined slope
    val pts = (Seq((0.0, 3.0), (1.0, 5.0), (2.0, 7.0), (3.0, 9.0)).map { case (x, y) => ("A", x, y) } ++
      Seq(("B", 1.0, 10.0), ("B", 1.0, 20.0))).toDF("g", "x", "y")
    val out = Stats.olsByGroup(pts, $"g", $"x", $"y").collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(out("A")._1 === 4L)
    assert(math.abs(out("A")._2.get - 2.0) < 1e-9 && math.abs(out("A")._3.get - 3.0) < 1e-9)
    assert(out("B")._2 === None && out("B")._3 === None,
      "zero x-variance must surface as null, not a silent zero")
    val re = Stats.olsByGroup(pts.repartition(5), $"g", $"x", $"y")
      .orderBy("grp").collect().toSeq
    assert(re === Stats.olsByGroup(pts, $"g", $"x", $"y").orderBy("grp").collect().toSeq)
  }

  test("centerNormalize: exact per-dim means, unit norms, zero-vector guard") {
    // means: dim0 = (1+3)/2 = 2, dim1 = (2+6)/2 = 4
    // centered: a = (-1, -2), b = (1, 2) → norms √5, unit-normalized
    val emb = Seq((1L, Array(1f, 2f)), (2L, Array(3f, 6f))).toDF("vec_id", "embedding")
    val out = SimilarityOps.centerNormalize(emb, "vec_id", "embedding")
      .select($"id", $"dim", $"nrm", $"y").as[(Long, Int, Double, Double)]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val s5 = math.sqrt(5.0)
    assert(math.abs(out((1L, 0))._1 - s5) < 1e-12)
    assert(math.abs(out((1L, 0))._2 - (-1.0 / s5)) < 1e-12)
    assert(math.abs(out((1L, 1))._2 - (-2.0 / s5)) < 1e-12)
    assert(math.abs(out((2L, 0))._2 - (1.0 / s5)) < 1e-12)
    // normalized vectors are unit length
    val normSq = out.toSeq.groupBy(_._1._1)
      .map { case (id, xs) => id -> xs.map(x => x._2._2 * x._2._2).sum }
    normSq.values.foreach(n2 => assert(math.abs(n2 - 1.0) < 1e-12))
    // identical vectors: every component AT the mean → zero vector out
    val same = Seq((1L, Array(2f, 5f)), (2L, Array(2f, 5f))).toDF("vec_id", "embedding")
    val z = SimilarityOps.centerNormalize(same, "vec_id", "embedding")
      .select($"y").as[Double].collect()
    assert(z.forall(_ === 0.0))
    // layout independence (decimal accumulators)
    val many = (0L until 64L).map(i => (i, Array(i.toFloat, (i % 7).toFloat, 1f)))
      .toDF("vec_id", "embedding")
    val a = SimilarityOps.centerNormalize(many, "vec_id", "embedding")
      .orderBy("id", "dim").collect().toSeq
    val b = SimilarityOps.centerNormalize(many.repartition(13), "vec_id", "embedding")
      .orderBy("id", "dim").collect().toSeq
    assert(a === b)
  }

  test("HLL merge: merged partials equal the direct sketch exactly; merge is idempotent") {
    import graft.ops.Sketches
    // overlapping parts: part p holds keys [p*600, p*600 + 1000)
    val rows = (0 until 4).flatMap(p =>
      (p * 600 until p * 600 + 1000).map(k => (p.toLong, k.toLong)))
      .toDF("part", "k")
    val regs = Sketches.hllRegistersBy(rows, $"part", $"k", b = 8)
    val merged = Sketches.hllMergeRegisters(regs, b = 8)
      .as[(Long, Long, Double)].head()
    val direct = Sketches.hllDistinct(rows.select($"k"), $"k", b = 8)
      .select($"sum_int", $"nonzero_buckets", $"n_hll")
      .as[(Long, Long, Double)].head()
    assert(merged === direct,
      "register-wise MIN merge must reproduce the direct sketch bit for bit")
    // idempotence: feeding the same partials twice changes nothing
    val twice = Sketches.hllMergeRegisters(regs.union(regs), b = 8)
      .as[(Long, Long, Double)].head()
    assert(twice === direct)
    // a single part's registers alone estimate just that part
    val solo = Sketches.hllMergeRegisters(regs.filter($"part" === 0), b = 8)
      .as[(Long, Long, Double)].head()
    val soloDirect = Sketches.hllDistinct(
      rows.filter($"part" === 0).select($"k"), $"k", b = 8)
      .select($"sum_int", $"nonzero_buckets", $"n_hll")
      .as[(Long, Long, Double)].head()
    assert(solo === soloDirect)
  }

  test("HLL multi-column: one-pass estimates equal per-column direct sketches; nulls skipped") {
    import graft.ops.Sketches
    val rows = (0 until 800).map(i =>
      (i.toLong, (i % 37).toLong, if (i % 5 == 0) null else s"v${i % 100}"))
      .toDF("a", "b", "c")
    val multi = Sketches.hllMultiCol(rows,
        Seq("a" -> $"a", "b" -> $"b", "c" -> $"c"), b = 8)
      .select($"cname", $"sum_int", $"nonzero_buckets", $"n_hll")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    for ((name, key) <- Seq("a" -> $"a", "b" -> $"b", "c" -> $"c")) {
      val direct = Sketches.hllDistinct(
          rows.filter(key.isNotNull).select(key), key, b = 8)
        .select($"sum_int", $"nonzero_buckets", $"n_hll")
        .as[(Long, Long, Double)].head()
      assert(multi(name) === direct,
        s"column $name: fanout registers must reproduce the single-column sketch bit for bit")
    }
  }

  test("CMS merge: summed partials equal the direct sketch; replay double-counts") {
    import graft.ops.Sketches
    val rows = (0 until 4).flatMap(p =>
      (0 until 50).map(k => (p.toLong, (p * 10 + k).toLong))).toDF("part", "k")
    val cells = Sketches.cmsCellsBy(rows, $"part", $"k", d = 4, w = 128)
    val merged = Sketches.cmsMergeCells(cells)
      .orderBy("row", "bucket").as[(Int, Long, Long)].collect().toSeq
    val direct = Sketches.cmsBuild(rows.select($"k"), $"k", d = 4, w = 128)
      .orderBy("row", "bucket").as[(Int, Long, Long)].collect().toSeq
    assert(merged === direct, "cell-wise SUM merge must reproduce the direct sketch")
    // NOT idempotent, by design: replaying a partial double-counts
    val doubled = Sketches.cmsMergeCells(cells.union(cells))
      .agg(sum($"cnt")).as[Long].head()
    assert(doubled === 2L * direct.map(_._3).sum)
  }

  test("histCellsByPart: shared-spec cells sum-merge to the direct histogram; per-part specs would not") {
    import graft.ops.Sketches
    val rows = (0 until 200).map(i => ((i % 4).toLong, i.toDouble)).toDF("part", "v")
    val cells = Sketches.histCellsByPart(rows, $"v", 16, $"part")
    val merged = cells.groupBy("bin").agg(sum($"cnt").as("cnt"))
      .orderBy("bin").as[(Long, Long)].collect().toSeq
    val direct = Sketches.histCellsByPart(rows, $"v", 16, lit("all"))
      .select("bin", "cnt").orderBy("bin").as[(Long, Long)].collect().toSeq
    assert(merged === direct, "shared-spec cells must sum-merge exactly")
    assert(merged.map(_._2).sum === 200L)
    // the contract is the SHARED spec: binning each part against its own
    // min/max puts the same value in different bins — demonstrate the
    // misalignment the shared spec prevents
    val perPartSpec = (0 until 4).map { p =>
      Sketches.histCellsByPart(rows.filter($"part" === p), $"v", 16, lit(p.toString))
    }.reduce(_ unionAll _)
      .groupBy("bin").agg(sum($"cnt").as("cnt"))
      .orderBy("bin").as[(Long, Long)].collect().toSeq
    assert(perPartSpec !== direct,
      "per-part bin specs must NOT reproduce the shared-spec histogram")
  }

  test("bigramLmScore: mean log P(w2|w1) from corpus counts, exact on known corpus") {
    // corpus bigrams: "a b" x2, "a c" x1 -> C(a .) = 3
    // P(b|a) = 2/3, P(c|a) = 1/3
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "a b")).toDF("doc_id", "text")
    val out = TextOps.bigramLmScore(docs, "doc_id", "text")
      .select("id", "n_bigrams", "mean_logp").as[(Long, Long, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L)._1 === 1L && out(2L)._1 === 1L)
    assert(math.abs(out(1L)._2 - math.log(2.0 / 3.0)) < 1e-9)
    assert(math.abs(out(2L)._2 - math.log(1.0 / 3.0)) < 1e-9)
    assert(out(1L)._2 > out(2L)._2, "the common bigram must score higher")
    // order-independence: physical layout cannot change the decimal-summed mean
    val shuffled = TextOps.bigramLmScore(docs.repartition(5), "doc_id", "text")
      .select("id", "mean_logp").as[(Long, Double)].collect().toMap
    assert(shuffled(1L) === out(1L)._2 && shuffled(2L) === out(2L)._2)
  }

  test("crossDocGramStats: counts grams shared across docs, not within one") {
    import graft.ops.DedupOps
    val docs = Seq(
      (1L, "a b c d e"), // grams: "a b c d", "b c d e" — first shared with doc 2
      (2L, "a b c d x"), // grams: "a b c d", "b c d x"
      (3L, "p q r s t"), // no overlap with anyone
      (4L, "u v"),       // < gramSize: whole text is the gram
      (5L, "u v")        // exact short dup of 4 -> both fully duplicated
    ).toDF("doc_id", "text")
    val out = DedupOps.crossDocGramStats(docs, "doc_id", "text", 4)
      .select("id", "n_grams", "n_dup_grams").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) === ((2L, 1L)) && out(2L) === ((2L, 1L)))
    assert(out(3L) === ((2L, 0L)), "unique doc must report zero dup grams")
    assert(out(4L) === ((1L, 1L)) && out(5L) === ((1L, 1L)),
      "short exact dups are fully duplicated")
    // a gram repeated only WITHIN one doc is not a cross-doc dup: distinct
    // grams per doc collapse the repeat before counting
    val solo = Seq((9L, "m n o p m n o p")).toDF("doc_id", "text")
    val s = DedupOps.crossDocGramStats(solo, "doc_id", "text", 4)
      .select("n_dup_grams").as[Long].head()
    assert(s === 0L, "within-doc repetition must not count as cross-doc duplication")
  }

  test("morton16: interleaves bits, preserves 2-D locality, masks high bits") {
    import graft.ops.Layout
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (0xFFFFL, 0xFFFFL),
      (0x10000L, 0L)).toDF("a", "b")
    val out = df.select(Layout.morton16($"a", $"b").as("z")).as[Long].collect()
    assert(out(0) === 0L)
    assert(out(1) === 2L, "bit 0 of a lands at position 1")
    assert(out(2) === 1L, "bit 0 of b lands at position 0")
    // a=3 (11b), b=5 (101b): z = b0·1 + a0·2 + b1·0·4 + a1·8 + b2·16 = 1+2+8+16
    assert(out(3) === 27L)
    assert(out(4) === 0xFFFFFFFFL, "full 16+16 bits interleave to 32 ones")
    assert(out(5) === 0L, "bits above 15 are masked, not smeared")
    // SQL form agrees with the Column form on arbitrary values
    val vals = Seq((123L, 456L), (1499L, 560L), (65535L, 1L)).toDF("a", "b")
    val both = vals.select(Layout.morton16($"a", $"b").as("z1"),
      expr(Layout.morton16Sql("a", "b")).as("z2")).as[(Long, Long)].collect()
    both.foreach { case (z1, z2) => assert(z1 === z2) }
  }

  test("z-order clustering: footer stats prune on BOTH dims; one-dim sort is blind on the other") {
    import graft.ops.Layout
    // full 256x256 grid, one row per (a, b) cell
    val grid = spark.range(256L * 256L)
      .select((col("id") / 256).cast("long").as("a"),
        pmod(col("id"), lit(256L)).cast("long").as("b"))
    val base = java.nio.file.Files.createTempDirectory("zorder").toString
    Layout.clusteredWrite(grid.withColumn("zkey", Layout.morton16($"a", $"b")),
      col("zkey"), 16, s"$base/z")
    Layout.clusteredWrite(grid, col("a"), 16, s"$base/lin")
    val zr = Layout.parquetFileRanges(spark, s"$base/z", Seq("a", "b"))
    val lr = Layout.parquetFileRanges(spark, s"$base/lin", Seq("a", "b"))
    assert(zr.size === 16 && lr.size === 16)
    // box on the NON-sorted dim: the a-sorted layout must read everything,
    // z-order reads the ~1/4 of files whose quadrant intersects
    val bBox = Seq((0L, 255L), (0L, 63L))
    assert(Layout.filesToRead(lr, bBox) === 16, "a-sorted layout is blind on b")
    assert(Layout.filesToRead(zr, bBox) <= 8,
      "z-order must prune most files for a b-only box")
    // box on the sorted dim: both layouts prune
    val aBox = Seq((0L, 63L), (0L, 255L))
    assert(Layout.filesToRead(lr, aBox) <= 5)
    assert(Layout.filesToRead(zr, aBox) <= 8)
    // 2-D box: z-order compounds both dims
    val box2 = Seq((0L, 63L), (0L, 63L))
    assert(Layout.filesToRead(zr, box2) <= 4,
      "2-D box must touch only the intersecting quadrants")
    // pruning is SAFE: reading only the intersecting files returns the
    // exact box count
    val kept = zr.filter { case (_, rs) =>
      rs.zip(box2).forall { case ((mn, mx), (lo, hi)) => mx >= lo && mn <= hi } }
      .map(_._1)
    val cnt = kept.map(f => spark.read.parquet(s"$base/z/$f")
        .filter($"a" <= 63 && $"b" <= 63).count()).sum
    assert(cnt === 64L * 64L)
  }

  test("profile: exact nulls/distinct per column, typed min/max rendering") {
    import graft.ops.Profile
    val df = Seq(
      (1L, Some(2.5), Some("b")),
      (2L, None, Some("a")),
      (3L, Some(2.5), None)
    ).toDF("id", "v", "s")
    val out = Profile.profile(df, Seq("id", "v", "s"))
      .select("column", "n_rows", "n_null", "n_distinct", "min_s", "max_s")
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(out("id") === ((3L, 0L, 3L, "1", "3")))
    assert(out("v") === ((3L, 1L, 1L, "2.5000", "2.5000")),
      "null excluded from distinct; doubles render %.4f")
    assert(out("s") === ((3L, 1L, 2L, "a", "b")))
  }

  test("containmentPairs: subset duplicate scores 1.0 where Jaccard dilutes; df cap blocks boilerplate") {
    import graft.ops.DedupOps
    val docs = Seq(
      // doc 1 (4 tokens = 1 whole 4-gram) contained whole inside doc 2
      // (8 tokens = 5 grams): Jaccard of gram sets = 1/5, containment 1.0
      (1L, "w1 w2 w3 w4"),
      (2L, "w1 w2 w3 w4 a b c d"),
      (3L, "p q r s t u"),          // unrelated — no shared gram, no pair
      (4L, "p q r s t z")           // shares "p q r s"/"q r s t" with doc 3
    ).toDF("doc_id", "text")
    val out = DedupOps.containmentPairs(docs, "doc_id", "text", gramSize = 4)
      .select("id_a", "id_b", "n_shared", "containment")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out((1L, 2L)) === ((1L, 1.0)),
      "contained doc must score containment 1.0 (its one gram is shared)")
    assert(out((3L, 4L)) === ((2L, 2.0 / 3.0)))
    assert(out.size === 2, "unrelated docs must not pair")
    // a gram in MORE than dfCap docs must not block by itself
    val boiler = (1L to 10L).map(i => (i, s"x1 x2 x3 x4 uniq$i")).toDF("doc_id", "text")
    val b = DedupOps.containmentPairs(boiler, "doc_id", "text", gramSize = 4, dfCap = 8)
    assert(b.count() === 0, "over-cap boilerplate gram must not explode into pairs")
    // layout independence
    val a1 = DedupOps.containmentPairs(docs, "doc_id", "text", 4).orderBy("id_a", "id_b").collect().toSeq
    val a2 = DedupOps.containmentPairs(docs.repartition(7), "doc_id", "text", 4).orderBy("id_a", "id_b").collect().toSeq
    assert(a1 === a2)
  }

  test("spanScrub: removes cross-doc duplicated spans, keeps order, spares within-doc repeats") {
    import graft.ops.DedupOps
    val docs = Seq(
      (1L, "w1 w2 w3 w4 tail1"),        // shares the 4-gram w1..w4 with doc 2
      (2L, "pre w1 w2 w3 w4"),          // same span mid-doc
      (3L, "c1 c2 c3 c4 c5"),           // unique — untouched
      (4L, "w1 w2 w3 w4"),              // IS the shared span — fully scrubbed
      (5L, "s t"),                      // shorter than the window — untouched
      (6L, "m n o p m n o p")           // own repeat only — not cross-doc, untouched
    ).toDF("doc_id", "text")
    val out = DedupOps.spanScrub(docs, "doc_id", "text", gramSize = 4, minDocs = 2)
      .select("id", "n_tokens", "n_kept", "cleaned")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((5L, 1L, "tail1")))
    assert(out(2L) === ((5L, 1L, "pre")))
    assert(out(3L) === ((5L, 5L, "c1 c2 c3 c4 c5")))
    assert(out(4L) === ((4L, 0L, "")), "a doc that IS the shared span empties out")
    assert(out(5L) === ((2L, 2L, "s t")), "short docs contribute no grams")
    assert(out(6L) === ((8L, 8L, "m n o p m n o p")),
      "within-doc repetition alone must not scrub")
    // overlapping shared spans: covered positions union, survivors re-join
    val tri = Seq((1L, "a b c d e f"), (2L, "a b c d x y"), (3L, "z c d e f q")).toDF("doc_id", "text")
    val t = DedupOps.spanScrub(tri, "doc_id", "text", gramSize = 4, minDocs = 2)
      .select("id", "n_kept", "cleaned").as[(Long, Long, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(t(1L) === ((0L, "")), "union of the two overlapping spans covers doc 1")
    assert(t(2L) === ((2L, "x y")) && t(3L) === ((2L, "z q")))
    // physical layout cannot change the result
    val a = DedupOps.spanScrub(docs, "doc_id", "text", 4, 2)
      .orderBy("id").collect().toSeq
    val b = DedupOps.spanScrub(docs.repartition(7), "doc_id", "text", 4, 2)
      .orderBy("id").collect().toSeq
    assert(a === b)
  }

  test("matryoshka prefix recall: signal-bearing prefixes preserve the full-width top-k") {
    import graft.ops.SimilarityOps
    // dims 1-2 carry the cluster signal; dims 3-4 are equal constants, so
    // the 2-dim prefix MUST reproduce the full-width neighbor ranking
    val vs = Seq(
      (0L, Seq(1.0f, 0.1f, 0.5f, 0.5f)), (1L, Seq(1.0f, 0.2f, 0.5f, 0.5f)),
      (2L, Seq(0.1f, 1.0f, 0.5f, 0.5f)), (3L, Seq(0.2f, 1.0f, 0.5f, 0.5f)),
      (4L, Seq(-1.0f, 0.3f, 0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
    val q = vs.filter(col("vec_id") === 0L)
    def top(m: Int) = {
      val p = vs.select(col("vec_id"), slice(col("embedding"), 1, m).as("embedding"))
      SimilarityOps.bruteForceTopK(p.filter(col("vec_id") =!= 0L),
          p.filter(col("vec_id") === 0L), "vec_id", "embedding", 2)
        .select("rank", "neighbor_id").as[(Int, Long)].collect().sortBy(_._1).map(_._2).toSeq
    }
    assert(top(4) === Seq(1L, 3L), "full-width: nearest is the same-cluster 1, then 3 (shared constants)")
    // the informative prefix keeps the leader; the constant tail only
    // reshuffles the far candidates
    assert(top(2).head === 1L, "2-dim prefix preserves the top-1 by construction")
  }

  test("pcaPowerTop: recovers a planted dominant direction; div semantics mirror DuckDB") {
    import graft.ops.SimilarityOps
    // Spark's `div` must truncate toward zero like DuckDB's `//` — the s32
    // oracle mirror depends on it for negative scatter cells
    assert(spark.sql("SELECT -7 div 2 AS d").head().getLong(0) === -3L)
    assert(spark.sql("SELECT CAST(-7 AS DECIMAL(38,0)) div 2 AS d").head().getLong(0) === -3L)
    // points along (3, 1) with small orthogonal jitter: top PC ∝ (3, 1)/√10
    val pts = (1 to 20).map { t =>
      val jitter = if (t % 2 == 0) 0.05f else -0.05f
      (t.toLong, Seq(3f * t + jitter, 1f * t - 3 * jitter))
    }.toDF("id", "v")
    val out = SimilarityOps.pcaPowerTop(pts, "v", iters = 8)
      .select(col("dim"), col("pc1_k"), col("eig"))
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val k0 = out(0)._2.toDouble
    val k1 = out(1)._2.toDouble
    assert(math.abs(k0 / k1 - 3.0) < 0.02,
      s"dominant direction should be ~(3,1), got ($k0, $k1)")
    val n2 = k0 * k0 + k1 * k1
    assert(n2 > 0.99e12 && n2 < 1.0001e12, s"k is a 1e6-scaled unit vector, |k|^2=$n2")
    assert(out(0)._3 > 0.0, "scatter matrix is PSD: Rayleigh estimate positive")
    // physical layout cannot change the result (exact integer path)
    val a = SimilarityOps.pcaPowerTop(pts, "v", 5).orderBy("dim").collect().toSeq
    val b = SimilarityOps.pcaPowerTop(pts.repartition(7), "v", 5).orderBy("dim").collect().toSeq
    assert(a === b)
  }

  test("dsirWeights: target-domain features score positive, counts cover unigrams+bigrams") {
    import graft.ops.TextOps
    // target docs speak "alpha", off-target docs speak "omega"
    val docs = Seq(
      (1L, "alpha alpha beta", true),
      (2L, "alpha beta alpha", true),
      (3L, "omega gamma omega", false),
      (4L, "alpha beta alpha", false),   // target-like doc in the raw pool
      (5L, "omega gamma omega", false),
      (6L, "x", false)                   // single token: no bigrams
    ).toDF("doc_id", "text", "is_tgt")
    val out = TextOps.dsirWeights(docs, "doc_id", "text", col("is_tgt"))
      .select(col("id"), col("n_feats"), col("w_dec").cast("double"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // 3 unigrams + 2 bigrams per 3-token doc; 1 unigram for doc 6
    assert(out(1L)._1 === 5L && out(6L)._1 === 1L)
    // the target-like raw doc outscores the off-target docs
    assert(out(4L)._2 > out(3L)._2 && out(4L)._2 > out(5L)._2)
    // identical text ⇒ identical exact weight (decimal, no fp drift)
    assert(out(2L)._2 === out(4L)._2 && out(3L)._2 === out(5L)._2)
    // physical layout cannot change the result
    val a = TextOps.dsirWeights(docs, "doc_id", "text", col("is_tgt"))
      .orderBy("id").collect().toSeq
    val b = TextOps.dsirWeights(docs.repartition(5), "doc_id", "text", col("is_tgt"))
      .orderBy("id").collect().toSeq
    assert(a === b)
  }

  test("chunkDedupFirst: keeps the globally first chunk copy, reassembles in order") {
    import graft.ops.DedupOps
    val docs = Seq(
      (1L, "a b c d"),            // chunks (width 2): "a b", "c d"
      (2L, "a b x y"),            // "a b" already seen in doc 1 → dropped here
      (3L, "c d a b"),            // both chunks seen → fully dropped
      (4L, "p q r"),              // odd tail: chunks "p q", "r"
      (5L, "r s")                 // "r s" ≠ tail chunk "r" — widths differ, kept
    ).toDF("doc_id", "text")
    val out = DedupOps.chunkDedupFirst(docs, "doc_id", "text", chunkTokens = 2)
      .select("id", "n_chunks", "n_kept", "rebuilt")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((2L, 2L, "a b c d")), "first occurrences all survive")
    assert(out(2L) === ((2L, 1L, "x y")), "the duplicated chunk drops, the rest keeps")
    assert(out(3L) === ((2L, 0L, "")), "a doc of only re-seen chunks empties out")
    assert(out(4L) === ((2L, 2L, "p q r")), "short tail chunk is its own line")
    assert(out(5L) === ((1L, 1L, "r s")), "a tail chunk never collides with a full one unless equal text")
    // within-doc repetition: the SECOND copy inside one doc also drops
    // (chunk_idx breaks the tie inside the integer key)
    val rep = Seq((7L, "m n m n o o")).toDF("doc_id", "text")
    val r = DedupOps.chunkDedupFirst(rep, "doc_id", "text", 2)
      .select("n_chunks", "n_kept", "rebuilt").as[(Long, Long, String)].head()
    assert(r === ((3L, 2L, "m n o o")))
    // physical layout cannot change the result
    val a = DedupOps.chunkDedupFirst(docs, "doc_id", "text", 2).orderBy("id").collect().toSeq
    val b = DedupOps.chunkDedupFirst(docs.repartition(7), "doc_id", "text", 2)
      .orderBy("id").collect().toSeq
    assert(a === b)
  }

  test("bloomChunkDedup: history chunks hit, fresh-only chunks survive, no false negatives") {
    import graft.ops.DedupOps
    val history = Seq(
      (1L, "a b c d"),            // chunks (width 2): "a b", "c d"
      (2L, "e f g h")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "a b c d"),           // both chunks in history → dropped
      (11L, "a b x y"),           // half duplicated → dropped at the ≥50% rule
      (12L, "p q r s"),           // nothing shared → kept
      (13L, "x y c d p q")        // 1 of 3 → kept
    ).toDF("doc_id", "text")
    val out = DedupOps.bloomChunkDedup(history, fresh, "doc_id", "text",
        chunkTokens = 2, kHashes = 3)
      .select("id", "n_chunks", "n_hits", "n_true_hits", "dropped")
      .as[(Long, Long, Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // no false negatives ever: n_hits >= n_true_hits, and every truly
    // contained chunk is hit
    out.values.foreach { case (_, hits, trueHits, _) => assert(hits >= trueHits) }
    assert(out(10L) === ((2L, 2L, 2L, 1)))
    assert(out(11L)._4 === 1 && out(11L)._3 === 1L)
    assert(out(12L) === ((2L, 0L, 0L, 0)),
      "65536 bits over 4 history chunks: a false positive here is ~impossible")
    assert(out(13L)._4 === 0 && out(13L)._3 === 1L)
    // physical layout cannot change the result
    val a = DedupOps.bloomChunkDedup(history, fresh, "doc_id", "text", 2, 3)
      .orderBy("id").collect().toSeq
    val b = DedupOps.bloomChunkDedup(history.repartition(3), fresh.repartition(5),
      "doc_id", "text", 2, 3).orderBy("id").collect().toSeq
    assert(a === b)
  }

  test("pqDistortion: Lloyd training never increases per-subspace SSE") {
    import graft.ops.SimilarityOps
    val vecs = (0 until 40).map { i =>
      (i.toLong, Seq.tabulate(8)(d => (math.sin(i * 0.7 + d) + (i % 4) * 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    val cb0 = SimilarityOps.pqCodebook(vecs.filter($"vec_id" % 10 === 0),
      "vec_id", "embedding", m = 2, subDim = 4)
    val cbT = SimilarityOps.pqCodebookRefine(vecs, cb0, "vec_id", "embedding",
      m = 2, subDim = 4, iters = 2)
    def sse(cb: org.apache.spark.sql.DataFrame) =
      SimilarityOps.pqDistortion(vecs, cb, "vec_id", "embedding", 2, 4)
        .select("sub", "sse").as[(Int, Double)].collect().toMap
    val raw = sse(cb0)
    val tr = sse(cbT)
    assert(raw.keySet === Set(0, 1) && tr.keySet === Set(0, 1))
    raw.keys.foreach { k =>
      assert(tr(k) <= raw(k) + 1e-9, s"sub $k: trained ${tr(k)} > raw ${raw(k)}")
      assert(raw(k) > 0.0)
    }
  }

  test("dupSpans: islands merge overlapping and TOUCHING covers, gaps split, within-doc repeats inert") {
    import graft.ops.DedupOps
    val corpus = Seq(
      (1L, "a b c d e f"),   // dup grams (w=2): "a b","b c","e f" → spans [0,2],[4,5]
      (2L, "a b c x e f"),
      (3L, "p q r s"),       // fully duplicated → ONE span of 4
      (4L, "p q r s"),
      (5L, "z z z z z"),     // within-doc repeat only → nd=1 → no spans
      (8L, "u v w x"),       // covers [0,1],[2,3] TOUCH → fuse to one span of 4
      (9L, "u v q1 q2 w x")  // its partner: spans [0,1],[4,5] gap → stay split
    ).toDF("doc_id", "text")
    val out = DedupOps.dupSpans(corpus, "doc_id", "text", gramSize = 2, minDocs = 2)
      .select("id", "n_tokens", "n_spans", "dup_tokens", "longest_span", "dup_bp")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(out(1L) === ((6L, 2L, 5L, 3L, 8333L)))
    assert(out(2L) === ((6L, 2L, 5L, 3L, 8333L)))
    assert(out(3L) === ((4L, 1L, 4L, 4L, 10000L)))
    assert(out(5L) === ((5L, 0L, 0L, 0L, 0L)))
    assert(out(8L) === ((4L, 1L, 4L, 4L, 10000L)), "touching covers must fuse")
    assert(out(9L) === ((6L, 2L, 4L, 2L, 6666L)), "gapped covers must not fuse")
    // physical layout cannot change the result
    val a = DedupOps.dupSpans(corpus, "doc_id", "text", 2, 2)
      .orderBy("id").collect().toSeq
    val b = DedupOps.dupSpans(corpus.repartition(7), "doc_id", "text", 2, 2)
      .orderBy("id").collect().toSeq
    assert(a === b)
  }

  test("spanScrubAgainst: external bench grams scrub; corpus-internal dups don't") {
    import graft.ops.DedupOps
    val corpus = Seq(
      (1L, "w1 w2 w3 w4 tail"),  // contains the bench span → scrubbed
      (2L, "p q r s t"),         // shares a span with doc 3 but NOT bench
      (3L, "p q r s u")          // → cross-corpus dup must stay (external set only)
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "xx w1 w2 w3 w4 yy"), // carries the 4-gram w1..w4
      (101L, "s t")                // short: fallback gram must be inert
    ).toDF("doc_id", "text")
    val out = DedupOps.spanScrubAgainst(corpus, bench, "doc_id", "text", 4)
      .select("id", "n_kept", "cleaned").as[(Long, Long, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) === ((1L, "tail")), "bench span removed")
    assert(out(2L) === ((5L, "p q r s t")) && out(3L) === ((5L, "p q r s u")),
      "corpus-internal duplication is not the decontamination contract")
  }

  test("invertedIndex: df over distinct docs, numerically sorted capped postings") {
    import graft.ops.TextOps
    val docs = Seq(
      (10L, "x x y"),   // within-doc repeat counts once
      (2L, "x z"),
      (7L, "y x"),
      (5L, "   ")       // blank — excluded
    ).toDF("doc_id", "text")
    val out = TextOps.invertedIndex(docs, "doc_id", "text", topDocs = 10)
      .select("term", "df", "postings_head").as[(String, Long, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.keySet === Set("x", "y", "z"))
    assert(out("x") === ((3L, "2,7,10")), "numeric sort, not lexicographic ('10'<'2')")
    assert(out("y") === ((2L, "7,10")))
    assert(out("z") === ((1L, "2")))
    // the cap truncates the posting sample but not df
    val many = (0L until 25L).map(i => (i, "common")).toDF("doc_id", "text")
    val capped = TextOps.invertedIndex(many, "doc_id", "text", topDocs = 5)
      .select("df", "postings_head").as[(Long, String)].head()
    assert(capped === ((25L, "0,1,2,3,4")))
  }

  test("stratifiedExact: quotas sum exactly, largest remainders seated, deterministic fill") {
    import graft.ops.Sampling
    // strata sizes 7 / 5 / 3 (N=15), total=10: floors 4/3/2 (sum 9, one
    // seat left), remainders 10·7%15=10, 50%15=5, 30%15=0 → extra seat to
    // the first stratum → quotas 5/3/2.
    val df = ((1 to 7).map(i => (s"a", i * 100L)) ++
      (1 to 5).map(i => (s"b", i * 200L + 1)) ++
      (1 to 3).map(i => (s"c", i * 300L + 2))).toDF("lang", "id")
    val got = Sampling.stratifiedExact(df, $"id", $"lang", total = 10)
      .as[(String, Long, Long)].collect()
    assert(got.length === 10)
    val byStratum = got.groupBy(_._1).view.mapValues(_.length).toMap
    assert(byStratum === Map("a" -> 5, "b" -> 3, "c" -> 2))
    // deterministic: second run identical including pick order
    val again = Sampling.stratifiedExact(df, $"id", $"lang", total = 10)
      .as[(String, Long, Long)].collect()
    assert(got.sortBy(r => (r._1, r._3)) === again.sortBy(r => (r._1, r._3)))
    // degenerate: total larger than a stratum — stratum yields all its
    // rows, not silently rebalanced (callers see the shortfall)
    val small = Seq(("x", 1L), ("x", 2L), ("y", 3L)).toDF("lang", "id")
    val g2 = Sampling.stratifiedExact(small, $"id", $"lang", total = 3)
      .as[(String, Long, Long)].collect()
    assert(g2.length === 3)
  }

  test("tokenBudgetMixture: integer-derived thresholds, under-supplying domain keeps all") {
    import graft.ops.Sampling
    // A: 100 docs x 10 tok = 1000; B: 10 docs x 10 tok = 100; total 1100
    // budget 60% = 660, share 330 each → A thr = 330·2^32/1000 (~33%),
    // B needs 330 > 100 available → thr caps at 2^32, all of B kept
    val df = ((0L until 100L).map(i => (i, "A", 10)) ++
      (100L until 110L).map(i => (i, "B", 10))).toDF("id", "dom", "n_tok")
    val out = Sampling.tokenBudgetMixture(df, $"id", $"dom", $"n_tok", 6, 10)
    val doms = out.groupBy($"dom").agg(
      max($"thr").as("thr"), sum($"selected").as("n_sel")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(doms("A")._1 === 330L * 4294967296L / 1000L)
    assert(doms("B")._1 === 4294967296L && doms("B")._2 === 10L,
      "under-supplying domain keeps everything")
    assert(doms("A")._2 > 0 && doms("A")._2 < 100,
      s"A must be subsampled, got ${doms("A")._2}")
    // membership is a pure function of the key hash — layout cannot move it
    val a = out.filter($"selected" === 1).select($"id").as[Long].collect().toSet
    val b = Sampling.tokenBudgetMixture(df.repartition(7), $"id", $"dom", $"n_tok", 6, 10)
      .filter($"selected" === 1).select($"id").as[Long].collect().toSet
    assert(a === b)
  }

  test("hashSplit: total, stable under repartition/append, roughly proportional") {
    import graft.ops.Sampling
    val fr = Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1)
    val ids = (0L until 2000L).toDF("id")
    val split = Sampling.hashSplit(ids, $"id", fr).as[(Long, String)].collect().toMap
    assert(split.size === 2000, "every row must land in a split")
    val byName = split.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byName("train") > 1500 && byName("train") < 1700, s"train share off: $byName")
    assert(byName("validation") > 130 && byName("validation") < 270, s"val share off: $byName")
    // membership is a pure per-row function: physical layout cannot move a
    // row, and appending data cannot re-assign existing rows
    val shuffled = Sampling.hashSplit(ids.repartition(13), $"id", fr)
      .as[(Long, String)].collect().toMap
    assert(shuffled === split)
    val grown = Sampling.hashSplit((0L until 4000L).toDF("id"), $"id", fr)
      .as[(Long, String)].collect().toMap
    assert(split.forall { case (k, v) => grown(k) == v },
      "appending rows must never migrate an existing row between splits")
    // degenerate fractions rejected
    intercept[IllegalArgumentException] {
      Sampling.splitBoundaries(Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("deterministicShuffle: a stable permutation, independent of layout") {
    import graft.ops.Sampling
    val ids = (0L until 500L).toDF("id")
    val s1 = Sampling.deterministicShuffle(ids, $"id", shards = 8)
      .select("id", "pos", "shard").as[(Long, Long, Int)].collect().sortBy(_._1)
    assert(s1.map(_._2).sorted.toSeq === (1L to 500L), "pos must be a 1..n permutation")
    assert(s1.forall(r => r._3 >= 0 && r._3 < 8))
    // hash order, not input order: the identity permutation would mean the
    // "shuffle" did nothing
    assert(s1.map(_._2).toSeq !== (1L to 500L), "must not preserve input order")
    val s2 = Sampling.deterministicShuffle(ids.repartition(7), $"id", shards = 8)
      .select("id", "pos", "shard").as[(Long, Long, Int)].collect().sortBy(_._1)
    assert(s2.toSeq === s1.toSeq, "permutation must not depend on physical layout")
  }

  test("semDedup: same-cluster near-dups drop to the lowest id; distant pairs survive") {
    // two separated direction-clusters; ids 1/2 are near-copies of 0 (cosine
    // ~1 > tau), id 3 is same-cluster but off-axis enough to stay below tau;
    // cluster B has no internal dups. Zero vector must vanish silently.
    val vecs = Seq(
      (0L, Array(10f, 0f, 0f, 0f)),
      (1L, Array(10f, 0.1f, 0f, 0f)),   // near-dup of 0 -> dropped
      (2L, Array(10f, 0f, 0.1f, 0f)),   // near-dup of 0 -> dropped
      (3L, Array(7f, 7f, 0f, 0f)),      // same cluster, cos(0,3)=0.707 < tau
      (10L, Array(0f, 0f, 10f, 0f)),
      (11L, Array(0f, 0f, 0f, 10f)),    // cos=0 to everything in its cluster
      (99L, Array(0f, 0f, 0f, 0f))      // zero vector: excluded, not crashed
    ).toDF("vec_id", "embedding")
    val cents = Seq(
      (100L, Array(1f, 0.05f, 0f, 0f)),
      (200L, Array(0f, 0f, 1f, 1f))
    ).toDF("centroid_id", "centroid_vec")
    val kept = SimilarityOps.semDedup(vecs, cents, "vec_id", "embedding", tau = 0.9)
      .as[(Long, Long)].collect().toMap
    assert(kept.keySet === Set(0L, 3L, 10L, 11L),
      s"expected near-dups 1,2 dropped and zero vector excluded, got $kept")
    assert(kept(0L) === 100L && kept(3L) === 100L)
    assert(kept(10L) === 200L && kept(11L) === 200L)

    // tau above every similarity keeps everything (nothing to prune)
    val all = SimilarityOps.semDedup(vecs, cents, "vec_id", "embedding", tau = 1.1)
    assert(all.count() === 6, "no pair reaches tau=1.1; only the zero vector drops")
  }

  test("kmeans: cluster sizes sum to the corpus; unvisited centroids drop") {
    val rng = new scala.util.Random(23)
    val vecs = (0L until 50L).map(i =>
      (i, Array.fill(8)(rng.nextFloat() + 0.1f))).toDF("vec_id", "embedding")
    // an all-negative seed is never the cosine-nearest for all-positive data
    val farSeed = Seq((99L, Array.fill(8)(-1.0f))).toDF("vec_id", "embedding")
    val init = vecs.filter($"vec_id" % 10 === 0).union(farSeed)
      .select($"vec_id".as("centroid_id"), $"embedding".as("centroid_vec"))
    val out = SimilarityOps.kmeansRefine(vecs, init, "vec_id", "embedding", iters = 2)
    assert(out.agg(sum($"n")).as[Long].head() === 50L)
    assert(out.filter($"centroid_id" === 99L).isEmpty, "empty cell must drop")
  }

  test("HLL sketch: estimate tracks true cardinality across two decades") {
    // md5 is a good hash, so the standard error bound (~1.04/sqrt(m) at
    // m=4096, linear-counting regime even tighter) should hold with slack
    // at every tested cardinality; the estimate must also be insensitive
    // to duplication (10 copies of each key change nothing).
    for (n <- Seq(50, 500, 5000)) {
      val keys = (0 until n).flatMap(k => Seq.fill(10)(s"user_$k")).toDF("k")
      val est = graft.ops.Sketches.hllDistinct(keys, $"k", b = 12)
        .select("n_hll").as[Double].head()
      assert(math.abs(est - n) / n < 0.05, s"n=$n est=$est off by >5%")
    }
  }

  test("HLL sketch: deterministic and permutation-invariant") {
    val keys = (0 until 777).map(k => s"id_$k").toDF("k")
    val shuffled = keys.orderBy(md5($"k"))
    val a = graft.ops.Sketches.hllDistinct(keys, $"k").select("sum_int", "n_hll")
      .as[(Long, Double)].head()
    val b = graft.ops.Sketches.hllDistinct(shuffled, $"k").select("sum_int", "n_hll")
      .as[(Long, Double)].head()
    assert(a === b, "HLL must not depend on row order or partitioning")
  }

  test("grouped HLL: per-group estimate equals the single-group sketch") {
    val df = (0 until 3).flatMap(g => (0 until (g + 1) * 300).map(k => (s"g$g", s"u${g}_$k")))
      .toDF("g", "k")
    val by = graft.ops.Sketches.hllDistinctBy(df, $"g", $"k")
      .select($"grp", $"n_hll").as[(String, Double)].collect().toMap
    for (g <- 0 until 3) {
      val n = (g + 1) * 300
      assert(math.abs(by(s"g$g") - n) / n < 0.05, s"group g$g est=${by(s"g$g")} n=$n")
      // slicing to one group and sketching globally must give the identical
      // estimate — grouping only partitions the register space
      val single = graft.ops.Sketches.hllDistinct(df.filter($"g" === s"g$g"), $"k")
        .select("n_hll").as[Double].head()
      assert(by(s"g$g") === single)
    }
  }

  test("binary quantization: sign packing and Hamming ranking, all-integer") {
    // signBits: strict positivity, bit order, bit 63 reachable without
    // ANSI overflow (shift/OR only)
    val enc = Seq((1L, Array(1.0, 0.0, -2.0, 0.5)), (2L, Array.fill(64)(1.0)))
      .toDF("id", "v")
      .select($"id", SimilarityOps.signBits($"v").as("code"))
      .as[(Long, Long)].collect().toMap
    assert(enc(1L) === ((1L << 0) | (1L << 3)), "bits 0 and 3 only; 0.0 is not positive")
    assert(enc(2L) === -1L, "64 positive components = all bits set (bit 63 wraps sign)")
    // end-to-end: hand-checkable 4-dim corpus, query id 0 = (+,+,-,-)
    val corpus = Seq(
      (0L, Array(1.0, 1.0, -1.0, -1.0)),  // query
      (1L, Array(2.0, 3.0, -9.0, -0.1)),  // same signs → hamming 0
      (2L, Array(1.0, 1.0, -1.0, 1.0)),   // 1 flip
      (3L, Array(-1.0, -1.0, 1.0, 1.0)),  // all 4 flipped
      (4L, Array(0.0, 1.0, -1.0, -1.0))   // dim0 0 vs + → 1 flip
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.binaryHammingTopK(
        corpus, corpus.filter($"vec_id" === 0), "vec_id", "embedding", 10)
      .select($"rank", $"neighbor_id", $"hamming")
      .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1, 1L, 0L), (2, 2L, 1L), (3, 4L, 1L), (4, 3L, 4L)),
      "ranked by hamming asc, ties by neighbor id")
  }

  test("embedding near-dup pairs find same-direction vectors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 1.0f, 0.2f, 0.1f, 0.5f, 0.3f, 0.9f)),
      (1L, Array(1.0f, 0.01f, 1.0f, 0.2f, 0.1f, 0.5f, 0.3f, 0.9f)),
      (2L, Array(-1.0f, 0.5f, -1.0f, 0.2f, -0.1f, 0.5f, -0.3f, 0.9f))).toDF("vec_id", "embedding")
    val pairs = SimilarityOps.embeddingNearDupPairs(vecs, "vec_id", "embedding", 0.99, signDims = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("Bloom prune: dense word array, no false negatives, real pruning") {
    val mBits = 1 << 12; val k = 5
    val build = (0 until 200).map(i => i * 7L).toDF("key")
    val bloom = graft.ops.Sketches.bloomBuild(build, $"key", mBits, k)
    val words = bloom.select("words").as[Seq[Long]].head()
    assert(words.length === mBits / 64, "positional array covers every word, absent words explicit zeros")
    assert(words.exists(_ != 0L))

    val probe = (0 until 5000).map(_.toLong).toDF("key")
    val kept = graft.ops.Sketches.bloomPrune(probe, $"key", bloom, mBits, k)
      .as[Long].collect().toSet
    val members = (0 until 200).map(i => i * 7L).toSet
    // Bloom contract: every inserted key survives (no false negatives)...
    assert(members.subsetOf(kept))
    // ...and the prefilter does real work: at this load factor
    // (200·5/4096 ≈ 0.24 bits set) the false-positive rate is ~(1-e^-0.24)^5
    // ≈ 0.05%, so nearly all of the 4800 non-members must be dropped.
    assert(kept.size < members.size + 100,
      s"pruning too weak: kept ${kept.size} of 5000 probes for 200 members")
    // prune + exact join == exact join without the sketch (unconditional
    // correctness — the o13 oracle relies on exactly this identity).
    val exact = probe.join(build.withColumnRenamed("key", "k2"),
      $"key" === $"k2", "left_semi").as[Long].collect().toSet
    val prunedExact = graft.ops.Sketches.bloomPrune(probe, $"key", bloom, mBits, k)
      .join(build.withColumnRenamed("key", "k2"), $"key" === $"k2", "left_semi")
      .as[Long].collect().toSet
    assert(prunedExact === exact)
  }

  test("histogram quantiles: bin-width error bound, monotone, degenerate") {
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val out = graft.ops.Sketches.histQuantiles(df, $"v", 10, Seq("0.5", "0.95", "0.99"))
      .select($"q_str", $"est").as[(String, Double)].collect().toMap
    // estimate error is bounded by one bin width ((100-1)/10 = 9.9)
    assert(math.abs(out("0.5") - 50.0) <= 9.9, s"p50=${out("0.5")}")
    assert(math.abs(out("0.95") - 95.0) <= 9.9, s"p95=${out("0.95")}")
    assert(out("0.5") < out("0.95") && out("0.95") <= out("0.99"),
      "estimates must be monotone in q")
    // all-equal column: lo == hi → every quantile is that value
    val flat = Seq.fill(7)(3.25).toDF("v")
    val f = graft.ops.Sketches.histQuantiles(flat, $"v", 10, Seq("0.5"))
      .select($"est").as[Double].head()
    assert(f === 3.25)
  }

  test("chunking: start ladder, overlap, no pure-suffix chunks, short tail") {
    def chunks(text: String, size: Int, stride: Int) =
      TextOps.chunkWithOverlap(Seq((1L, text)).toDF("doc_id", "text"),
          "doc_id", "text", size, stride)
        .select($"chunk_id", $"chunk_start", $"chunk")
        .as[(Long, Long, Seq[String])].collect().sortBy(_._1).toSeq
    val ten = (0 until 10).map(i => s"t$i").mkString(" ")
    // size 4 / stride 3: starts 0,3,6 emitted; 9 adds nothing (prev end=10)
    assert(chunks(ten, 4, 3) === Seq(
      (0L, 0L, Seq("t0", "t1", "t2", "t3")),
      (1L, 3L, Seq("t3", "t4", "t5", "t6")),
      (2L, 6L, Seq("t6", "t7", "t8", "t9"))))
    // doc shorter than one chunk → single short chunk
    assert(chunks("a b", 4, 3) === Seq((0L, 0L, Seq("a", "b"))))
    // short TAIL chunk kept when it adds a token: n=5 → start 3 adds t4
    assert(chunks((0 until 5).map(i => s"t$i").mkString(" "), 4, 3) === Seq(
      (0L, 0L, Seq("t0", "t1", "t2", "t3")), (1L, 3L, Seq("t3", "t4"))))
    // stride == size → disjoint chunks, no overlap
    assert(chunks(ten, 5, 5) === Seq(
      (0L, 0L, (0 until 5).map(i => s"t$i")),
      (1L, 5L, (5 until 10).map(i => s"t$i"))))
    intercept[IllegalArgumentException] {
      TextOps.chunkWithOverlap(Seq((1L, "x")).toDF("doc_id", "text"),
        "doc_id", "text", 4, 5)
    }
  }

  test("bpeTrain: hand-computed merges, lexicographic tie-break, greedy overlap") {
    import graft.ops.TextOps
    // word freqs: low:4 lower:1 lowest:1 new:1 newer:1 — the Sennrich
    // paper's worked example family. Hand computation:
    //  r1: (l,o)=6 ties (o,w)=6 → lexicographic a picks (l,o)
    //  r2: (lo,w)=6   r3: (e,r)=2 beats (low,e)/(n,e)/(e,w) ties on a,b
    //  r4: (e,w)=2 beats (n,e) on a
    val docs = Seq((1L, "low low low lower lowest"), (2L, "new newer low"))
      .toDF("doc_id", "text")
    val got = TextOps.bpeTrain(docs, "text", rounds = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq((1L, "l", "o", 6L), (2L, "lo", "w", 6L),
      (3L, "e", "r", 2L), (4L, "e", "w", 2L)), s"got ${got.toSeq}")
    // greedy-leftmost overlap: merging (a,a) in "aaaa" must give [aa][aa],
    // and the round-1 count is per-SLOT (3 adjacent slots × freq 2)
    val aaaa = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    val g2 = TextOps.bpeTrain(aaaa, "text", rounds = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(g2.toSeq === Seq((1L, "a", "a", 6L), (2L, "aa", "aa", 2L)), s"got ${g2.toSeq}")
    // fewer real merges than rounds → stop early, no empty-argmax rows
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    val g3 = TextOps.bpeTrain(tiny, "text", rounds = 3).collect()
    assert(g3.length === 1, s"ab merges to one symbol in 1 round, got ${g3.length}")
  }

  test("bigram PMI: hand computation, short-doc exclusion, minCount membership") {
    val corpus = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "z")).toDF("doc_id", "text")
    val out = TextOps.bigramPmi(corpus, "text", 2L)
      .select($"gram", $"n_ab", $"n_a", $"n_b", $"pmi")
      .as[(String, Long, Long, Long, Double)].collect()
    // "a b" x3; "b a" and "b c" fall under minCount=2
    assert(out.map(_._1).toSet === Set("a b"))
    val r = out.head
    // doc 3 ("z", 1 token) excluded from BOTH counts: N_tok=7, N_bg=5
    assert(r._2 === 3 && r._3 === 3 && r._4 === 3)
    assert(math.abs(r._5 - math.log(3.0 * 7 * 7 / (3 * 3 * 5))) < 1e-12,
      s"pmi=${r._5}")
  }

  test("BM25: hand computation, doc-length normalization, miss exclusion") {
    val corpus = Seq(
      (1L, "spark query spark"),
      (2L, "spark the the the the the"),
      (3L, "nothing here"),
      (4L, "query")).toDF("doc_id", "text")
    val out = TextOps.bm25(corpus, "doc_id", "text", Seq("spark", "query"))
      .select($"id", $"n_hit", $"bm25").as[(Long, Long, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // doc 3 matches no query term — absent, not zero-scored
    assert(out.keySet === Set(1L, 2L, 4L))
    assert(out(1L)._1 === 2 && out(2L)._1 === 1 && out(4L)._1 === 1)
    // hand check doc 1: N=4, avgdl=(3+6+2+1)/4=3, df(spark)=df(query)=2 so
    // idf=ln((4-2+0.5)/2.5+1)=ln 2; spark tf=2,dl=3 → norm=4.4/3.2; query
    // tf=1 → norm=2.2/2.2=1. Score = ln2·(4.4/3.2 + 1).
    val expected1 = math.log(2.0) * (4.4 / 3.2) + math.log(2.0)
    assert(math.abs(out(1L)._2 - expected1) < 1e-9, s"doc1=${out(1L)._2} expected=$expected1")
    // same tf and idf, longer doc → lower score (the b·dl/avgdl penalty)
    assert(out(4L)._2 > out(2L)._2, "length normalization must penalize doc 2")
  }

  test("editDistancePairs: band blocking enumerates exactly the length-tolerance predicate join") {
    // Corpus engineered around band boundaries (bandWidth=8, slack=4):
    // lengths 7/8 straddle a band edge (adjacent-band pair), 8/12 same
    // tolerance different bands, 30/36 exceed slack (must NOT pair), and
    // two exact dups plus a 2-edit mutation.
    val mk = (id: Long, lang: String, t: String) => (id, lang, t, t.length.toLong)
    val rows = Seq(
      mk(1, "en", "aaaaaaa"),          // len 7, band 0
      mk(2, "en", "aaaaaaax"),         // len 8, band 1 — adjacent-band, dist 1
      mk(3, "en", "aaaaaaaxyzwv"),     // len 12, band 1 — |12-7|=5 > slack vs 1;
                                       // |12-8|=4 ≤ slack vs 2 (same band, dist 4)
      mk(4, "en", "hello world one"),
      mk(5, "en", "hello world one"),  // exact dup of 4 → dist 0
      mk(6, "en", "hello worxd oze"),  // 2 edits from 4/5
      mk(7, "de", "hello world one"),  // other lang: never pairs with en
      mk(8, "en", "b" * 30),
      mk(9, "en", "b" * 36))           // |36-30|=6 > slack: no pair
    val df = rows.toDF("doc_id", "lang", "text", "n_chars")
    val got = DedupOps.editDistancePairs(df, "doc_id", "text", "lang", "n_chars",
        prefixLen = 64, maxDist = 5, lenSlack = 4, bandWidth = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === Set((1L, 2L, 1), (2L, 3L, 4), (4L, 5L, 0), (4L, 6L, 2),
      (5L, 6L, 2)), s"got $got")
    // cross-check against the brute-force predicate join the blocking claims
    // to equal (any pair, same lang, |len diff| <= 4, dist <= 5)
    val a = df.select($"doc_id".as("ia"), $"lang".as("la"), $"n_chars".as("na"), $"text".as("ta"))
    val b = df.select($"doc_id".as("ib"), $"lang".as("lb"), $"n_chars".as("nb"), $"text".as("tb"))
    val brute = a.crossJoin(b)
      .filter($"la" === $"lb" && $"ia" < $"ib" && abs($"na" - $"nb") <= 4)
      .withColumn("d", levenshtein(substring($"ta", 1, 64), substring($"tb", 1, 64)))
      .filter($"d" <= 5)
      .collect().map(r => (r.getAs[Long]("ia"), r.getAs[Long]("ib"), r.getAs[Int]("d"))).toSet
    assert(got === brute)
  }

  test("editDistancePairsSegmented: PassJoin blocking equals band blocking and brute force") {
    // The same band-boundary corpus PLUS indel mutations (segment shifts),
    // docs longer than the prefix (edits past char 24 invisible), and a
    // same-length different-content pair the content keys must not merge.
    val mk = (id: Long, lang: String, t: String) => (id, lang, t, t.length.toLong)
    val rows = Seq(
      mk(1, "en", "aaaaaaa"), mk(2, "en", "aaaaaaax"),
      mk(3, "en", "aaaaaaaxyzwv"),
      mk(4, "en", "hello world one"), mk(5, "en", "hello world one"),
      mk(6, "en", "hello worxd oze"),
      mk(7, "de", "hello world one"),
      mk(10, "en", "the quick brown fox jumps"),
      mk(11, "en", "the quick brown fx jumps"),     // 1 deletion → shift
      mk(12, "en", "thhe quuick brown fox jums"),   // 2 ins + 1 del
      mk(13, "en", "zzzzzzzzzzzzzzzzzzzzzzzzz"),    // same len as 10, far
      mk(14, "en", "x" * 24 + "TAIL-A-LONG-SUFFIX"),
      mk(15, "en", "x" * 24 + "TAIL-B-LONG-SUFFIY"), // differs beyond prefix
      // short docs (< maxDist+1 chars): both-short pairs route through the
      // distinct-value block (ADVICE r10 — they were silently dropped);
      // short-vs-long pairs must still come out of the main PassJoin path
      mk(20, "en", "ab"), mk(21, "en", "abc"), mk(22, "en", "ab"),
      mk(23, "en", "qz"),                  // dist 2 from 20/22 — in bound
      mk(24, "en", "abcdef"))              // len 6: dist(21)=3, main path
    val df = rows.toDF("doc_id", "lang", "text", "n_chars")
    def norm(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val seg = norm(DedupOps.editDistancePairsSegmented(df, "doc_id", "text",
      "lang", "n_chars", prefixLen = 24, maxDist = 5, lenSlack = 4))
    val band = norm(DedupOps.editDistancePairs(df, "doc_id", "text",
      "lang", "n_chars", prefixLen = 24, maxDist = 5, lenSlack = 4, bandWidth = 8))
    val a = df.select($"doc_id".as("ia"), $"lang".as("la"), $"n_chars".as("na"), $"text".as("ta"))
    val b = df.select($"doc_id".as("ib"), $"lang".as("lb"), $"n_chars".as("nb"), $"text".as("tb"))
    val brute = a.crossJoin(b)
      .filter($"la" === $"lb" && $"ia" < $"ib" && abs($"na" - $"nb") <= 4)
      .withColumn("d", levenshtein(substring($"ta", 1, 24), substring($"tb", 1, 24)))
      .filter($"d" <= 5)
      .collect().map(r => (r.getAs[Long]("ia"), r.getAs[Long]("ib"), r.getAs[Int]("d"))).toSet
    assert(seg === brute, s"segmented vs brute: ${seg.diff(brute)} / ${brute.diff(seg)}")
    assert(band === brute)
    // sanity: the indel pair and the beyond-prefix pair really are in play
    assert(brute.exists(p => p._1 == 10L && p._2 == 11L))
    assert(brute.contains((14L, 15L, 0)), "edits beyond the prefix are invisible")
  }

  test("typoCandidates blocks on leading char and applies the jw threshold") {
    val docs = Seq(
      (1L, "spark spork sprk batch"),
      (2L, "table cable batch bitch"),   // c-block vs t-block never compared
      (3L, "")).toDF("doc_id", "text")
    val got = TextOps.typoCandidates(docs, "text", minJw = 0.80, maxLenDiff = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // spark/spork (1 sub, jw .89), spark/sprk + spork/sprk (deletions),
    // batch/bitch (1 sub, .87); NOT table/cable (first char differs).
    assert(got === Set(("spark", "spork"), ("spark", "sprk"), ("spork", "sprk"),
      ("batch", "bitch")), s"got $got")
  }

  test("editDistancePairsSegmented: randomized mutation corpus, recall equals brute force") {
    // 120 docs: 30 bases (seeded random over a 4-char alphabet, lengths
    // 10-60 straddling the 24-char prefix) + 3 mutants each with 0-6
    // random edits (sub/ins/del) — mutants within lev<=5 of their base
    // MUST all be found; pairs crossing the length tolerance must not.
    val rnd = new scala.util.Random(42)
    val alpha = "abcd"
    def randStr(n: Int) = (1 to n).map(_ => alpha(rnd.nextInt(4))).mkString
    val docs = (0 until 30).flatMap { b =>
      val base = randStr(10 + rnd.nextInt(51))
      val variants = (1 to 3).map { v =>
        var t = base
        (1 to rnd.nextInt(7)).foreach { _ =>
          val p = rnd.nextInt(math.max(1, t.length))
          rnd.nextInt(3) match {
            case 0 => t = t.updated(p, alpha(rnd.nextInt(4)))
            case 1 => t = t.take(p) + alpha(rnd.nextInt(4)) + t.drop(p)
            case 2 if t.length > 1 => t = t.take(p) + t.drop(p + 1)
            case _ =>
          }
        }
        t
      }
      (base +: variants).zipWithIndex.map { case (t, i) =>
        (b * 10L + i, "en", t, t.length.toLong) }
    }
    val df = docs.toDF("doc_id", "lang", "text", "n_chars")
    val seg = DedupOps.editDistancePairsSegmented(df, "doc_id", "text",
        "lang", "n_chars", prefixLen = 24, maxDist = 5, lenSlack = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val a = df.select($"doc_id".as("ia"), $"n_chars".as("na"), $"text".as("ta"))
    val b = df.select($"doc_id".as("ib"), $"n_chars".as("nb"), $"text".as("tb"))
    val brute = a.crossJoin(b)
      .filter($"ia" < $"ib" && abs($"na" - $"nb") <= 4)
      .withColumn("d", levenshtein(substring($"ta", 1, 24), substring($"tb", 1, 24)))
      .filter($"d" <= 5).select($"ia", $"ib", $"d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(seg === brute,
      s"missing=${brute.diff(seg).take(5)} extra=${seg.diff(brute).take(5)} (|brute|=${brute.size})")
    assert(brute.size > 50, s"corpus must exercise the blocking (got ${brute.size} pairs)")
  }

  test("gridRadiusJoin: 3x3 neighborhood equals brute force across cell boundaries") {
    import graft.ops.GeoOps
    // pairs straddling cell edges and corners (grid=1, eps=1), one exactly
    // at distance eps (inclusive), negatives (floor, not truncate), one far
    val pts = Seq(
      (1L, 0.95, 0.95), (2L, 1.05, 1.05),   // diagonal corner straddle
      (3L, 0.0, 0.0), (4L, 0.0, 1.0),       // exactly eps apart (inclusive)
      (5L, -0.5, -0.5), (6L, -1.2, -0.5),   // negative coords, adjacent cells
      (7L, 50.0, 50.0)).toDF("id", "lat", "lon")
    val got = GeoOps.gridRadiusJoin(pts, pts, "id", "lat", "lon",
        eps = 1.0, gridSize = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = pts.select($"id".as("qa"), $"lat".as("la"), $"lon".as("lo"))
    val b = pts.select($"id".as("qb"), $"lat".as("lb"), $"lon".as("lb2"))
    val brute = a.crossJoin(b).filter($"qa" =!= $"qb" &&
        ($"la" - $"lb") * ($"la" - $"lb") + ($"lo" - $"lb2") * ($"lo" - $"lb2") <= 1.0)
      .select($"qa", $"qb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === brute, s"got $got vs brute $brute")
    assert(got.contains((1L, 2L)) && got.contains((3L, 4L)) && got.contains((5L, 6L)))
    assert(!got.exists(p => p._1 == 7L || p._2 == 7L))
  }

  test("DataQuality: row checks share one scan; uniqueness and FK count exactly") {
    import graft.ops.DataQuality._
    val child = Seq((1L, Some(10L), 5.0), (2L, Some(10L), -1.0),
      (3L, Some(99L), 2.0), (4L, None, 3.0), (2L, Some(11L), 7.0))
      .toDF("id", "fk", "v")
    val parent = Seq(10L, 11L).toDF("pk")
    val report = audit(Seq(
      rowChecks(child, "child", Seq(
        "v_range" -> !col("v").between(0.0, 6.0),
        "null_fk" -> col("fk").isNull)),
      uniqueness(child, "child", Seq("id")),
      refIntegrity(child, "child", "fk", parent, "pk")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(report("child.v_range") === ((2L, 5L)))    // -1.0 and 7.0
    assert(report("child.null_fk") === ((1L, 5L)))
    assert(report("child.unique_id") === ((2L, 5L)))  // both id=2 rows count
    assert(report("child.fk_fk") === ((2L, 5L)))      // orphan 99 + the null
    // one-scan contract: the row-local report must come from a single
    // aggregate over the table (no scan-per-constraint fan-out)
    val plan = rowChecks(child, "child", Seq(
      "a" -> (col("v") < 0), "b" -> col("fk").isNull, "c" -> (col("id") > 3)))
      .queryExecution.optimizedPlan
    val scans = plan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l }
    assert(scans.size === 1, s"expected one scan, got ${scans.size}")
  }

  test("skipGramPairs: windowed canonical pairs, hand-computed counts") {
    val corpus = Seq((1L, "a b c a"), (2L, "b a"), (3L, "z"), (4L, ""))
      .toDF("doc_id", "text")
    // doc1 [a b c a], w=2: (a,b)(a,c)(b,c)(b,a)(c,a) → "a b"×2 "a c"×2 "b c"×1
    // doc2 [b a] → "a b"; docs 3/4 generate nothing (< 2 tokens)
    val out = TextOps.skipGramPairs(corpus, "text", window = 2, minCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map(("a", "b") -> 3L, ("a", "c") -> 2L, ("b", "c") -> 1L))
    val cut = TextOps.skipGramPairs(corpus, "text", window = 2, minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(cut === Set(("a", "b"), ("a", "c")))
  }

  test("overlapViaBins: overlap semantics, touching excluded, pairs unique") {
    val left = Seq((1L, 0L, 10L), (2L, 8L, 12L), (3L, 20L, 25L))
      .toDF("id_a", "lo_a", "hi_a")
    val right = Seq((10L, 5L, 9L), (11L, 10L, 30L), (12L, 24L, 26L))
      .toDF("id_b", "lo_b", "hi_b")
    // binWidth 5 makes every interval span >1 bin — the owner-bin rule is
    // what keeps each pair single; a regression shows up as duplicates
    val rows = graft.ops.RangeJoin.overlapViaBins(
        left, "lo_a", "hi_a", right, "lo_b", "hi_b", binWidth = 5L)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(rows.size === rows.toSet.size, s"duplicate pairs in $rows")
    // [0,10)×[10,30) touch at 10 — half-open intervals do NOT overlap
    assert(rows.toSet === Set((1L, 10L), (2L, 10L), (2L, 11L),
      (3L, 11L), (3L, 12L)))
    // empty interval [6,6) inside [5,9): set semantics says no match
    // (the naive a.lo<b.hi AND b.lo<a.hi predicate would wrongly say yes)
    val withEmpty = Seq((9L, 6L, 6L)).toDF("id_a", "lo_a", "hi_a")
    assert(graft.ops.RangeJoin.overlapViaBins(
      withEmpty, "lo_a", "hi_a", right, "lo_b", "hi_b", binWidth = 5L)
      .count() === 0L)
    // keyed form: same intervals only match under equal keys
    val lk = Seq((1L, 0L, 10L, "u1"), (2L, 0L, 10L, "u2"))
      .toDF("id_a", "lo_a", "hi_a", "k_a")
    val rk = Seq((10L, 5L, 9L, "u1")).toDF("id_b", "lo_b", "hi_b", "k_b")
    val keyed = graft.ops.RangeJoin.overlapViaBins(
        lk, "lo_a", "hi_a", rk, "lo_b", "hi_b", binWidth = 5L,
        keys = Seq("k_a" -> "k_b"))
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keyed === Set((1L, 10L)))
  }

  test("overlapViaBins: randomized intervals equal the naive predicate join") {
    // 150×150 random non-empty intervals, lengths 1-40 over [0,400) with a
    // binWidth (16) far from any length — bins both under- and over-sized
    // relative to intervals, so expansion and the owner-bin rule both get
    // exercised off the happy path
    val rnd = new scala.util.Random(31)
    def mk(n: Int, tag: String) = (0 until n).map { i =>
      val lo = rnd.nextInt(400).toLong
      (tag match { case "a" => i.toLong; case _ => 1000L + i },
        lo, lo + 1 + rnd.nextInt(40))
    }
    val l = mk(150, "a").toDF("id_a", "lo_a", "hi_a")
    val r = mk(150, "b").toDF("id_b", "lo_b", "hi_b")
    val got = graft.ops.RangeJoin.overlapViaBins(
        l, "lo_a", "hi_a", r, "lo_b", "hi_b", binWidth = 16L)
      .select(col("id_a"), col("id_b"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toList
    assert(got.size === got.toSet.size, "owner-bin rule must not duplicate")
    val naive = l.crossJoin(r)
      .filter(col("lo_a") < col("hi_b") && col("lo_b") < col("hi_a"))
      .select(col("id_a"), col("id_b"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got.toSet === naive, s"|naive|=${naive.size} |got|=${got.size}")
    assert(naive.size > 500, s"fixture must exercise the join (${naive.size})")
  }

  test("skipGramPairs: randomized corpus equals a naive Scala count") {
    val rnd = new scala.util.Random(37)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val docsL = (0 until 80).map { i =>
      (i.toLong, (0 until rnd.nextInt(12)).map(_ => vocab(rnd.nextInt(5)))
        .mkString(" "))
    }
    val w = 3
    val naive = docsL.flatMap { case (_, t) =>
      val ws = t.trim.split("\\s+").filter(_.nonEmpty)
      if (t.trim.isEmpty || ws.length < 2) Nil
      else for {
        i <- ws.indices; j <- (i + 1) to math.min(i + w, ws.length - 1)
      } yield (Seq(ws(i), ws(j)).min, Seq(ws(i), ws(j)).max)
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = TextOps.skipGramPairs(docsL.toDF("doc_id", "text"), "text", w, 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === naive, s"diff=${(got.toSet diff naive.toSet).take(5)}")
    assert(naive.values.sum > 500, "fixture must generate real volume")
  }

  test("rakeKeywords: islands, deg/freq scores, within-phrase duplicates") {
    // doc1 "red fox and blue fox" → islands [red fox], [blue fox]
    // doc2 "red fox runs" → [red fox runs]
    // doc3 "go go club" → [go go club] (duplicate word scored per position)
    // red: freq 2, deg 1+2=3 → 1500000; fox: freq 3, deg 4 → 1333333
    // blue: 1/1 → 1000000; runs: 1/2 → 2000000; go: 2/4 → 2000000; club: 1/2 → 2000000
    val corpus = Seq((1L, "red fox and blue fox"), (2L, "red fox runs"),
      (3L, "go go club"), (4L, "the a of"), (5L, ""))
      .toDF("doc_id", "text")
    val out = TextOps.rakeKeywords(corpus, "doc_id", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(
      "red fox" -> ((2, 1L, 2833333L)),
      "blue fox" -> ((2, 1L, 2333333L)),
      "red fox runs" -> ((3, 1L, 4833333L)),
      "go go club" -> ((3, 1L, 6000000L))))
  }

  test("GIF LZW codec: round trips across every code-width boundary") {
    import graft.ops.Gif
    def rt(px: Array[Int], w: Int): Unit = {
      val enc = Gif.encodeGif8(px, w)
      val (gw, gh, out) = Gif.decodeGif8(enc)
      val h = (px.length + w - 1) / w
      assert(gw === w && gh === h)
      assert(out.toSeq === px.padTo(w * h, 0).toSeq, s"round trip failed for n=${px.length}")
    }
    // KwKwK stress: constant and short-period runs hit code==next repeatedly
    rt(Array.fill(500)(7), 8)
    rt(Array.tabulate(300)(i => if (i % 2 == 0) 3 else 9), 8)
    // width growth 9->10 bits: needs > 254 dictionary adds
    val rnd = new scala.util.Random(42)
    rt(Array.fill(2000)(rnd.nextInt(256)), 16)
    // full 4096-slot table -> CLEAR cycle -> rebuild (random bytes add
    // ~1 entry/byte early, so 30k crosses the cap several times)
    rt(Array.fill(30000)(rnd.nextInt(256)), 64)
    // padding: last row zero-filled
    rt(Array.tabulate(10)(i => i + 1), 8)
    // structure: header magic, trailer, truncation rejected
    val enc = Gif.encodeGif8(Array(1, 2, 3), 3)
    assert(new String(enc.take(6), "US-ASCII") === "GIF87a")
    assert((enc.last & 0xff) === 0x3B)
    intercept[IllegalArgumentException] {
      Gif.decodeGif8(enc.take(enc.length - 10))
    }
    // 89a extension blocks are skipped: splice a graphic-control ext in
    val pre = enc.take(6 + 7 + 768) // header + LSD + palette
    val post = enc.drop(6 + 7 + 768)
    val ext = Array(0x21, 0xF9, 4, 0, 0, 0, 0, 0).map(_.toByte)
    val (_, _, px89) = Gif.decodeGif8(pre ++ ext ++ post)
    assert(px89.toSeq === Seq(1, 2, 3))
  }

  test("GIF frame sampling: skipped frames cost no decode and sampled ones are exact") {
    import graft.ops.Gif
    val rnd = new scala.util.Random(7)
    val frames = (0 until 6).map(_ => Array.fill(100)(rnd.nextInt(256)))
    val bytes = Gif.encodeGifAnim(frames, 8)
    val sampled = Gif.sampledFrameFeatures(bytes, stride = 3)
    assert(sampled.map(_._1) === Seq(0, 3))
    for ((fr, n, s) <- sampled) {
      val padded = frames(fr).padTo(104, 0) // 100 px at width 8 -> 13 rows
      assert(n === 104L && s === padded.map(_.toLong).sum)
    }
    // stride 1 decodes every frame; sums must match the inputs exactly
    val all = Gif.sampledFrameFeatures(bytes, stride = 1)
    assert(all.map(_._1) === (0 until 6))
    assert(all.map(_._3) === frames.map(_.map(_.toLong).sum))
    // a corrupted byte INSIDE an unsampled frame's LZW data must not
    // affect sampling that skips it: flip a byte in frame 1's data region
    val f0end = {
      // walk: header+LSD+palette, frame 0 block
      var p = 6 + 7 + 768
      p += 1 + 9 + 1 // 0x2C + descriptor + min code
      var n = bytes(p) & 0xff
      while (n != 0) { p += 1 + n; n = bytes(p) & 0xff }
      p + 1
    }
    val corrupted = bytes.clone()
    corrupted(f0end + 15) = (corrupted(f0end + 15) ^ 0x5a).toByte // inside frame 1
    val s2 = Gif.sampledFrameFeatures(corrupted, stride = 3)
    assert(s2.filter(_._1 == 0) === sampled.filter(_._1 == 0),
      "frame 0 unaffected by frame-1 corruption when frame 1 is skipped... " +
        "(frame 3 may differ only if the flipped byte were a length byte — it is not)")
  }

  test("kneserNeyScore: hand-computed rationals, backoff, zero-mass count") {
    // train "a b a b a c": c(a,b)=2 c(b,a)=2 c(a,c)=1; c(a)=3 c(b)=2;
    // N1+(a,.)=2 N1+(b,.)=1; N1+(.,b)=1 N1+(.,a)=1 N1+(.,c)=1; N1+(..)=3
    // test "a b c d": (a,b) p=(5*3+3*2*1)/(4*3*3)=21/36; (b,c) p=3/24;
    // (c,d) unseen ctx -> backoff num=N1+(.,d)=0 -> zero-mass
    val train = Seq((1L, "a b a b a c")).toDF("doc_id", "text")
    val test_ = Seq((10L, "a b c d")).toDF("doc_id", "text")
    val r = TextOps.kneserNeyScore(train, test_, "doc_id", "text").collect()
    assert(r.length === 1)
    val row = r(0)
    assert(row.getLong(1) === 3L && row.getLong(2) === 1L)
    val want = (BigDecimal(math.log(21.0 / 36.0)).setScale(10, BigDecimal.RoundingMode.HALF_UP)
      + BigDecimal(math.log(3.0 / 24.0)).setScale(10, BigDecimal.RoundingMode.HALF_UP)
      ).toDouble / 2
    assert(math.abs(row.getDouble(3) - want) < 1e-9)
  }

  test("rpProject: md5-seeded sign matrix, exact-grid linearity") {
    // values are binary fractions → the 1e6 floor grid is exact, so the
    // projection is literally linear over the quantized ints
    val corpus = Seq(
      (1L, Array(0.25f, 0.5f)),
      (2L, Array(0.75f, 0.25f)),
      (3L, Array(1.0f, 0.75f)) // = row1 + row2
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.rpProject(corpus, "vec_id", "embedding", nProj = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // hand recompute from the public sign function
    def expect(q: Seq[Long]): Seq[Long] =
      (0 until 4).map(j => (0 until 2).map(d => SimilarityOps.rpSign(j, d) * q(d)).sum)
    assert(out(1L) === expect(Seq(250000L, 500000L)))
    assert(out(2L) === expect(Seq(750000L, 250000L)))
    assert(out(3L) === out(1L).zip(out(2L)).map { case (a, b) => a + b })
  }

  test("gopherRules: per-rule integer flags, hand-computed") {
    // doc 1 passes every rule (55 words, mean len 219/55 in [3,10], two
    // stopwords); docs 2-8 each target one rule's failure shape
    val passDoc = (Seq.fill(53)("word") ++ Seq("the", "with")).mkString(" ")
    val bulletDoc = ((1 to 10).map(i => s"- item $i") :+ "plain tail line").mkString("\n")
    val corpus = Seq(
      (1L, passDoc),
      (2L, "just a few little words here"),                       // wordcount
      (3L, bulletDoc),                                            // bullet 10/11 > 90%
      (4L, "first line\nsecond trailing...\nthird trailing..."),  // ellipsis 2/3 > 30%
      (5L, "alpha beta gamma delta epsilon ##"),                  // symbols 2·10 > 6
      (6L, "1 2 3 4 5 the with alpha"),                           // alpha 3/8 < 80%
      (7L, "ab cd ef"),                                           // mean len 2 < 3
      (8L, "alpha beta gamma the")                                // one stopword
    ).toDF("doc_id", "text")
    val out = TextOps.gopherRules(corpus, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    def f(id: Long, name: String): Int = out(id).getAs[Int](name)
    assert(f(1, "keep") === 1 && out(1L).getAs[Long]("n_words") === 55L)
    assert(f(2, "f_wordcount") === 0)
    assert(f(3, "f_bullet") === 0 && out(3L).getAs[Long]("n_lines") === 11L)
    assert(f(4, "f_ellipsis") === 0)
    assert(f(5, "f_symbol") === 0)
    assert(f(6, "f_alpha") === 0)
    assert(f(7, "f_meanlen") === 0)
    assert(f(8, "f_stop") === 0)
    assert((2L to 8L).forall(id => f(id, "keep") === 0))
  }

  test("gridDbscan: adaptive core threshold, 8-adjacency merge, isolated core") {
    // cells (0,0):20, (0,1):20, (2,2):2, (5,5):2, (3,7):20 → N=64, C=5,
    // minPts = max(2, 3·64 div 10 + 1) = 20 → cores (0,0),(0,1),(3,7);
    // the first two are 8-adjacent (one cluster, min id 0), (3,7) isolated
    // labels itself (id 37); sparse cells are noise and absent
    val pts = Seq.fill(20)((0.5, 0.5)) ++ Seq.fill(20)((0.5, 1.5)) ++
      Seq.fill(2)((2.5, 2.5)) ++ Seq.fill(2)((5.5, 5.5)) ++
      Seq.fill(20)((3.5, 7.5))
    val df = pts.toDF("lat", "lon")
    val out = graft.ops.GeoOps.gridDbscan(df, "lat", "lon", cellSize = 1.0,
        latOrigin = 0.0, lonOrigin = 0.0, nx = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map((0L, 0L) -> ((20L, 0L)), (0L, 1L) -> ((20L, 0L)),
      (3L, 7L) -> ((20L, 37L))))
  }

  test("mon14 KS drift: hand-computed cross-multiplied statistic") {
    // ref (click) = [1,2,3], cur (view) = [2,3,3,4]:
    // pooled grid 1..4; |cum_v*3 - cum_c*4| = 4,5,3,0 → ks_num 5
    // → ks_bp = 5*10000 div 12 = 4166 (true KS 5/12)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ks-fixture").toString
    val rows =
      Seq(1.0 -> "click", 2.0 -> "click", 3.0 -> "click",
          2.0 -> "view", 3.0 -> "view", 3.0 -> "view", 4.0 -> "view")
    rows.zipWithIndex.map { case ((v, t), i) =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000), 1L, t, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("mon14_ks_drift")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out.keySet === Set("view"))
    assert(out("view") === ((4L, 3L, 4166L)))
  }

  test("x17 dedup weights: members weigh 10000 div size, singletons 10000") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("w-fixture").toString
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    Seq((1L, dup), (2L, dup), (3L, dup), (4L, "one two three four"))
      .map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("x17_dedup_weights")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) === ((3L, 3333L, 8L, 8L * 3333L)))
    assert(out(2L) === ((3L, 3333L, 8L, 8L * 3333L)))
    assert(out(3L) === ((3L, 3333L, 8L, 8L * 3333L)))
    assert(out(4L) === ((1L, 10000L, 4L, 40000L)))
  }

  test("c4 weighted mix: duplicate padding earns no extra mixture share") {
    // source u: 4 distinct 8-token docs → eff 4·8·10000 = 320000
    // source p: 4 COPIES of one 8-token doc → cluster of 4, weight 2500
    //   each → eff 80000 — exactly one doc's worth
    // √-temperature: w_u = 2·w_p exactly (sqrt(4x) = 2·sqrt(x) in IEEE),
    // so c4's 300 seats split 200/100 with zero remainders — pinned exactly
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("c4-fixture").toString
    val uniq = (0 until 4).map(i =>
      (1L + i, (0 until 8).map(j => s"u${i}w$j").mkString(" "), "u"))
    val dupText = (0 until 8).map(j => s"pw$j").mkString(" ")
    val padded = (0 until 4).map(i => (11L + i, dupText, "p"))
    (uniq ++ padded).map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("c4_weighted_mix")(spark, dir).collect()
    val byCols = out.map(r => (r.getString(0), r.getLong(1), r.getInt(2).toLong,
      r.getLong(3), r.getLong(4)))
    val quotas = byCols.map(t => t._1 -> t._5).toMap
    val effs = byCols.map(t => t._1 -> t._4).toMap
    assert(effs === Map("u" -> 320000L, "p" -> 80000L))
    assert(quotas === Map("u" -> 200L, "p" -> 100L))
    // quotas exceed the tiny strata, so every doc is picked — the pinned
    // fact is the SHARE (2:1 despite equal raw doc counts)
    assert(byCols.count(_._1 == "u") === 4 && byCols.count(_._1 == "p") === 4)
  }

  test("marginMining: rank-1 per source by ratio margin, zero vecs dropped") {
    val df = Seq(
      (1L, Array(1f, 0.01f)),  // src A — best target is 10 (near-parallel)
      (2L, Array(0.01f, 1f)),  // src B — best target is 11
      (3L, Array(0f, 0f)),     // zero vector: filtered, never emitted
      (10L, Array(1f, 0f)),
      (11L, Array(0.01f, 1f)),
      (12L, Array(0.7f, 0.7f))).toDF("vec_id", "embedding")
    val out = SimilarityOps.marginMining(df, "vec_id", "embedding",
        col("vec_id") < 10, col("vec_id") >= 10, k = 2, signDims = 1,
        minMargin = 0.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet === Set(1L, 2L), s"one row per live source: $out")
    assert(out(1L) === 10L && out(2L) === 11L)
    // a high minMargin empties the result rather than erroring
    val none = SimilarityOps.marginMining(df, "vec_id", "embedding",
        col("vec_id") < 10, col("vec_id") >= 10, k = 2, signDims = 1,
        minMargin = 99.0).count()
    assert(none === 0L)
  }

  test("misRounds: independence, removal witnesses, maximality on convergence, partitioning-independence") {
    import graft.ops.GraphOps
    val rnd = new scala.util.Random(42)
    val n = 120
    val edges = (1 to 400).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val nodes = (0L until n.toLong).toDF("id")
    val edgeDf = edges.toDF("src", "dst")
    val out = GraphOps.misRounds(nodes, edgeDf, "id", "src", "dst", rounds = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out.size === n, "every node decided or active")
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    val sel = out.collect { case (id, ("selected", _)) => id }.toSet
    // independence: no two selected nodes adjacent
    assert(!und.exists { case (a, b) => sel(a) && sel(b) },
      "selected set is independent")
    // every removed node has a selected neighbor DECIDED NO LATER than it
    out.collect { case (id, ("removed", r)) => (id, r) }.foreach { case (id, r) =>
      assert(und.exists { case (a, b) => a == id && sel(b) &&
        out(b)._2 <= r }, s"removed $id has a selected witness")
    }
    // 8 rounds on 120 nodes: converged — no actives, and the set is MAXIMAL
    // (every non-selected node is adjacent to a selected one)
    assert(!out.values.exists(_._1 == "active"), "converged in 8 rounds")
    out.keys.filterNot(sel).foreach { id =>
      assert(und.exists { case (a, b) => a == id && sel(b) },
        s"non-selected $id has a selected neighbor (maximality)")
    }
    // determinism: a different physical partitioning yields the same result
    val out2 = GraphOps.misRounds(nodes.repartition(7), edgeDf.repartition(5),
        "id", "src", "dst", rounds = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out2 === out, "partitioning-independent")
  }

  test("a31 Holt-Winters fold matches the hand-computed recursion") {
    val dir = tmpDir("hw-fix")
    // one event per day, value in dollars → daily cents 10, 20, 30
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "view", 0.10, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 1L, "view", 0.20, "{}"),
      (3L, java.sql.Timestamp.valueOf("2024-01-03 00:00:00"), 1L, "view", 0.30, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("a31_holt_winters")(spark, dir).collect()
    assert(r.length === 1)
    val row = r.head
    // by hand: l0=10,b0=0 → y=20: l=15, b=1.25, s[1]=1.25
    //          y=30: l=.5*30+.5*16.25=23.125, b=.25*8.125+.75*1.25=2.96875,
    //                s[2]=.25*(30-23.125)=1.71875
    // f1 = 23.125 + 2.96875 + s[(3%7)] = 26.09375 (s slot 0-based 3 = 0)
    assert(row.getAs[Int]("n_days") === 3)
    assert(row.getAs[String]("level_r") === "23.1250")
    assert(row.getAs[String]("trend_r") === "2.9688")
    assert(row.getAs[String]("f1_r") === "26.0938")
  }
}
