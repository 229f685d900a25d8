package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over embedding columns
  * (`array<float>`).
  *
  * Brute force is the correctness baseline: broadcast the (small) query set,
  * score every corpus row, per-query top-k via a partitioned window. One
  * broadcast + one shuffle on query_id; corpus is streamed, never collected.
  *
  * The scale path is IVF-style partition pruning ([[ivfTopK]]): assign every
  * corpus vector to its nearest centroid (one pass), then probe only the
  * `nprobe` closest centroids per query — at 100 TB this turns a full-corpus
  * scan into reading ~nprobe/nlist of the data, and the centroid assignment
  * doubles as a physical partitioning key for the stored table.
  */
object SimilarityOps {

  /** Dot product of two double-array columns (sequential fold — deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** L2 norm of a double-array column. */
  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  /** Cosine similarity via composable higher-order functions — kept as the
    * reference implementation; lambdas evaluate interpreted and break
    * whole-stage codegen on the scoring hot loop. */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine similarity — native codegen'd expression, numerically identical
    * to [[cosineHof]] (left-to-right accumulation, dot/(√na·√nb)). */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.cosineSim(a, b)

  /** Non-degenerate-vector predicate: a zero-norm vector (padding row,
    * failed encoder) makes cosine NaN, and Spark sorts NaN as the LARGEST
    * double — an unguarded zero vector would rank #1 for every query. All
    * scoring entry points filter on this. */
  private def nonZero(v: Column): Column =
    aggregate(transform(v, x => x * x), lit(0.0), (acc, x) => acc + x) > 0

  /** Public form of the zero-norm guard, for callers that must mirror the
    * same node-admission predicate the scoring entry points apply (e.g. a
    * graph spine over the k-NN relation). */
  def isNonZero(v: Column): Column = nonZero(v)

  /** Brute-force cosine top-k: for each row of `queries`, the k most similar
    * rows of `corpus` (self-matches by id are excluded; zero-norm vectors on
    * either side are dropped).
    *
    * @return (query_id, rank, neighbor_id, sim) — ties broken by neighbor id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")).filter(nonZero(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv")).filter(nonZero(col("cv")))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Exact maximum-inner-product top-k (the retrieval objective when
    * embeddings carry meaningful magnitude — recommender/reranker scores —
    * where cosine's normalization would erase it). Same broadcast-queries /
    * streamed-corpus shape as [[bruteForceTopK]]; ranks by the raw dot
    * product, ties by neighbor id. No zero-norm guard needed: a dot product
    * can't go NaN on finite inputs. */
  def mipsTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), dot(col("qv"), col("cv")).as("ip"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("ip").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("ip"))
  }

  /** Squared-L2 fold shared by the MIPS augmentation and [[nonZero]]. */
  private def normSq(v: Column): Column =
    aggregate(transform(v, x => x * x), lit(0.0), (acc, x) => acc + x)

  /** EXACT MIPS with norm-band pruning — the remedy for the vanilla
    * augmentation's routing weakness that s14 measures: since
    * ip(q,x) ≤ ‖q‖·‖x‖, whole norm bands are skippable once a lower bound
    * on the kth-best inner product is known (the LEMP/FEXIPRO family's
    * core bound, relationally).
    *
    * Phase 1 scores only the TOP band (highest norms — where top-k mass
    * concentrates) and takes its kth-best ip as the per-query bound τ.
    * Phase 2 scans only bands with ‖q‖·maxNorm(band) ≥ τ — every pruned
    * vector satisfies ip ≤ ‖q‖·maxNorm < τ ≤ global kth-best, so the
    * result is EXACTLY [[mipsTopK]]'s, ties included (a vector tied at τ
    * always survives the ≥ comparison). Queries with fewer than k top-band
    * candidates fall back to τ = −∞ (scan everything) rather than prune
    * unsoundly.
    *
    * Banding is by fixed norm² thresholds relative to the corpus max
    * (floor(nBands·‖x‖²/M²)) — one mirrored IEEE chain, NO global sort or
    * ntile. At 100 TB the bands are the partition layout: most queries
    * read only the high-norm partitions, and the band plan itself is
    * metadata-sized (|Q|·nBands rows).
    *
    * [[mipsBandPlan]] exposes the per-query keep/skip decisions so tests
    * (and operators) can assert pruning actually engaged. */
  def mipsTopKBanded(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, nBands: Int = 4): DataFrame = {
    val (banded, plan) = bandPlan(corpus, queries, idCol, vecCol, k, nBands)
    val cand = banded.join(broadcast(plan.filter(col("kept"))
        .select(col("band"), col("query_id"), col("qv"))), Seq("band"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), dot(col("qv"), col("cv")).as("ip"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("ip").desc, col("neighbor_id"))
    cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("ip"))
  }

  /** The per-query band keep/skip plan of [[mipsTopKBanded]]:
    * (query_id, band, kept). */
  def mipsBandPlan(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int, nBands: Int = 4): DataFrame =
    bandPlan(corpus, queries, idCol, vecCol, k, nBands)._2
      .select(col("query_id"), col("band"), col("kept"))

  private def bandPlan(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int, nBands: Int) = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("nsq", normSq(col("cv")))
    val m2 = c.agg(max(col("nsq")).as("m2"))
    val banded = c.crossJoin(broadcast(m2))
      .withColumn("band", least(lit(nBands - 1),
        floor(col("nsq") * nBands / col("m2"))).cast("int"))
      .drop("m2")
    val bandMax = banded.groupBy(col("band")).agg(sqrt(max(col("nsq"))).as("bmax"))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", sqrt(normSq(col("qv"))))
    // phase 1: kth-best ip within the top band → per-query bound τ
    val top = banded.filter(col("band") === nBands - 1)
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), dot(col("qv"), col("cv")).as("ip"))
    val wTau = Window.partitionBy(col("query_id")).orderBy(col("ip").desc, col("neighbor_id"))
    val tau = top.withColumn("r", row_number().over(wTau)).filter(col("r") === k)
      .select(col("query_id"), col("ip").as("tau"))
    val plan = q.join(tau, Seq("query_id"), "left")
      .crossJoin(broadcast(bandMax))
      .withColumn("kept", col("tau").isNull || col("qn") * col("bmax") >= col("tau"))
    (banded, plan)
  }

  /** Norm-augmentation reduction of MIPS to cosine search (Bachrach et al.,
    * RecSys 2014): append sqrt(M² − ‖x‖²) to every corpus vector, where
    * M = max corpus norm. Every augmented vector then has norm M, so for a
    * query augmented with a trailing 0 ([[mipsAugmentQueries]]),
    * cosine(q̃, x̃) = (q·x)/(‖q‖·M) — a per-query positive constant times
    * the inner product. Ordering by augmented cosine IS ordering by inner
    * product, which lets every cosine-ANN structure in this file (flat /
    * tiered IVF, PQ, the on-disk index) serve MIPS unchanged. The max-norm
    * pass is one narrow agg broadcast back onto the corpus — no shuffle of
    * vector data. */
  def mipsAugmentCorpus(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__ov"))
    val m2 = v.agg(max(normSq(col("__ov"))).as("__m2"))
    v.crossJoin(broadcast(m2))
      .select(col(idCol),
        concat(col("__ov"), array(sqrt(col("__m2") - normSq(col("__ov")))))
          .as(vecCol))
  }

  /** Query-side counterpart of [[mipsAugmentCorpus]]: a trailing exact 0,
    * which leaves both the dot product and the query norm bit-unchanged. */
  def mipsAugmentQueries(queries: DataFrame, idCol: String, vecCol: String): DataFrame =
    queries.select(col(idCol),
      concat(col(vecCol).cast("array<double>"), array(lit(0.0))).as(vecCol))

  /** IVF-style ANN: cluster the corpus once over `centroids` (id, vec), then
    * per query probe only the `nprobe` nearest centroids' partitions.
    * Approximate: recall depends on nprobe/centroid quality; exact within the
    * probed cells. */
  def ivfTopK(corpusAssigned: DataFrame, centroids: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame =
    scoreProbedCells(corpusAssigned,
      probeCells(queries, centroids, idCol, vecCol, nprobe), idCol, vecCol, k)

  /** The `nprobe` nearest centroids per query: (query_id, qv, centroid_id).
    * A tiny broadcast cross join — both sides are small by construction. */
  def probeCells(queries: DataFrame, centroids: DataFrame, idCol: String,
                 vecCol: String, nprobe: Int): DataFrame =
    probeCellsRanked(queries, centroids, idCol, vecCol, nprobe)
      .select(col("query_id"), col("qv"), col("centroid_id"))

  /** [[probeCells]] keeping the per-query cell rank:
    * (query_id, qv, centroid_id, r) with r ∈ 1..nprobe in the probe order
    * (cdist desc, centroid_id). One ranked probe set at the MAXIMUM depth
    * serves a whole nprobe sweep — each grid point is `r <= np` — so the
    * probed cells are scored once instead of once per grid point (s30). */
  def probeCellsRanked(queries: DataFrame, centroids: DataFrame, idCol: String,
                       vecCol: String, nprobe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")).filter(nonZero(col("qv")))
    val cent = centroids.select(col("centroid_id"),
      col("centroid_vec").cast("array<double>").as("cent_v"))
      .filter(nonZero(col("cent_v")))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("cdist").desc, col("centroid_id"))
    q.crossJoin(broadcast(cent))
      .withColumn("cdist", cosine(col("qv"), col("cent_v")))
      .withColumn("r", row_number().over(wq)).filter(col("r") <= nprobe)
      .select(col("query_id"), col("qv"), col("centroid_id"), col("r"))
  }

  /** Score the probed cells only: the broadcast join on centroid_id prunes
    * the corpus scan to ~nprobe/nlist of the data. Exact within the cells. */
  def scoreProbedCells(corpusAssigned: DataFrame, probes: DataFrame,
                       idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpusAssigned.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"), col("centroid_id"))
      .filter(nonZero(col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    c.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("sim"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Assign each corpus vector to its nearest centroid (cosine). Centroid set
    * must be broadcast-small (IVF nlist ~ sqrt(corpus)).
    *
    * Argmax by AGGREGATION, not window-top-1: a window over the exploded
    * N×nlist relation shuffles every scored row still carrying both vectors
    * (~KB each — at 100k×49 that is a multi-GB exchange, the most
    * spike-sensitive plan in the sf5 sweep), while the aggregate partial-
    * combines map-side so the exchange carries ONE narrow row per vector.
    * The struct ordering key and the array-typed `first` buffer make this a
    * SortAggregate — acceptable: the crossJoin emits each vector's nlist
    * scored rows CONSECUTIVELY, so the partial agg's sort sees pre-sorted
    * runs (near-linear), and the property that matters at scale — a narrow
    * exchange — still holds. Tie-break matches the window form exactly:
    * best csim, then smallest centroid_id (the ordering key sees the
    * negated id; unique ids make it total, so the result is
    * deterministic). */
  def assignToCentroids(corpus: DataFrame, centroids: DataFrame,
                        idCol: String, vecCol: String): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol),
      col(vecCol).cast("array<double>").as("__v")).filter(nonZero(col("__v")))
    val cent = centroids.select(col("centroid_id"),
      col("centroid_vec").cast("array<double>").as("cent_v"))
      .filter(nonZero(col("cent_v")))
    c.crossJoin(broadcast(cent))
      .select(col(idCol), col(vecCol),
        col("centroid_id"),
        struct(cosine(col("__v"), col("cent_v")).as("csim"),
          (-col("centroid_id")).as("nid")).as("__s"))
      .groupBy(col(idCol))
      .agg(first(col(vecCol)).as(vecCol),
        max_by(col("centroid_id"), col("__s")).as("centroid_id"))
      .select(col(idCol), col(vecCol), col("centroid_id"))
  }

  // ---- two-tier coarse quantizer ----------------------------------------
  //
  // [[assignToCentroids]] requires the centroid set to be broadcast-small —
  // fine for nlist <= 64, but real IVF wants nlist ~ sqrt(N), which at
  // 100 TB is 10^5..10^6 centroids: megabytes-to-gigabytes of vectors that
  // must NOT broadcast, and a per-row assign cost (N·nlist) that must not
  // grow linearly with nlist. The two-tier quantizer lifts both limits:
  //
  //   tier 1: `topCentroids` (~sqrt(nlist), pinned broadcast-small) route
  //           each vector to its `probeTop` nearest top cells — same
  //           narrow-exchange aggregation shape as the flat argmax;
  //   tier 2: the FULL centroid set is grouped by top cell and
  //           shuffle-joined (salted) against the routed vectors — the
  //           centroid relation flows through an exchange like any other
  //           table, never through a broadcast.
  //
  // Per-row cost: nlist1 + probeTop·(nlist/nlist1) ≈ 2·sqrt(nlist) instead
  // of nlist — FLAT in nlist for fixed nlist1 ratio (sweep-verified, see
  // docs/PLANS.md). Approximation contract: a vector's candidate set is
  // the centroids of its probeTop nearest top cells; with probeTop = nlist1
  // the candidate set is every centroid and the result is IDENTICAL to the
  // flat assign (same tie-break). With probeTop < nlist1 a vector whose
  // true nearest centroid lives outside its probed top cells may assign
  // differently — standard hierarchical-IVF recall behavior.

  /** Route each row of `rows` to its `probeTop` nearest top-level cells:
    * (idCol, vecCol, __v, top_id), probeTop rows per input row.
    *
    * Top-P by AGGREGATION, not window (the r8 lesson): collect_list gathers
    * the nlist1 per-row (csim, top_id) structs — map-side-complete because
    * the crossJoin emits them consecutively — so the exchange carries ONE
    * row per vector with a <= nlist1-element array of 16-byte structs, never
    * nlist1 wide vector-carrying rows. Tie-break matches the flat assign:
    * best csim, then smallest top_id. */
  private def routeToTop(rows: DataFrame, topCentroids: DataFrame,
                         idCol: String, vecCol: String, probeTop: Int): DataFrame = {
    val r = rows.select(col(idCol), col(vecCol),
      col(vecCol).cast("array<double>").as("__v")).filter(nonZero(col("__v")))
    val top = topCentroids.select(col("top_id"),
      col("top_vec").cast("array<double>").as("__tv")).filter(nonZero(col("__tv")))
    r.crossJoin(broadcast(top))
      .select(col(idCol), col(vecCol), col("__v"),
        struct(cosine(col("__v"), col("__tv")).as("csim"),
          (-col("top_id")).as("nid"), col("top_id").as("tid")).as("__s"))
      .groupBy(col(idCol))
      .agg(first(col(vecCol)).as(vecCol), first(col("__v")).as("__v"),
        slice(reverse(array_sort(collect_list(col("__s")))), 1, probeTop).as("__probes"))
      .select(col(idCol), col(vecCol), col("__v"), explode(col("__probes")).as("__p"))
      .select(col(idCol), col(vecCol), col("__v"), col("__p.tid").as("top_id"))
  }

  /** Group the full centroid set by top cell: (centroid_id, centroid_vec,
    * top_id). Contract: `topCentroids` must be a subset of `centroids` by
    * id — each top centroid is PINNED to its own cell (not re-routed), so
    * every top cell holds at least one centroid and the tiered assign can
    * never drop a vector the flat assign would keep. */
  def groupCentroidsByTop(centroids: DataFrame, topCentroids: DataFrame): DataFrame = {
    val topIds = topCentroids.select(col("top_id").as("centroid_id"))
    val nonTop = centroids.join(broadcast(topIds), Seq("centroid_id"), "left_anti")
    routeToTop(nonTop.select(col("centroid_id"), col("centroid_vec")),
        topCentroids, "centroid_id", "centroid_vec", probeTop = 1)
      .select(col("centroid_id"), col("centroid_vec"), col("top_id"))
      .unionByName(topCentroids.select(col("top_id").as("centroid_id"),
        col("top_vec").as("centroid_vec"), col("top_id")))
  }

  /** Two-tier nearest-centroid assign — the scale form of
    * [[assignToCentroids]] (same output schema, same tie-break). The
    * second-level join is salted `saltFactor` ways (the tiny centroid side
    * is exploded, each vector picks one deterministic salt) so parallelism
    * is nlist1·saltFactor, not capped at the nlist1 distinct join keys. */
  def assignToCentroidsTiered(corpus: DataFrame, centroids: DataFrame,
                              topCentroids: DataFrame, idCol: String, vecCol: String,
                              probeTop: Int = 2, saltFactor: Int = 8): DataFrame = {
    val centByTop = groupCentroidsByTop(centroids, topCentroids)
      .select(col("centroid_id"), col("centroid_vec").cast("array<double>").as("cent_v"),
        col("top_id"))
      .withColumn("__salt", explode(array((0 until saltFactor).map(lit): _*)))
    val routed = routeToTop(corpus, topCentroids, idCol, vecCol, probeTop)
      .withColumn("__salt", pmod(xxhash64(col(idCol)), lit(saltFactor)).cast("int"))
    routed.join(centByTop, Seq("top_id", "__salt"))
      .select(col(idCol), col(vecCol), col("centroid_id"),
        struct(cosine(col("__v"), col("cent_v")).as("csim"),
          (-col("centroid_id")).as("nid")).as("__s"))
      .groupBy(col(idCol))
      .agg(first(col(vecCol)).as(vecCol),
        max_by(col("centroid_id"), col("__s")).as("centroid_id"))
      .select(col(idCol), col(vecCol), col("centroid_id"))
  }

  /** Two-tier query probe — the scale form of [[probeCells]]: candidates
    * come from the query's `probeTop` nearest top cells via the grouped
    * centroid relation (shuffle join), never a broadcast of the full
    * centroid set. Same output schema and tie-break as [[probeCells]]. */
  def probeCellsTiered(queries: DataFrame, centroids: DataFrame, topCentroids: DataFrame,
                       idCol: String, vecCol: String, nprobe: Int,
                       probeTop: Int = 2): DataFrame = {
    val centByTop = groupCentroidsByTop(centroids, topCentroids)
      .select(col("centroid_id"), col("centroid_vec").cast("array<double>").as("cent_v"),
        col("top_id"))
    val routed = routeToTop(queries, topCentroids, idCol, vecCol, probeTop)
      .select(col(idCol).as("query_id"), col("__v").as("qv"), col("top_id"))
    routed.join(centByTop, Seq("top_id"))
      .select(col("query_id"), col("qv"),
        struct(cosine(col("qv"), col("cent_v")).as("csim"),
          (-col("centroid_id")).as("nid"), col("centroid_id").as("cid")).as("__s"))
      .groupBy(col("query_id"))
      .agg(first(col("qv")).as("qv"),
        slice(reverse(array_sort(collect_list(col("__s")))), 1, nprobe).as("__probes"))
      .select(col("query_id"), col("qv"), explode(col("__probes")).as("__p"))
      .select(col("query_id"), col("qv"), col("__p.cid").as("centroid_id"))
  }

  /** IVF top-k with the two-tier quantizer on the probe side; scoring is the
    * unchanged [[scoreProbedCells]] partition-pruned scan. */
  def ivfTopKTiered(corpusAssigned: DataFrame, centroids: DataFrame,
                    topCentroids: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int, nprobe: Int,
                    probeTop: Int = 2): DataFrame =
    scoreProbedCells(corpusAssigned,
      probeCellsTiered(queries, centroids, topCentroids, idCol, vecCol, nprobe, probeTop),
      idCol, vecCol, k)

  /** EXACT cosine range search (all corpus vectors with sim ≥ `tau` per
    * query) with provably LOSSLESS IVF cell pruning — the radius-query twin
    * of [[ivfTopK]], whose fixed-`nprobe` probing is approximate. The
    * spherical triangle inequality gives, for any x in a cell with centroid
    * c: angle(q,x) ≥ angle(q,c) − max_cell_angle(c,·), so
    *   cos(q,x) ≤ ca·cb + √(1−ca²)·√(1−cb²)   (ca = cos(q,c), cb = the
    * cell's min member cosine — its angular radius), and = 1 when q lies
    * inside the cap. Cells whose bound (plus a 1e-9 slack that dominates
    * the ~1e-13 fp error of the dot/sqrt chain, so rounding can never
    * cause a false dismissal) is below τ cannot contain a match and are
    * skipped WITHOUT loss: the result equals brute force by mathematics,
    * not by recall luck — which is exactly why its oracle can be the naive
    * τ-threshold scan.
    *
    * Scale shape: per-cell radii are one narrow aggregate over the
    * assigned relation; the (query × surviving-cell) probe relation is
    * metadata-sized and broadcast; only surviving cells' members are
    * scored. Selective τ at 100 TB ⇒ most cells never leave the parquet
    * scan (partition-pruned in the on-disk IVF layout, same as s4). */
  def rangeSearch(corpusAssigned: DataFrame, centroids: DataFrame,
                  queries: DataFrame, idCol: String, vecCol: String,
                  tau: Double): DataFrame = {
    val c = corpusAssigned.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"), col("centroid_id"))
      .filter(nonZero(col("cv")))
    val cent = centroids.select(col("centroid_id"),
      col("centroid_vec").cast("array<double>").as("cent_v"))
      .filter(nonZero(col("cent_v")))
    val radius = c.join(broadcast(cent), "centroid_id")
      .groupBy(col("centroid_id"))
      .agg(min(cosine(col("cv"), col("cent_v"))).as("cb"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")).filter(nonZero(col("qv")))
    val probes = q.crossJoin(broadcast(cent.join(radius, "centroid_id")))
      .withColumn("ca", cosine(col("qv"), col("cent_v")))
      .withColumn("bound", when(col("ca") >= col("cb"), lit(1.0))
        .otherwise(col("ca") * col("cb") +
          sqrt(lit(1.0) - col("ca") * col("ca")) *
            sqrt(lit(1.0) - col("cb") * col("cb"))))
      .filter(col("bound") + lit(1e-9) >= tau)
      .select(col("query_id"), col("qv"), col("centroid_id"))
    c.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("sim"))
      .filter(col("sim") >= tau)
  }

  /** Embedding-cosine near-duplicate pairs above a similarity threshold,
    * bucketed by SimHash-of-embedding-signs (random-hyperplane LSH without
    * randomness: the sign pattern of selected dimensions is the bucket key,
    * so only same-bucket pairs are compared).
    *
    * The two scale knobs, both surfaced at the query level:
    *   - `signDims` — bucket-key bits. More bits → smaller buckets → a
    *     cheaper self-join but lower recall (a near-dup pair flipping any
    *     keyed sign lands in different buckets).
    *   - `rotations` — multi-probe: rotation `r` buckets on dims
    *     `[r·signDims, (r+1)·signDims)`; a pair is a candidate if ANY
    *     rotation collides. Recall lost to a sign flip in one rotation is
    *     recovered by the others, at `rotations`× bucketing cost — the
    *     standard banding trade (P[miss] = Π_r P[flip in rotation r]).
    *
    * Candidate id pairs are DISTINCT'd before the vectors are joined back
    * for scoring (multi-probe collides the same pair in several rotations;
    * wide rows must exist once per candidate, not once per collision). */
  def embeddingNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, signDims: Int = 8,
                            rotations: Int = 1): DataFrame = {
    val v = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .filter(nonZero(col("v")))
    signBucketScoredPairs(v, signDims, rotations)
      .filter(col("sim") >= threshold)
  }

  /** Margin-based cross-set pair mining (the ratio margin of Artetxe &
    * Schwenk 2019 — the standard parallel-corpus / bitext mining scorer):
    * candidate pairs come from sign-LSH co-bucketing restricted to
    * src × tgt, and each candidate's cosine is normalized by the mean of
    * the two endpoints' top-k candidate similarities —
    * `margin(x,y) = cos(x,y) / ((meanₖ(x) + meanₖ(y)) / 2)` — so a pair
    * only wins when it is closer than each endpoint's OTHER neighbors
    * (absolute-cosine thresholds can't separate hubs from true pairs).
    * Emits each source's rank-1 target with margin ≥ `minMargin`.
    *
    * Determinism contract (the g1 floor-grid discipline): cosines are
    * floored onto the 1e10 integer grid at candidate time; top-k selection
    * orders by (s_e10 DESC, id) — pure integer ordering; the denominator
    * means are exact integer sums ÷ exact counts; the margin double is then
    * computed from integers only, via the same IEEE expression shape on both
    * engines, so even the final margin ordering is bit-identical.
    *
    * Scale shape: the candidate relation is LSH-bounded exactly like d5
    * (never |src|·|tgt|); the two top-k means are WindowGroupLimit passes
    * over candidates keyed by each endpoint; the margin join is keyed on
    * endpoint ids. At 100 TB the retrieval stage swaps to the IVF path and
    * the margin re-score is unchanged — the denominator is DEFINED over
    * whatever the retrieval stage returned (that is how FAISS-based mining
    * pipelines compute it too, k-NN-over-candidates, not k-NN-over-corpus).
    *
    * @return (src_id, tgt_id, s_e10, margin) — margin > 0 only kept when
    *         both endpoint means are positive (a non-positive denominator
    *         flips the ratio's sign and means the neighborhood is junk). */
  def marginMining(corpus: DataFrame, idCol: String, vecCol: String,
                   srcPred: Column, tgtPred: Column, k: Int, signDims: Int,
                   minMargin: Double): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val v = corpus.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"),
        srcPred.as("is_src"), tgtPred.as("is_tgt"))
      .filter(nonZero(col("v")))
    val bucket = concat_ws("", (0 until signDims).map(i =>
      when(col("v")(i) >= 0, lit("1")).otherwise(lit("0"))): _*)
    val keyed = v.withColumn("bucket", bucket)
    val cand = keyed.filter(col("is_src")).as("a")
      .join(keyed.filter(col("is_tgt")).as("b"), col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("src_id"), col("b.id").as("tgt_id"),
        floor(cosine(col("a.v"), col("b.v")) * lit(1e10)).cast("long").as("s_e10"))
    def topKMean(keyCol: String, otherCol: String, sumName: String, cntName: String) =
      cand.withColumn("rk", row_number().over(
          Window.partitionBy(col(keyCol)).orderBy(col("s_e10").desc, col(otherCol))))
        .filter(col("rk") <= k)
        .groupBy(col(keyCol))
        .agg(sum(col("s_e10")).as(sumName), count(lit(1)).as(cntName))
    val dS = topKMean("src_id", "tgt_id", "sum_s", "cnt_s")
    val dT = topKMean("tgt_id", "src_id", "sum_t", "cnt_t")
    val scored = cand.join(dS, "src_id").join(dT, "tgt_id")
      .withColumn("mean_sum",
        col("sum_s").cast("double") / col("cnt_s") +
        col("sum_t").cast("double") / col("cnt_t"))
      .filter(col("mean_sum") > 0)
      .withColumn("margin", col("s_e10").cast("double") * 2 / col("mean_sum"))
    scored.withColumn("rk", row_number().over(
        Window.partitionBy(col("src_id")).orderBy(col("margin").desc, col("tgt_id"))))
      .filter(col("rk") === 1 && col("margin") >= minMargin)
      .select(col("src_id"), col("tgt_id"), col("s_e10"), col("margin"))
  }

  /** Shared blocking+scoring core of [[embeddingNearDupPairs]] and
    * [[knnGraph]]: DISTINCT same-bucket (any rotation) candidate id pairs
    * (id_a < id_b), vectors joined back once per pair, cosine-scored. */
  private def signBucketScoredPairs(v: DataFrame, signDims: Int,
                                    rotations: Int): DataFrame = {
    def key(r: Int) = concat_ws("", (r * signDims until (r + 1) * signDims).map(i =>
      when(col("v")(i) >= 0, lit("1")).otherwise(lit("0"))): _*)
    val keyed = v.select(col("id"),
      posexplode(array((0 until rotations).map(key): _*)).as(Seq("rot", "bucket")))
    val pairs = keyed.as("a")
      .join(keyed.as("b"),
        col("a.rot") === col("b.rot") && col("a.bucket") === col("b.bucket"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    pairs
      .join(v.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(v.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"), cosine(col("va"), col("vb")).as("sim"))
  }

  /** Approximate k-NN GRAPH over the same sign-bucket blocking: for every
    * vector, its k most cosine-similar same-bucket candidates — the
    * all-nodes generalization of a per-query ANN search, and the input
    * structure of graph-based semdedup/clustering. Each undirected
    * candidate pair is scored ONCE and then serves both endpoints (cosine
    * is symmetric bit-for-bit: products and the norm product commute), so
    * the scoring cost is half the directed relation; the per-node top-k is
    * a WindowGroupLimit over candidates only — never N². Recall follows
    * the d5 knobs (signDims/rotations).
    *
    * @return (id, rank, nbr_id, sim), rank 1..k by (sim desc, nbr_id). */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
               signDims: Int = 8, rotations: Int = 1): DataFrame = {
    val v = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .filter(nonZero(col("v")))
    val scored = signBucketScoredPairs(v, signDims, rotations)
    val directed = scored
      .select(col("id_a").as("id"), col("id_b").as("nbr_id"), col("sim"))
      .unionByName(scored
        .select(col("id_b").as("id"), col("id_a").as("nbr_id"), col("sim")))
    val w = Window.partitionBy(col("id")).orderBy(col("sim").desc, col("nbr_id"))
    directed.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("id"), col("rank"), col("nbr_id"), col("sim"))
  }

  // ---- k-means (Lloyd) centroid training ---------------------------------

  /** Refine a centroid set by `iters` Lloyd iterations under the engine's
    * cosine metric (spherical k-means without the normalization step —
    * cosine is scale-invariant, so normalizing the means would change
    * nothing downstream): assign every vector to its nearest centroid (the
    * narrow-exchange argmax), then replace each centroid with the
    * element-wise MEAN of its assigned vectors. Cells that attract no
    * vectors are dropped (their centroid has no defined update); a mean
    * that cancels to the zero vector is dropped by the next iteration's
    * nonZero guard like any other degenerate centroid.
    *
    * Determinism contract: the per-element sums route through the exact
    * DECIMAL accumulator, so the means — and therefore every subsequent
    * assignment — are bit-reproducible at any parallelism and mirrorable
    * in oracle SQL (unrolled one CTE pair per iteration). Per iteration the
    * plan is the assign exchange plus two narrow aggregations (cells × dims
    * rows, then cells rows) — corpus-sized data crosses one exchange per
    * iteration, the k-means lower bound.
    *
    * @return (centroid_id, centroid_vec, n) — surviving cells, their
    *         refined mean vector, and the size of the cluster that
    *         produced it. */
  def kmeansRefine(corpus: DataFrame, init: DataFrame,
                   idCol: String, vecCol: String, iters: Int,
                   dims: Int = 0): DataFrame = {
    require(iters >= 1, "at least one Lloyd iteration")
    var cent = init.select(col("centroid_id"), col("centroid_vec"))
    var out: DataFrame = null
    for (i <- 0 until iters) {
      // lineage cut between iterations (the d6 CC pattern): the centroid
      // relation is cells-sized, so the checkpoint is cheap, and without it
      // iteration i re-derives every earlier assign inside one deep plan
      if (i > 0) cent = cent.localCheckpoint()
      val assigned = assignToCentroids(corpus, cent, idCol, vecCol)
      out = if (dims > 0) {
        // r14 opt (guide §2.3/§2.4, the pqCodebookRefine form): with a
        // FIXED vector width the per-dim means ride ONE centroid-keyed
        // exchange of `dims` decimal partial sums — no posexplode (dims×
        // fewer rows) and one exchange fewer per iteration. Identical
        // decimal accumulations over identical value sets and the same
        // double division, so the centroids are bit-identical; `n` equals
        // the per-dim count because every vector carries every dim, which
        // `n` checks in the same pass: a vector of another width fails the
        // job instead of yielding truncated or null-biased means (`get`
        // reads out-of-range dims as null, so this check reports it).
        val v = col(vecCol).cast("array<double>")
        val n = count(when(size(v) === dims, lit(1)).otherwise(raise_error(
          lit(s"kmeansRefine: a vector's width differs from dims = $dims"))))
        val aggs = n.as("n") +: (0 until dims).map(d =>
          sum(get(v, lit(d)).cast("decimal(30,10)")).cast("double").as(s"sx$d"))
        assigned.groupBy(col("centroid_id"))
          .agg(aggs.head, aggs.tail: _*)
          .select(col("centroid_id"),
            array((0 until dims).map(d => col(s"sx$d") / col("n")): _*)
              .as("centroid_vec"),
            col("n"))
      } else {
        // variable-width path (the executable spec the fast path is
        // tested against)
        val dimSums = assigned
          .select(col("centroid_id"),
            posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
          .groupBy(col("centroid_id"), col("dim"))
          .agg(Exact.sumD(col("x"), 10).as("sx"), count(lit(1)).as("n"))
        dimSums.groupBy(col("centroid_id"))
          .agg(transform(
              array_sort(collect_list(struct(col("dim"), (col("sx") / col("n")).as("m")))),
              s => s("m")).as("centroid_vec"),
            first(col("n")).as("n"))
      }
      cent = out.select(col("centroid_id"), col("centroid_vec"))
    }
    out
  }

  /** Top principal component by POWER ITERATION over the exact integer
    * scatter matrix — the PCA/decorrelation step an embedding pipeline runs
    * before indexing (project out the dominant direction, whiten before
    * IVF/PQ quantization, seed OPQ's rotation). Everything up to one sqrt
    * and one final division is EXACT integer/decimal arithmetic, so the
    * result is bit-identical at any parallelism and engine-mirrorable:
    *
    *   1. quantize: xq = floor(x·1000) per coordinate (BIGINT);
    *   2. scatter: C = N·Σ xq·xqᵀ − (Σ xq)(Σ xq)ᵀ — the N²-scaled
    *      covariance, exact BIGINTs, accumulated as ONE map-side-combined
    *      (dim × dim)-keyed aggregation over per-row outer products (4096
    *      cells at d=64 — the exchange carries cells, never rows);
    *   3. normalize: Cn = (C·10⁹) div max|C| — exact integral divide,
    *      truncation toward zero on both engines — so iteration magnitudes
    *      are corpus-size-free;
    *   4. iterate ×`iters`: w = Cn·k (exact BIGINT products and sums),
    *      k' = floor(w/‖w‖·10⁶) with ‖w‖ from an exact DECIMAL(38,0) sum
    *      of squares and ONE deterministic double rounding at the sqrt;
    *   5. Rayleigh estimate λ̂ = (kᵀw)/(kᵀk) in Cn units (exact decimal
    *      sums, one double division).
    *
    * Bounds, stated exactly: |xq| ≤ X over N rows needs N·X² ≤ ~9.2·10¹⁸
    * for step 2's BIGINTs (X = 10³ ⇒ N ≤ 9.2·10¹² — ~2 PB of fp32 d=64
    * vectors); steps 3–5 are corpus-size-free by construction (|Cn| ≤ 10⁹,
    * |k| ≤ 10⁶ ⇒ |w| ≤ d·10¹⁵). The scatter matrix is PSD, so the
    * iteration converges to the dominant eigenvector, sign pinned by the
    * fixed all-ones start.
    *
    * @return one row per dimension: (dim, pc1_k, eig) — pc1_k the
    *         10⁶-scaled unit-eigenvector coordinate, eig the Rayleigh
    *         scalar repeated on every row. */
  def pcaPowerTop(corpus: DataFrame, vecCol: String, iters: Int = 5): DataFrame = {
    require(iters >= 1, "at least one power iteration")
    val q = corpus.select(transform(col(vecCol),
      x => floor(x.cast("double") * 1000).cast("long")).as("vq"))
    val pts = q.select(posexplode(col("vq")).as(Seq("i", "xi")))
    val s = pts.groupBy(col("i"))
      .agg(sum(col("xi")).as("si"), count(lit(1)).as("n"))
    // outer products via two CHAINED generators (Generate → Generate stays
    // inside whole-stage codegen; materializing a d²-struct array per row
    // measured ~2× slower) and only the upper triangle — the scatter is
    // symmetric, the mirror is reconstructed on the d²-cell relation
    val upper = q.select(posexplode(col("vq")).as(Seq("i", "xi")), col("vq"))
      .select(col("i"), col("xi"), posexplode(col("vq")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
      .groupBy(col("i"), col("j")).agg(sum(col("xi") * col("xj")).as("sxy"))
    val pairs = upper.unionByName(upper.filter(col("i") < col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("sxy")))
    val c = pairs
      .join(s.select(col("i"), col("si").as("sa"), col("n")), "i")
      .join(s.select(col("i").as("j"), col("si").as("sb")), "j")
      .select(col("i"), col("j"),
        (col("n") * col("sxy") - col("sa") * col("sb")).as("c"))
    val cn = c.crossJoin(broadcast(c.agg(max(abs(col("c"))).as("cmax"))))
      .select(col("i"), col("j"),
        expr("CAST((CAST(c AS DECIMAL(38,0)) * 1000000000) div cmax AS BIGINT)")
          .as("cn"))
    // The iterations run DRIVER-SIDE on the collected d×d matrix — a
    // d²-bounded, corpus-size-free collect (4096 longs at d=64: the
    // StreamingIvf probe-cell convention; MLlib's RowMatrix does the same
    // split: distributed Gramian, local eigensolve). The arithmetic mirrors
    // the relational form exactly: Long dot products (exact), BigInt sums
    // of squares (exact — BigInt.toDouble and HUGEINT→DOUBLE are both
    // correctly rounded), IEEE sqrt/div/floor.
    val cells = cn.collect()
    val d = cells.iterator.map(_.getInt(0)).max + 1
    val m = Array.ofDim[Long](d, d)
    cells.foreach(r => m(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    var k = Array.fill(d)(1000000L)
    def mul(v: Array[Long]): Array[Long] =
      Array.tabulate(d) { i =>
        var acc = 0L; var j = 0
        while (j < d) { acc += m(i)(j) * v(j); j += 1 }; acc
      }
    for (_ <- 0 until iters) {
      val w = mul(k)
      val nn = math.sqrt(w.iterator.map(x => BigInt(x) * BigInt(x)).sum.toDouble)
      k = w.map(x => math.floor(x.toDouble / nn * 1e6).toLong)
    }
    val w6 = mul(k)
    val eig = (0 until d).iterator.map(i => BigInt(k(i)) * BigInt(w6(i))).sum.toDouble /
      (0 until d).iterator.map(i => BigInt(k(i)) * BigInt(k(i))).sum.toDouble
    val spark = corpus.sparkSession
    import spark.implicits._
    k.zipWithIndex.toSeq.map { case (ki, i) => (i.toLong, ki, eig) }
      .toDF("dim", "pc1_k", "eig")
  }

  /** Semantic deduplication (the SemDeDup recipe, Abbas et al. 2023):
    * cluster the corpus, then prune near-duplicates WITHIN each cluster —
    * for every same-cluster pair with cosine ≥ `tau`, the higher id drops
    * and the lowest id of each near-dup set survives as canonical.
    *
    * The within-cluster pairwise compare is quadratic in CELL population,
    * not corpus size — that is the published recipe's scale contract: grow
    * the cluster count with the corpus (k ≈ N/⟨cell⟩) so cells stay at a
    * bounded ⟨cell⟩ and total compare work stays ~N·⟨cell⟩, linear in N.
    * The cell join shuffles one narrow (cell, id, vec) row per vector;
    * cross-cluster near-dups are deliberately NOT examined (the recipe's
    * approximation — [[embeddingNearDupPairs]] is the LSH alternative when
    * cross-cluster recall matters more than the cluster structure).
    *
    * @param centroids trained (centroid_id, centroid_vec) — e.g. the
    *                  [[kmeansRefine]] output
    * @return (idCol, centroid_id) of SURVIVING rows (zero-norm vectors are
    *         excluded by the assignment, as everywhere in this module)
    */
  def semDedup(corpus: DataFrame, centroids: DataFrame, idCol: String,
               vecCol: String, tau: Double): DataFrame = {
    val assigned = assignToCentroids(corpus, centroids, idCol, vecCol)
    val a = assigned.select(col("centroid_id"), col(idCol).as("id_a"),
      col(vecCol).cast("array<double>").as("va"))
    val b = assigned.select(col("centroid_id"), col(idCol).as("id_b"),
      col(vecCol).cast("array<double>").as("vb"))
    val dropped = a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("va"), col("vb")) >= tau)
      .select(col("id_b").as(idCol)).distinct()
    assigned.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("centroid_id"))
  }

  // ---- product quantization (the compression half of IVF-PQ) -------------
  //
  // At 100 TB, full float32 vectors dominate the ANN working set: 100k-dim
  // corpora aside, even 64-dim float32 is 256 B/row — PQ replaces that with
  // `m` small codes (here 4), a 10-60× compression that is what lets a
  // billion-vector index fit in cluster memory. The classic decomposition:
  // split each vector into `m` subvectors, quantize each against a per-
  // subspace codebook, and answer queries with Asymmetric Distance
  // Computation — the query stays exact, each corpus vector is represented
  // by its codewords, and per-corpus-row scoring is `m` table lookups
  // instead of a d-dim dot product.
  //
  // Spark-first shape, mirrored by a stage-exact DuckDB oracle (query
  // `s7_pq_ann`):
  //   - the codebook is a tiny relation (m·k rows), always broadcast;
  //   - codes live LONG-FORM (id, sub, code_id) — one narrow row per
  //     (vector, subspace), never a rebuilt array, so encode's argmin is the
  //     same narrow-exchange aggregation as the IVF assign;
  //   - ADC is a broadcast join of the codes against the per-query lookup
  //     table (q × m·k rows) followed by a decimal-exact partial-aggregated
  //     sum — the only shuffle carries one narrow row per (query, vector).
  //
  // Determinism contract: argmin ties break toward the smallest code id;
  // the ADC sum routes through an exact DECIMAL accumulator (order-free at
  // any parallelism); subvector scores use the established left-fold dot.
  // The L2 argmin is expressed through inner products only —
  // argmin_j ||a−c_j||² = argmax_j (a·c_j − ||c_j||²/2) — so the oracle
  // reuses DuckDB's list_inner_product, the one float primitive already
  // proven bit-identical to [[dot]].

  /** One row per (codebook entry, subspace): (code_id, sub, cw, cwip) where
    * `cw` is the seed's sub-th subvector and `cwip` its self inner product.
    * `seeds` must be broadcast-small (k vectors, e.g. a deterministic id
    * stride of the corpus); zero-norm seeds are dropped like every other
    * scoring entry point. */
  def pqCodebook(seeds: DataFrame, idCol: String, vecCol: String,
                 m: Int, subDim: Int): DataFrame = {
    val s = seeds.select(col(idCol).as("code_id"),
      col(vecCol).cast("array<double>").as("cv")).filter(nonZero(col("cv")))
    val subs = (0 until m).map(i =>
      struct(lit(i).as("sub"), slice(col("cv"), i * subDim + 1, subDim).as("cw")))
    s.select(col("code_id"), explode(array(subs: _*)).as("s"))
      .select(col("code_id"), col("s.sub").as("sub"), col("s.cw").as("cw"),
        dot(col("s.cw"), col("s.cw")).as("cwip"))
  }

  /** Lloyd refinement of a PQ codebook (the s7e gate): per subspace,
    * re-fit every codeword to the per-dim mean of the subvectors assigned
    * to it, `iters` times — k-means inside each subspace, which is how
    * production PQ codebooks are actually trained (Jégou et al. 2011 §III;
    * [[pqCodebook]]'s raw stride seeds are only the init). Each iteration
    * strictly reduces within-subspace quantization MSE, which is what ADC
    * recall is paying for. Note rotation (OPQ) is deliberately NOT the
    * lever here: the synthetic corpus measures isotropic (per-dim energy
    * ratio 1.31, |pairwise corr| ≈ 0.03 — docs/PLANS.md round 12), and on
    * isotropic data every rotation is equivalent, so codebook FIT is the
    * only recall budget left at equal code count.
    *
    * Determinism contract (oracle-mirrored stage for stage): assignment is
    * the [[pqEncode]] argmax with its smallest-code-id tie-break; means
    * route through the exact DECIMAL accumulator / count (the
    * [[kmeansRefine]] shape); codewords that win no assignments drop out
    * of the book (code budget can only shrink). Scale: per iteration, one
    * encode pass (broadcast join + narrow exchange) + one (sub, code, dim)
    * mean — both corpus-linear; the book itself stays m·k rows. */
  def pqCodebookRefine(corpus: DataFrame, codebook: DataFrame,
                       idCol: String, vecCol: String, m: Int, subDim: Int,
                       iters: Int): DataFrame = {
    require(iters >= 1, "at least one Lloyd iteration")
    val c = corpus.select(col(idCol),
      col(vecCol).cast("array<double>").as("__v")).filter(nonZero(col("__v")))
    val subs = (0 until m).map(i =>
      struct(lit(i).as("sub"), slice(col("__v"), i * subDim + 1, subDim).as("sv")))
    val sv = c.select(col(idCol), explode(array(subs: _*)).as("s"))
      .select(col(idCol), col("s.sub").as("sub"), col("s.sv").as("sv"))
    var cb = codebook
    for (i <- 0 until iters) {
      // r14 A/B note — checkpoint removal measured and REJECTED: uncut, the
      // broadcast side of iteration i embeds every earlier iteration's full
      // corpus encode and re-executes it (s35 5.3→8.1 s, s7e 8.7→13.6 s warm
      // despite 3 fewer jobs). The per-iteration cut stays.
      if (i > 0) cb = cb.localCheckpoint() // lineage cut, the kmeansRefine pattern
      // assignment with the subvector CARRIED through the argmax (r13 opt,
      // guide §2.3/§2.4): the winning code per (id, sub) used to come from a
      // separate pqEncode pass joined back against `sv` by (id, sub) — a
      // second full corpus explode plus a wide shuffle join PER ITERATION.
      // sv is functionally dependent on the group key, so first(sv) carries
      // it through the same exchange the argmax already pays; the assignment
      // itself (max_by over the identical score struct) is unchanged, so the
      // dim sums see bit-identical rows.
      val enc = sv.join(broadcast(cb), Seq("sub"))
        .select(col(idCol), col("sub"), col("sv"), col("code_id"),
          struct((dot(col("sv"), col("cw")) - lit(0.5) * col("cwip")).as("score"),
            (-col("code_id")).as("nid")).as("__s"))
        .groupBy(col(idCol), col("sub"))
        .agg(max_by(col("code_id"), col("__s")).as("code_id"),
          first(col("sv")).as("sv"))
      // r14 opt (guide §2.3/§2.4): per-dim means via ONE (sub, code_id)
      // exchange carrying `subDim` decimal partial sums, instead of
      // posexplode + a (sub, code_id, dim) exchange + a second rollup —
      // one exchange fewer and subDim× fewer shuffled rows per iteration.
      // Each per-dim sum is the identical exact-decimal accumulation over
      // the identical value set (order-independent), and the mean is the
      // same double division, so the refined codewords are bit-identical.
      val aggs = count(lit(1)).as("n") +: (0 until subDim).map(d =>
        sum(col("sv")(d).cast("decimal(30,10)")).cast("double").as(s"sx$d"))
      cb = enc.groupBy(col("sub"), col("code_id"))
        .agg(aggs.head, aggs.tail: _*)
        .select(col("code_id"), col("sub"),
          array((0 until subDim).map(d => col(s"sx$d") / col("n")): _*).as("cw"))
        .select(col("code_id"), col("sub"), col("cw"),
          dot(col("cw"), col("cw")).as("cwip"))
    }
    cb
  }

  /** Encode the corpus: (idCol, sub, code_id), the nearest codeword of each
    * subvector under L2 — m narrow rows per vector. Same aggregation-argmax
    * shape as [[assignToCentroids]]: the broadcast join emits each
    * subvector's k scored rows consecutively, the partial agg combines
    * map-side, and the exchange carries one 3-int row per (vector, sub). */
  def pqEncode(corpus: DataFrame, codebook: DataFrame,
               idCol: String, vecCol: String, m: Int, subDim: Int,
               carry: Seq[String] = Nil): DataFrame = {
    val keep = (idCol +: carry).map(col)
    val c = corpus.select(keep :+
      col(vecCol).cast("array<double>").as("__v"): _*).filter(nonZero(col("__v")))
    val subs = (0 until m).map(i =>
      struct(lit(i).as("sub"), slice(col("__v"), i * subDim + 1, subDim).as("sv")))
    c.select(keep :+ explode(array(subs: _*)).as("s"): _*)
      .select(keep ++ Seq(col("s.sub").as("sub"), col("s.sv").as("sv")): _*)
      .join(broadcast(codebook), Seq("sub"))
      .select(keep ++ Seq(col("sub"), col("code_id"),
        struct((dot(col("sv"), col("cw")) - lit(0.5) * col("cwip")).as("score"),
          (-col("code_id")).as("nid")).as("__s")): _*)
      // `carry` columns are functionally dependent on idCol (e.g. the
      // vector's IVF cell) — adding them to the keys is free and keeps the
      // exchange narrow without a post-hoc join back to the assignment
      .groupBy(keep :+ col("sub"): _*)
      .agg(max_by(col("code_id"), col("__s")).as("code_id"))
  }

  /** Array-form encode for STORAGE: one row per vector with
    * `codes` (code ids by subspace position), plus any `keep` columns
    * carried through the aggregation as first() — the assignToCentroids
    * pattern for wide payloads (the vector itself, the IVF cell), so an
    * index build needs NO join-back: the single exchange already carries
    * exactly the row that gets written. Per-sub argmax via null-masked
    * max_by (rows of other subspaces contribute null ordering keys, which
    * max_by ignores); [[pqEncode]] long-form is the reference — the two are
    * proven equal in the spec. */
  def pqEncodeArray(corpus: DataFrame, codebook: DataFrame,
                    idCol: String, vecCol: String, m: Int, subDim: Int,
                    keep: Seq[String] = Nil): DataFrame = {
    val keepCols = (vecCol +: keep).distinct
    val c = corpus.select(col(idCol) +: keepCols.map(col) :+
      col(vecCol).cast("array<double>").as("__v"): _*).filter(nonZero(col("__v")))
    val subs = (0 until m).map(i =>
      struct(lit(i).as("sub"), slice(col("__v"), i * subDim + 1, subDim).as("sv")))
    val scored = c.select(col(idCol) +: keepCols.map(col) :+
        explode(array(subs: _*)).as("s"): _*)
      .select((col(idCol) +: keepCols.map(col)) ++ Seq(
        col("s.sub").as("sub"), col("s.sv").as("sv")): _*)
      .join(broadcast(codebook), Seq("sub"))
      .select((col(idCol) +: keepCols.map(col)) ++ Seq(col("sub"), col("code_id"),
        struct((dot(col("sv"), col("cw")) - lit(0.5) * col("cwip")).as("score"),
          (-col("code_id")).as("nid")).as("__s")): _*)
    scored.groupBy(col(idCol))
      .agg(first(col(keepCols.head)).as(keepCols.head),
        keepCols.tail.map(kc => first(col(kc)).as(kc)) ++ Seq(
          array((0 until m).map(s =>
            max_by(when(col("sub") === s, col("code_id")),
              when(col("sub") === s, col("__s")))): _*).as("codes")): _*)
  }

  /** Per-subspace quantization DISTORTION of a PQ codebook over the corpus:
    * SSE(sub) = Σ_vectors ‖sv − cw[assigned]‖² — the codebook-health number
    * behind ADC recall (Jégou et al. 2011 measure exactly this to justify
    * training; [[pqCodebookRefine]]'s doc CLAIMS each Lloyd iteration
    * reduces it — this op measures the claim instead of trusting it).
    * The squared distance expands to ‖sv‖² − 2⟨sv,cw⟩ + ‖cw‖² so inner
    * products stay the only float primitive (the pq oracle convention),
    * and the per-row terms route through the [[graft.ops.Exact.sumD]]
    * decimal accumulator — order-independent, bit-reproducible at any
    * parallelism. Scale: one encode pass + one (vec, sub)-keyed join
    * against the broadcast-small book; the output is m rows. */
  def pqDistortion(corpus: DataFrame, codebook: DataFrame, idCol: String,
                   vecCol: String, m: Int, subDim: Int): DataFrame = {
    val c = corpus.select(col(idCol),
      col(vecCol).cast("array<double>").as("__v")).filter(nonZero(col("__v")))
    val subs = (0 until m).map(i =>
      struct(lit(i).as("sub"), slice(col("__v"), i * subDim + 1, subDim).as("sv")))
    val sv = c.select(col(idCol), explode(array(subs: _*)).as("s"))
      .select(col(idCol), col("s.sub").as("sub"), col("s.sv").as("sv"))
    // single-pass form (r13 opt, guide §2.3/§2.4): the winner's d2 rides the
    // SAME argmax aggregation the encode already pays, instead of a second
    // full encode pass joined back by (id, sub) and a codebook re-join. Each
    // candidate row evaluates the identical expression
    // ‖sv‖² − 2⟨sv,cw⟩ + cwip (svip hoisted before the join — same float
    // ops, computed once per subvector); max_by picks the row the old
    // join-back would have selected (the score struct is a total order:
    // nid is unique per code), so the selected d2 is bit-identical.
    sv.withColumn("svip", dot(col("sv"), col("sv")))
      .join(broadcast(codebook), Seq("sub"))
      .select(col(idCol), col("sub"),
        struct((dot(col("sv"), col("cw")) - lit(0.5) * col("cwip")).as("score"),
          (-col("code_id")).as("nid")).as("__s"),
        (col("svip") - lit(2.0) * dot(col("sv"), col("cw"))
          + col("cwip")).as("d2"))
      .groupBy(col(idCol), col("sub"))
      .agg(max_by(col("d2"), col("__s")).as("d2"))
      .groupBy(col("sub"))
      .agg(count(lit(1)).as("n"), graft.ops.Exact.sumD(col("d2"), 10).as("sse"))
  }

  /** Two-codebook [[pqDistortion]] in ONE corpus pass (r14 opt, guide
    * §2.3/§2.4 — the s35 shape audits a raw book against its trained
    * successor, and two separate passes scan + explode the corpus twice).
    * The books are tagged and unioned into one broadcast relation and the
    * argmax groups by (book, id, sub), so each book's argmax sees exactly
    * its own candidate rows; per candidate row the float expression is
    * identical to [[pqDistortion]]'s, and the per-book SSE folds through
    * the same exact DECIMAL accumulator restricted by the book tag (a
    * decimal sum over the identical row subset — order-independent, so
    * bit-identical to two separate passes). `n` counts book-A groups;
    * both books cover every subspace (a book never loses an entire sub:
    * each subvector is assigned somewhere), so the m output rows match
    * the two-pass inner join.
    * Returns (sub, n, sse_a, sse_b). */
  def pqDistortionPair(corpus: DataFrame, cbA: DataFrame, cbB: DataFrame,
                       idCol: String, vecCol: String, m: Int,
                       subDim: Int): DataFrame = {
    val c = corpus.select(col(idCol),
      col(vecCol).cast("array<double>").as("__v")).filter(nonZero(col("__v")))
    val subs = (0 until m).map(i =>
      struct(lit(i).as("sub"), slice(col("__v"), i * subDim + 1, subDim).as("sv")))
    val sv = c.select(col(idCol), explode(array(subs: _*)).as("s"))
      .select(col(idCol), col("s.sub").as("sub"), col("s.sv").as("sv"))
    val books = cbA.withColumn("__bk", lit(0))
      .unionByName(cbB.withColumn("__bk", lit(1)))
    sv.withColumn("svip", dot(col("sv"), col("sv")))
      .join(broadcast(books), Seq("sub"))
      .select(col(idCol), col("__bk"), col("sub"),
        struct((dot(col("sv"), col("cw")) - lit(0.5) * col("cwip")).as("score"),
          (-col("code_id")).as("nid")).as("__s"),
        (col("svip") - lit(2.0) * dot(col("sv"), col("cw"))
          + col("cwip")).as("d2"))
      .groupBy(col("__bk"), col(idCol), col("sub"))
      .agg(max_by(col("d2"), col("__s")).as("d2"))
      .groupBy(col("sub"))
      .agg(count(when(col("__bk") === 0, 1)).as("n"),
        sum(when(col("__bk") === 0, col("d2")).cast("decimal(30,10)"))
          .cast("double").as("sse_a"),
        sum(when(col("__bk") === 1, col("d2")).cast("decimal(30,10)"))
          .cast("double").as("sse_b"))
  }

  /** ADC top-k over PQ codes: approximate cosine between each query and
    * every encoded corpus vector, using only the codes and the codebook —
    * the corpus vectors themselves are never touched.
    *
    *   approx_ip(q, a)  = Σ_m  q_sub[m] · cw[m][code_a[m]]
    *   approx_norm(a)   = sqrt(Σ_m ||cw[m][code_a[m]]||²)
    *   sim              = approx_ip / (||q|| · approx_norm)
    *
    * Both sums route through [[Exact.sumD]] so the reduction is
    * order-independent. Vectors whose reconstruction is all-zero codewords
    * are dropped (their approximate norm is 0 — the cosine is undefined,
    * exactly the [[nonZero]] rule applied to the reconstruction).
    *
    * @return (query_id, rank, neighbor_id, sim) — ties broken by neighbor id.
    */
  def pqTopK(codes: DataFrame, codebook: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int, m: Int, subDim: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")).filter(nonZero(col("qv")))
    adcTopK(codes.select(col(idCol).as("neighbor_id"), col("sub"), col("code_id"))
        .join(broadcast(pqQueryTable(q, codebook, m, subDim)), Seq("sub", "code_id")),
      q, k)
  }

  /** Two-stage ANN serving: compressed shortlist → exact re-rank — the
    * production pattern that buys back PQ's quantization error. Stage 1
    * ([[pqTopK]]) answers from the codes alone, never touching a vector;
    * stage 2 fetches ONLY the |queries|·shortlistK shortlisted raw vectors
    * (point-lookups against the columnar corpus at 100 TB) and re-scores
    * with exact cosine, so the final ordering — and every reported sim —
    * is exact over the shortlist. Recall is bounded by stage 1; precision
    * of the ranking within it is restored to exact. */
  def pqRerankTopK(codes: DataFrame, codebook: DataFrame, queries: DataFrame,
                   corpus: DataFrame, idCol: String, vecCol: String,
                   k: Int, shortlistK: Int, m: Int, subDim: Int): DataFrame = {
    require(shortlistK >= k, "shortlist must be at least the final k")
    val short = pqTopK(codes, codebook, queries, idCol, vecCol,
        shortlistK, m, subDim)
      .select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")).filter(nonZero(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv")).filter(nonZero(col("cv")))
    val rr = short.join(broadcast(q), "query_id").join(c, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    rr.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Matryoshka-style prefix-dimension two-stage retrieval: candidates are
    * ranked by cosine over only the FIRST `prefixDim` components, then the
    * per-query shortlist is reranked by full-dimension exact cosine.
    *
    * Why this shape at 100 TB: with prefix-trained embeddings (MRL) the
    * leading components carry most of the signal, so stage 1 reads
    * prefixDim/dim of the vector bytes — stored as its OWN column, the
    * candidate scan column-prunes past the full vector entirely (the same
    * lever as PQ's codes, without a codebook). Stage 2 re-fetches full
    * vectors for only |Q|·shortlistK ids (broadcast-joined against the
    * corpus — a point fetch, not a rescan, when the table is id-bucketed).
    * Recall is bounded by stage 1; ranking within the shortlist is exact. */
  def prefixRerankTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int, shortlistK: Int,
                       prefixDim: Int): DataFrame = {
    require(shortlistK >= k, "shortlist must be at least the final k")
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")).filter(nonZero(col("qv")))
    val qb = broadcast(q
      .withColumn("qp", slice(col("qv"), 1, prefixDim))
      .filter(nonZero(col("qp"))))
    // stage 1: prefix-only projection of the corpus — the narrow scan
    val cPrefix = corpus.select(col(idCol).as("neighbor_id"),
        slice(col(vecCol).cast("array<double>"), 1, prefixDim).as("cp"))
      .filter(nonZero(col("cp")))
    val wPre = Window.partitionBy(col("query_id"))
      .orderBy(col("psim").desc, col("neighbor_id"))
    val short = cPrefix.join(qb, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qp"), col("cp")).as("psim"))
      .withColumn("prank", row_number().over(wPre))
      .filter(col("prank") <= shortlistK)
      .select(col("query_id"), col("neighbor_id"))
    // stage 2: full-vector point fetch for the shortlist, exact rerank
    val full = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val wFull = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    broadcast(short.join(q, "query_id")).join(full, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("sim"))
      .withColumn("rank", row_number().over(wFull)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Per-dimension min/max scalar-quantization (SQ8) ANN — the fourth
    * member of the compression family (flat → IVF reads fewer rows, PQ
    * reads coded bytes, prefix reads fewer components; SQ8 reads 1 byte
    * per component with NO codebook training and NO recall loss from
    * subspace coupling). Train: per-dimension [min, max] over the corpus —
    * a `dim`-row relation, collected as a broadcast literal (the same
    * metadata-sized driver list as the IVF probe set). Encode: one narrow
    * pass, code = clamp(⌊(x−mn)/(mx−mn)·256⌋, 255) (degenerate dims → 0).
    * Serve: asymmetric — the float query against midpoint-reconstructed
    * corpus values (mn + (code+½)·(mx−mn)/256), exact cosine ranking over
    * the reconstruction. At 100 TB the codes table is 8× smaller than
    * float32 vectors and reconstruction is in-loop arithmetic, no join.
    * Every arithmetic step is a fixed left-to-right IEEE chain, so a
    * relational replay produces bit-identical sims. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv")).filter(nonZero(col("cv")))
    // train: dim-count rows — metadata-sized by construction
    val mm = c.select(posexplode(col("cv")).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("dim")).collect()
    val mnA = array(mm.map(r => lit(r.getDouble(1))).toIndexedSeq: _*)
    val mxA = array(mm.map(r => lit(r.getDouble(2))).toIndexedSeq: _*)
    def mn(i: Column) = element_at(mnA, i + 1)
    def mx(i: Column) = element_at(mxA, i + 1)
    // encode (the stored representation) then midpoint-reconstruct; kept
    // as one plan so the whole path is exercised end to end
    val codes = c.select(col("neighbor_id"),
      transform(col("cv"), (x, i) =>
        when(mx(i) > mn(i),
          least(lit(255.0), floor((x - mn(i)) / (mx(i) - mn(i)) * lit(256.0)))
            .cast("int"))
          .otherwise(lit(0))).as("codes"))
    val rec = codes.select(col("neighbor_id"),
      transform(col("codes"), (cde, i) =>
        mn(i) + (cde.cast("double") + lit(0.5)) * (mx(i) - mn(i)) / lit(256.0))
        .as("rv"))
      .filter(nonZero(col("rv")))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")).filter(nonZero(col("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    rec.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("rv")).as("sim"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Pack the sign bits of the first ≤64 vector components into ONE long:
    * bit i set ⟺ component i > 0 (strict — zeros and negatives are 0).
    * Built from shift/OR only, so it is wrap-free under ANSI arithmetic;
    * for dim > 64, segment the vector and pack one word per segment. */
  def signBits(v: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.ShiftLeft
    def bit(i: Column) = GraftBridge.column(
      ShiftLeft(GraftBridge.expression(lit(1L)), GraftBridge.expression(i)))
    aggregate(
      transform(v, (x, i) => when(x > 0, bit(i)).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** Binary (1-bit) quantization ANN: vectors collapse to their sign
    * pattern, distance is the Hamming distance between patterns —
    * `bit_count(qcode XOR ccode)`, two instructions per candidate. The
    * most aggressive member of the compression family (SQ8 keeps 8 bits/
    * component; this keeps 1): at 100 TB a 64-dim corpus is ONE BIGINT per
    * vector — 512× smaller than float64 — and the serve scan is
    * bandwidth-trivial, the standard first-stage filter in front of an
    * exact reranker (compose with [[bruteForceTopK]] over the shortlist,
    * as [[prefixRerankTopK]] does for prefixes). All-integer scoring: no
    * FP anywhere, so cross-engine agreement is exact by construction.
    * Ranking ties (hamming ∈ 0..64 is coarse) break by neighbor id. */
  def binaryHammingTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      signBits(col(vecCol).cast("array<double>")).as("ccode"))
    val q = queries.select(col(idCol).as("query_id"),
      signBits(col(vecCol).cast("array<double>")).as("qcode"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        bit_count(col("qcode").bitwiseXOR(col("ccode"))).cast("long")
          .as("hamming"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("hamming"))
  }

  /** IVF-PQ: ADC restricted to the probed cells. `codes` must carry the
    * vector's `centroid_id` (pqEncode with carry — at 100 TB the codes table
    * is WRITTEN partitioned by cell, so the probe join IS partition
    * pruning); `probes` comes from [[probeCells]]/[[probeCellsTiered]] and
    * supplies both the cell fan-out and the query vectors. Composes the two
    * scale halves of the ANN story: IVF reads ~nprobe/nlist of the codes,
    * PQ makes each read row m ints instead of a float vector. */
  def pqTopKProbed(codes: DataFrame, codebook: DataFrame, probes: DataFrame,
                   idCol: String, k: Int, m: Int, subDim: Int): DataFrame = {
    val q = probes.select(col("query_id"), col("qv")).distinct()
    adcTopK(codes.select(col(idCol).as("neighbor_id"), col("centroid_id"),
          col("sub"), col("code_id"))
        .join(broadcast(probes.select(col("query_id"), col("centroid_id"))),
          Seq("centroid_id"))
        .join(broadcast(pqQueryTable(q, codebook, m, subDim)),
          Seq("query_id", "sub", "code_id")),
      q, k)
  }

  /** Per-query ADC lookup table: (query_id, sub, code_id, ipq, cwip) —
    * q × m·k rows, always broadcast. */
  private def pqQueryTable(q: DataFrame, codebook: DataFrame,
                           m: Int, subDim: Int): DataFrame = {
    val subs = (0 until m).map(i =>
      struct(lit(i).as("sub"), slice(col("qv"), i * subDim + 1, subDim).as("qsv")))
    q.select(col("query_id"), explode(array(subs: _*)).as("s"))
      .select(col("query_id"), col("s.sub").as("sub"), col("s.qsv").as("qsv"))
      .join(codebook, Seq("sub"))
      .select(col("query_id"), col("sub"), col("code_id"),
        dot(col("qsv"), col("cw")).as("ipq"), col("cwip"))
  }

  /** The ADC reduction + top-k tail shared by the flat and probed forms:
    * decimal-exact sums (order-free), zero-reconstruction drop, per-query
    * windowed top-k. `pairs` rows: (query_id, neighbor_id, ipq, cwip). */
  /** Embedding preprocessing — corpus-mean centering + L2 normalization,
    * the standard step before cosine ANN / clustering (centering removes
    * the corpus' common direction so cosine contrasts stay meaningful;
    * normalizing makes dot product ≡ cosine). Returns the long-form
    * (id, dim, y) relation of the transformed vectors.
    *
    * Determinism: per-dimension means go through the decimal accumulator
    * (order-independent at any parallelism); subtraction, squaring, sqrt
    * and the final division are exactly rounded IEEE ops mirrored by the
    * oracle; the squared-norm sum is decimal again. Zero-norm vectors
    * (every component at the corpus mean) map to the zero vector.
    *
    * Scale shape: one narrow (id, dim, x) explode; the mean reduction is a
    * groupBy(dim) — d output rows, partial-aggregated map-side; the means
    * join back as a broadcast d-row relation; the norm is a per-id rollup.
    * Two corpus-sized narrow exchanges (dim-keyed, id-keyed) total — the
    * lower bound for a cross-corpus standardization. */
  def centerNormalize(emb: DataFrame, idCol: String, vecCol: String,
                      scale: Int = 10): DataFrame = {
    val pts = emb.select(col(idCol).as("id"),
        posexplode(col(vecCol)).as(Seq("dim", "xf")))
      .select(col("id"), col("dim"), col("xf").cast("double").as("x"))
    val means = pts.groupBy(col("dim")).agg(Exact.avgD(col("x"), scale).as("mu"))
    val centered = pts.join(broadcast(means), "dim")
      .select(col("id"), col("dim"), (col("x") - col("mu")).as("c"))
    val norms = centered.groupBy(col("id"))
      .agg(sum((col("c") * col("c")).cast(s"decimal(38,$scale)"))
        .cast("double").as("ss"))
      .select(col("id"), sqrt(col("ss")).as("nrm"))
    centered.join(norms, "id")
      .select(col("id"), col("dim"), col("nrm"),
        when(col("nrm") === 0.0, lit(0.0)).otherwise(col("c") / col("nrm")).as("y"))
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein '98): after
    * retrieval fetches a `poolK` candidate pool per query, greedily pick
    * `selectK` results balancing query relevance against redundancy with
    * what's already picked — the diversity pass RAG/retrieval stacks run
    * between ANN and the prompt.
    *
    * score(d) = λ·sim(q,d) − (1−λ)·max_{s∈picked} sim(d,s), λ = num/den.
    * All comparisons run on INTEGERS: cosines are floored onto a 1e10 grid
    * (bit-identical across engines — both fold dot/norm left-to-right, and
    * IEEE sqrt/divide are correctly rounded), then combined as
    * num·simS − (den−num)·penS. No double ever reaches an ORDER BY, so the
    * greedy argmax (ties → min neighbor id) is exactly reproducible — the
    * same discipline as [[kmeans]]' decimal means and pageRank's floored
    * contributions. Pick 1 has no redundancy term: score = num·simS.
    *
    * Scale shape: the candidate pool is top-poolK per query (window over
    * the retrieval relation — whatever index produced it); the pairwise
    * penalty relation is poolK² PER QUERY, built with one equi-join on
    * query_id — never a corpus×corpus product. The greedy loop is
    * inherently sequential in selectK (small constant); each round is one
    * join against the picked set + one argmax window, all keyed on
    * query_id. localCheckpoint cuts lineage so round r doesn't re-plan
    * rounds 1..r-1.
    *
    * @return (query_id, pick, neighbor_id, score_s) — pick ∈ [1, selectK],
    *         score_s the scaled-integer MMR score at selection time. */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, poolK: Int, selectK: Int,
                lambdaNum: Int = 7, lambdaDen: Int = 10): DataFrame = {
    require(selectK >= 1 && poolK >= selectK, "need poolK >= selectK >= 1")
    require(lambdaNum > 0 && lambdaNum <= lambdaDen, "λ in (0, 1]")
    val simS = (s: Column) => floor(s * lit(1e10)).cast("long")
    val cand = bruteForceTopK(corpus, queries, idCol, vecCol, poolK)
      .select(col("query_id"), col("neighbor_id"), simS(col("sim")).as("qs"))
      .localCheckpoint()
    // candidate vectors (pool-sized) → pairwise penalty sims per query
    val cv = cand.select(col("query_id"), col("neighbor_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"),
          col(vecCol).cast("array<double>").as("v")),
        Seq("neighbor_id"))
    val pairs = cv.select(col("query_id"), col("neighbor_id").as("id_a"), col("v").as("va"))
      .join(cv.select(col("query_id"), col("neighbor_id").as("id_b"), col("v").as("vb")),
        Seq("query_id"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("query_id"), col("id_a"), col("id_b"),
        simS(cosine(col("va"), col("vb"))).as("pen_s"))
      .localCheckpoint()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_s").desc, col("neighbor_id"))
    var picked = cand
      .withColumn("score_s", lit(lambdaNum.toLong) * col("qs"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), lit(1).as("pick"), col("neighbor_id"), col("score_s"))
      .localCheckpoint()
    for (i <- 2 to selectK) {
      val pen = pairs
        .join(picked.select(col("query_id"), col("neighbor_id").as("id_b")),
          Seq("query_id", "id_b"))
        .groupBy(col("query_id"), col("id_a").as("neighbor_id"))
        .agg(max(col("pen_s")).as("mp"))
      val next = cand
        .join(picked.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_anti")
        .join(pen, Seq("query_id", "neighbor_id"))
        .withColumn("score_s", lit(lambdaNum.toLong) * col("qs")
          - lit((lambdaDen - lambdaNum).toLong) * col("mp"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("query_id"), lit(i).as("pick"), col("neighbor_id"), col("score_s"))
      picked = picked.unionByName(next).localCheckpoint()
    }
    picked
  }

  /** Deterministic sign for the random-projection matrix: parity of the
    * first hex digit of md5("rp:j:d") → ±1. md5 is the cross-engine seeded
    * RNG this suite already standardizes on (the x3 panel / x5 split
    * pattern): DuckDB's md5() of the same string yields the same hex, so
    * the oracle reconstructs the identical matrix without shipping it. */
  def rpSign(j: Int, d: Int): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp:$j:$d".getBytes("UTF-8"))
    if ((((h(0) >> 4) & 0xf) % 2) == 0 // first hex digit = high nibble of byte 0
    ) 1L else -1L
  }

  /** Per-dim 1e6 quantization of a float vector to exact longs: float→
    * double is exact, ×1e6 is one exactly-rounded IEEE op on identical
    * operands in both engines, floor is exact — so every downstream sum /
    * squared distance over these is pure BIGINT arithmetic. |x| < 1 in the
    * corpus → |q| ≤ 1e6; a 64-dim squared L2 is ≤ 2.6e14, far inside long. */
  def quantizeE6(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * lit(1000000.0)).cast("long"))

  /** Johnson-Lindenstrauss SIGN random projection (Achlioptas 2003's
    * database-friendly ±1 family): project the 1e6-quantized vector onto
    * nProj deterministic ±1 rows — p[j] = Σ_d sign(j,d)·q[d], an exact
    * BIGINT per output dim. This is the dimensionality-reduction leg of the
    * ANN family: at 100 TB you project once (narrow map, whole-stage
    * codegen, no exchange — the sign matrix is nProj×dim driver-side
    * literals, a few KB broadcast inside the plan) and run the s2-style IVF
    * machinery in the 4×-smaller space; s27 gates how much neighbor
    * structure the 64→16 squeeze preserves.
    *
    * @return (idCol, rp array<long> of length nProj). */
  def rpProject(corpus: DataFrame, idCol: String, vecCol: String,
                nProj: Int): DataFrame = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0) // metadata-cheap
    val q = quantizeE6(col(vecCol))
    val projCols = (0 until nProj).map { j =>
      val signs = array((0 until dim).map(d => lit(rpSign(j, d))): _*)
      aggregate(zip_with(q, signs, (a, b) => a * b), lit(0L), (acc, x) => acc + x)
    }
    corpus.select(col(idCol), array(projCols: _*).as("rp"))
  }

  /** Exact squared L2 between two long-vector columns (BIGINT throughout). */
  def sqDistL(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, x) => acc + x)

  private def adcTopK(pairs: DataFrame, q: DataFrame, k: Int): DataFrame = {
    val qnorm = q.select(col("query_id"), norm(col("qv")).as("qnrm"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    pairs.filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(Exact.sumD(col("ipq"), 10).as("aip"), Exact.sumD(col("cwip"), 10).as("an2"))
      .filter(col("an2") > 0)
      .join(broadcast(qnorm), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (col("aip") / (col("qnrm") * sqrt(col("an2")))).as("sim"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }
}
