package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Scale-sweep data generator: replicates the driver's sf0.1 tables R times
  * with key-space offsets so the result behaves like a genuinely larger
  * scale factor rather than R stacked copies.
  *
  * Replication rules (per replica i, i = 0 is the untouched original):
  *  - Fixed-size dims (`region`, `nation`) are NOT replicated — TPC-H keeps
  *    them constant across scale factors.
  *  - Every surrogate key (custkey, orderkey, suppkey, partkey, event_id,
  *    user_id, doc_id, vec_id) is offset by `i * (max(key)+1)`, so foreign
  *    keys keep referencing exactly one parent row and join fan-outs match
  *    the original per-replica.
  *  - `documents.text` gets a per-replica affine cipher over a-z
  *    (`translate` with image x → a·x + r mod 26, a coprime to 26 — 312
  *    distinct permutations): token/shingle structure WITHIN a replica
  *    is preserved byte-for-byte (same Jaccard graph, same dup density),
  *    while ACROSS replicas every token is a different string, so MinHash /
  *    SimHash / n-gram similarity does not explode quadratically the way
  *    verbatim copies would (each original dup-pair stays one dup-pair per
  *    replica — linear, like a real bigger corpus).
  *  - `embeddings.embedding` gets a per-replica diagonal ±1 orthogonal
  *    transform (sign flip per dimension, signs from hash(i, dim)): all
  *    WITHIN-replica dot products and norms are preserved exactly (same
  *    neighbor structure, same LSH bucket load), while cross-replica
  *    cosines of originally-identical vectors average to ~0 — again linear
  *    dup growth instead of quadratic.
  *
  * This is a bench-only tool (the correctness oracle runs on the driver's
  * own parquet); it exists to measure the d2/d2b/d4/d5/d6/d6b/s1/s2/c1
  * family at ~10x data and verify near-linear scaling (VERDICT r6 #1).
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SRC", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_OUT", "/tmp/graft-testdata/sf1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPL", "10").toInt
    // the documents transform is an affine cipher over a-z (two axes: 26
    // rotations × 12 multipliers coprime to 26 = 312 distinct permutations);
    // replica 312 would repeat replica 0's vocabulary VERBATIM, giving
    // cross-replica dup pairs and quadratic LSH growth — the exact artifact
    // this generator exists to avoid.
    require(reps <= 312, s"SPARK_GRAFT_REPL=$reps > 312 exhausts the affine cipher family")
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.sparkContext.setLogLevel("WARN")
    // events.ts encoding varies across testdata generations (TIMESTAMP(NANOS),
    // timestamp[us] NTZ/UTC). Surface legacy nanos as a raw long and copy
    // whatever we read verbatim (Tables.load, not Tables.events); Tables.events
    // adapts to all three on read.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(t: String): DataFrame = Tables.load(spark, src, t)
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
      println(s"[scalegen] $t: ${Tables.load(spark, out, t).count()} rows")
    }

    // key bases: one offset unit per surrogate key space
    def base(t: String, k: String): Long =
      read(t).agg(max(col(k))).head().getLong(0) + 1L

    val bCust = base("customer", "c_custkey")
    val bOrd = base("orders", "o_orderkey")
    val bSupp = base("supplier", "s_suppkey")
    val bPart = base("part", "p_partkey")
    val bEvt = base("events", "event_id")
    val bUser = base("events", "user_id")
    val bDoc = base("documents", "doc_id")
    val bVec = base("embeddings", "vec_id")

    // fixed dims copied once
    write(read("region"), "region")
    write(read("nation"), "nation")

    /** Union of R per-replica transforms of `t`. */
    def replicate(t: String)(tx: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until reps).map(i => tx(read(t), i)).reduce(_ unionAll _)

    def off(df: DataFrame, c: String, b: Long, i: Int): DataFrame =
      df.withColumn(c, col(c) + lit(b * i))

    write(replicate("customer")((d, i) => off(d, "c_custkey", bCust, i)), "customer")
    write(replicate("supplier")((d, i) => off(d, "s_suppkey", bSupp, i)), "supplier")
    write(replicate("part")((d, i) => off(d, "p_partkey", bPart, i)), "part")
    write(replicate("orders")((d, i) =>
      off(off(d, "o_orderkey", bOrd, i), "o_custkey", bCust, i)), "orders")
    write(replicate("lineitem")((d, i) =>
      off(off(off(d, "l_orderkey", bOrd, i), "l_partkey", bPart, i), "l_suppkey", bSupp, i))
      .repartition(32), "lineitem")
    write(replicate("events")((d, i) =>
      off(off(d, "event_id", bEvt, i), "user_id", bUser, i)), "events")

    val alpha = "abcdefghijklmnopqrstuvwxyz"
    // Per-replica AFFINE cipher x -> a·x + r (mod 26): axis 1 is the rotation
    // r = i mod 26, axis 2 the multiplier a = COPRIMES(i / 26) (the 12 units
    // of Z/26). Any two distinct affine maps agree on at most gcd(a1-a2, 26)
    // ≤ 2 letters (a's are odd, so the difference is even and never 26), so
    // cross-replica token collisions need tokens drawn from a ≤2-letter
    // alphabet — negligible, preserving the linear-dup-growth property the
    // rotation gave, but for 312 replicas (sf31 off a sf0.1 base) not 26.
    val coprimes = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    write(replicate("documents") { (d, i) =>
      val a = coprimes(i / 26); val r = i % 26
      val image = (0 until 26).map(l => alpha((a * l + r) % 26)).mkString
      val d2 = off(d, "doc_id", bDoc, i)
      if (i == 0) d2 else d2.withColumn("text", translate(col("text"), alpha, image))
    }, "documents")

    write(replicate("embeddings") { (d, i) =>
      val d2 = off(d, "vec_id", bVec, i)
      if (i == 0) d2
      // diagonal ±1 per replica: x_j -> x_j * (1 - 2*(hash(i, j) mod 2))
      else d2.withColumn("embedding", expr(
        s"transform(embedding, (x, j) -> CAST(x * (1 - 2 * pmod(hash($i, j), 2)) AS FLOAT))"))
    }, "embeddings")

    println(s"[scalegen] wrote ${reps}x $src -> $out")
    spark.stop()
  }
}
