package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.batch.MinuteAggregate
import graft.ops.{DedupOps, Exact, TextOps}

import Kind.{Maintenance, Throughput}
import Shared._

/** Store, layout and sketch operators: compaction, time travel,
  * Z-order, write-audit-publish, HLL / Count-Min / KMV sketches. */
private[queries] object OperatorQueries {
  /** Oracle for the HLL sketch (o11): hex-digit integer arithmetic for the
    * bucket and 32-bit window, the [[graft.ops.Sketches.termSql]] ladder
    * (generated from the same loop as the Column form), exact-integer
    * register sums, and the double formulas mirrored operation for
    * operation (DuckDB ln = Spark log, both natural). */
  private def hllOracle: String = {
    def hexDigit(i: Int) = s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)"
    val bucket = (1 to 3).map(i => s"${hexDigit(i)} * ${math.pow(16, 3 - i).toLong}")
      .mkString(" + ")
    val w = (0 until 8).map(i => s"${hexDigit(4 + i)} * ${1L << (4 * (7 - i))}")
      .mkString(" + ")
    val m = "CAST('4096.0' AS DOUBLE)"
    val alpha = s"CAST('0.7213' AS DOUBLE) / (CAST('1.0' AS DOUBLE) + CAST('1.079' AS DOUBLE) / $m)"
    s"""WITH h AS (SELECT md5(CAST(user_id AS VARCHAR)) AS hx FROM events),
       |d AS (SELECT $bucket AS bucket, $w AS w FROM h),
       |t AS (SELECT bucket, MIN(${graft.ops.Sketches.termSql("w")}) AS t
       |      FROM d GROUP BY bucket),
       |a AS (SELECT SUM(t) AS present_sum, COUNT(*) AS nonzero_buckets FROM t),
       |s AS (SELECT CAST(present_sum + (4096 - nonzero_buckets) * ${1L << 33} AS BIGINT)
       |        AS sum_int, nonzero_buckets FROM a),
       |r AS (SELECT sum_int, nonzero_buckets,
       |        $alpha * $m * $m / (CAST(sum_int AS DOUBLE) / CAST('8589934592.0' AS DOUBLE)) AS raw,
       |        CAST(4096 - nonzero_buckets AS DOUBLE) AS zeros FROM s),
       |f AS (SELECT nonzero_buckets,
       |        CASE WHEN raw <= CAST('2.5' AS DOUBLE) * $m AND zeros > 0
       |             THEN $m * ln($m / zeros) ELSE raw END AS n_hll FROM r)
       |SELECT e.n_exact, CAST(f.nonzero_buckets AS BIGINT) AS nonzero_buckets,
       |  printf('%.4f', f.n_hll) AS n_hll_r,
       |  printf('%.4f', (f.n_hll - CAST(e.n_exact AS DOUBLE)) / CAST(e.n_exact AS DOUBLE))
       |    AS rel_err_r
       |FROM f CROSS JOIN (SELECT COUNT(DISTINCT user_id) AS n_exact FROM events) e""".stripMargin
  }

  /** Oracle for the column-statistics pass (o35): one [[hllOracle]]-style
    * register chain per column (same hex-digit arithmetic, same
    * [[graft.ops.Sketches.termSql]] ladder, same estimator tail — generated
    * from the same loops), null-filtered like the engine's fanout, the
    * double column hashed through its DECIMAL(18,4) rendering (the shared
    * cross-engine string form), and the exact min/max/null stats stated
    * directly. */
  private def statsOracle: String = {
    def hexDigit(i: Int) = s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)"
    val bucket = (1 to 3).map(i => s"${hexDigit(i)} * ${math.pow(16, 3 - i).toLong}")
      .mkString(" + ")
    val w = (0 until 8).map(i => s"${hexDigit(4 + i)} * ${1L << (4 * (7 - i))}")
      .mkString(" + ")
    val m = "CAST('4096.0' AS DOUBLE)"
    val alpha = s"CAST('0.7213' AS DOUBLE) / (CAST('1.0' AS DOUBLE) + CAST('1.079' AS DOUBLE) / $m)"
    val cols = Seq(
      ("event_id", "CAST(event_id AS VARCHAR)",
        "CAST(MIN(event_id) AS DOUBLE)", "CAST(MAX(event_id) AS DOUBLE)",
        "COUNT(*) FILTER (WHERE event_id IS NULL)"),
      ("user_id", "CAST(user_id AS VARCHAR)",
        "CAST(MIN(user_id) AS DOUBLE)", "CAST(MAX(user_id) AS DOUBLE)",
        "COUNT(*) FILTER (WHERE user_id IS NULL)"),
      ("event_type", "event_type",
        "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
        "COUNT(*) FILTER (WHERE event_type IS NULL)"),
      ("value", "CAST(CAST(value AS DECIMAL(18,4)) AS VARCHAR)",
        "MIN(value)", "MAX(value)",
        "COUNT(*) FILTER (WHERE value IS NULL)"))
    val chains = cols.map { case (tag, key, _, _, _) =>
      s"""h_$tag AS (SELECT md5($key) AS hx FROM events WHERE $key IS NOT NULL),
         |d_$tag AS (SELECT $bucket AS bucket, $w AS w FROM h_$tag),
         |t_$tag AS (SELECT bucket, MIN(${graft.ops.Sketches.termSql("w")}) AS t
         |           FROM d_$tag GROUP BY bucket),
         |a_$tag AS (SELECT SUM(t) AS ps, COUNT(*) AS nz FROM t_$tag),
         |r_$tag AS (SELECT $alpha * $m * $m /
         |    (CAST(CAST(ps + (4096 - nz) * ${1L << 33} AS BIGINT) AS DOUBLE) /
         |     CAST('8589934592.0' AS DOUBLE)) AS raw,
         |    CAST(4096 - nz AS DOUBLE) AS zeros FROM a_$tag),
         |f_$tag AS (SELECT CASE WHEN raw <= CAST('2.5' AS DOUBLE) * $m AND zeros > 0
         |    THEN $m * ln($m / zeros) ELSE raw END AS n_hll FROM r_$tag)""".stripMargin
    }
    val selects = cols.map { case (tag, _, mn, mx, nn) =>
      s"""SELECT '$tag' AS column_name, (SELECT COUNT(*) FROM events) AS n_rows,
         |  (SELECT $nn FROM events) AS n_nulls,
         |  (SELECT $mn FROM events) AS min_num,
         |  (SELECT $mx FROM events) AS max_num,
         |  (SELECT printf('%.4f', n_hll) FROM f_$tag) AS ndv_r""".stripMargin
    }
    s"WITH ${chains.mkString(",\n")}\n${selects.mkString("\nUNION ALL\n")}"
  }

  /** Oracle for the KMV sketch (o27): the same 15-hex-digit integer ladder
    * as [[graft.ops.Sketches.kmvHashSql]] (generated from the same code),
    * k smallest distinct hashes relationally (DISTINCT → ORDER BY → LIMIT —
    * value-deterministic, so the two engines' different top-k machinery
    * lands on the identical set), the estimator branch mirrored
    * operation for operation. */
  private def kmvOracle: String = {
    val k = 256
    val h = graft.ops.Sketches.kmvHashSql("event_id")
    s"""WITH hs AS (SELECT DISTINCT $h AS h FROM events),
       |sk AS (SELECT h FROM hs ORDER BY h LIMIT $k),
       |a AS (SELECT COUNT(*) AS n_kept, MAX(h) AS kth FROM sk),
       |f AS (SELECT n_kept, kth,
       |  ${graft.ops.Sketches.kmvEstimateSql("n_kept", "kth", k)} AS est FROM a),
       |e AS (SELECT COUNT(DISTINCT event_id) AS n_exact FROM events)
       |SELECT e.n_exact, f.n_kept, f.kth,
       |  printf('%.4f', f.est) AS est_r,
       |  printf('%.4f', (f.est - CAST(e.n_exact AS DOUBLE)) / CAST(e.n_exact AS DOUBLE))
       |    AS rel_err_r
       |FROM f CROSS JOIN e""".stripMargin
  }

  /** Oracle for o29: per-day bottom-k partials (window rank per day),
    * value-merged bottom-k vs the direct bottom-k, both recomputed
    * independently; difference count and both estimator tails mirrored. */
  private def kmvMergeOracle: String = {
    val k = 256
    val h = graft.ops.Sketches.kmvHashSql("event_id")
    s"""WITH hs AS (SELECT strftime(ts, '%Y-%m-%d') AS part, $h AS h FROM events),
       |dp AS (SELECT DISTINCT part, h FROM hs),
       |rk AS (SELECT part, h, row_number() OVER (PARTITION BY part ORDER BY h) AS rn
       |       FROM dp),
       |pk AS (SELECT part, h FROM rk WHERE rn <= $k),
       |mg AS (SELECT h FROM (SELECT DISTINCT h FROM pk) ORDER BY h LIMIT $k),
       |dr AS (SELECT h FROM (SELECT DISTINCT h FROM hs) ORDER BY h LIMIT $k),
       |np AS (SELECT COUNT(DISTINCT part) AS n_parts FROM hs),
       |ma AS (SELECT COUNT(*) AS n_kept_m, MAX(h) AS kth_m FROM mg),
       |da AS (SELECT COUNT(*) AS n_kept_d, MAX(h) AS kth_d FROM dr),
       |df AS (SELECT COUNT(*) AS n_diff FROM
       |       (SELECT h FROM mg EXCEPT SELECT h FROM dr))
       |SELECT np.n_parts, ma.n_kept_m AS n_kept, ma.kth_m AS kth_merged,
       |  da.kth_d AS kth_direct, df.n_diff,
       |  printf('%.4f', ${graft.ops.Sketches.kmvEstimateSql("ma.n_kept_m", "ma.kth_m", k)})
       |    AS est_merged_r,
       |  printf('%.4f', ${graft.ops.Sketches.kmvEstimateSql("da.n_kept_d", "da.kth_d", k)})
       |    AS est_direct_r
       |FROM np CROSS JOIN ma CROSS JOIN da CROSS JOIN df""".stripMargin
  }

  /** Oracle for o28: per-language shingle sets (the d10 shingle SQL), each
    * side's bottom-k sketch, the union sketch merged from the two sketches'
    * VALUES (≤ 2k rows), match counting, and the estimator/jaccard chain —
    * every double op mirrored, every count an exact integer. */
  private def kmvJaccardOracle: String = {
    val k = 256
    val h = graft.ops.Sketches.kmvHashSql("t")
    val shingleSql =
      """CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |     ELSE list_transform(range(1, len(tk) - 1),
        |                         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END""".stripMargin
    s"""WITH dk AS (SELECT lang, $toksSql AS tk FROM documents
       |            WHERE lang IN ('en', 'de')),
       |sh AS (SELECT lang, unnest($shingleSql) AS t FROM dk),
       |hs AS (SELECT lang, $h AS h FROM sh),
       |ska AS (SELECT h FROM (SELECT DISTINCT h FROM hs WHERE lang = 'en')
       |        ORDER BY h LIMIT $k),
       |skb AS (SELECT h FROM (SELECT DISTINCT h FROM hs WHERE lang = 'de')
       |        ORDER BY h LIMIT $k),
       |mu AS (SELECT h FROM (SELECT DISTINCT h FROM
       |         (SELECT h FROM ska UNION ALL SELECT h FROM skb))
       |       ORDER BY h LIMIT $k),
       |mt AS (SELECT COUNT(*) AS n_match FROM mu
       |       WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)),
       |st AS (SELECT COUNT(*) AS n_kept_u, MAX(h) AS kth_u FROM mu),
       |tex AS (SELECT DISTINCT lang, t FROM sh),
       |ex AS (SELECT
       |  (SELECT COUNT(*) FROM (SELECT t FROM tex WHERE lang = 'en') x
       |     WHERE t IN (SELECT t FROM tex WHERE lang = 'de')) AS n_inter_exact,
       |  (SELECT COUNT(DISTINCT t) FROM tex) AS n_union_exact),
       |f AS (SELECT n_kept_u, kth_u, n_match,
       |  ${graft.ops.Sketches.kmvEstimateSql("n_kept_u", "kth_u", k)} AS union_est,
       |  CAST(n_match AS DOUBLE) / CAST(n_kept_u AS DOUBLE) AS jac
       |  FROM st CROSS JOIN mt)
       |SELECT f.n_kept_u, f.kth_u, f.n_match, ex.n_inter_exact, ex.n_union_exact,
       |  ex.n_inter_exact * 10000 // ex.n_union_exact AS jaccard_exact_bp,
       |  printf('%.4f', f.jac) AS jaccard_est_r,
       |  printf('%.4f', f.union_est) AS union_est_r,
       |  printf('%.4f', f.jac * f.union_est) AS inter_est_r
       |FROM f CROSS JOIN ex""".stripMargin
  }

  /** Oracle for o15: [[hllOracle]] with the day group carried through every
    * stage — same digit ladder, same estimator branches, per group. */
  /** o34 oracle: the hllByOracle chain on integer days, registers expanded
    * to their ≤7 target days before the per-(day, bucket) MIN. */
  private def hllSlidingOracle: String = {
    def hexDigit(i: Int) = s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)"
    val bucket = (1 to 3).map(i => s"${hexDigit(i)} * ${math.pow(16, 3 - i).toLong}")
      .mkString(" + ")
    val w = (0 until 8).map(i => s"${hexDigit(4 + i)} * ${1L << (4 * (7 - i))}")
      .mkString(" + ")
    val m = "CAST('4096.0' AS DOUBLE)"
    val alpha = s"CAST('0.7213' AS DOUBLE) / (CAST('1.0' AS DOUBLE) + CAST('1.079' AS DOUBLE) / $m)"
    s"""WITH h AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d0,
       |             user_id, md5(CAST(user_id AS VARCHAR)) AS hx FROM events),
       |days AS (SELECT DISTINCT d0 AS day FROM h),
       |dd AS (SELECT d0, $bucket AS bucket, $w AS w FROM h),
       |t0 AS (SELECT d0, bucket, MIN(${graft.ops.Sketches.termSql("w")}) AS t
       |       FROM dd GROUP BY d0, bucket),
       |ex0 AS (SELECT d0, bucket, t, unnest(range(d0, d0 + 7)) AS day FROM t0),
       |t AS (SELECT day, bucket, MIN(t) AS t FROM ex0
       |      JOIN days USING (day) GROUP BY day, bucket),
       |a AS (SELECT day, SUM(t) AS present_sum, COUNT(*) AS nonzero_buckets
       |      FROM t GROUP BY day),
       |s AS (SELECT day, CAST(present_sum + (4096 - nonzero_buckets) * ${1L << 33} AS BIGINT)
       |        AS sum_int, nonzero_buckets FROM a),
       |r AS (SELECT day, sum_int, nonzero_buckets,
       |        $alpha * $m * $m / (CAST(sum_int AS DOUBLE) / CAST('8589934592.0' AS DOUBLE)) AS raw,
       |        CAST(4096 - nonzero_buckets AS DOUBLE) AS zeros FROM s),
       |f AS (SELECT day, nonzero_buckets,
       |        CASE WHEN raw <= CAST('2.5' AS DOUBLE) * $m AND zeros > 0
       |             THEN $m * ln($m / zeros) ELSE raw END AS n_hll FROM r),
       |exx AS (SELECT d0, user_id, unnest(range(d0, d0 + 7)) AS day FROM h),
       |ex AS (SELECT day, COUNT(DISTINCT user_id) AS n_exact FROM exx
       |       JOIN days USING (day) GROUP BY day)
       |SELECT ex.day, ex.n_exact,
       |  CAST(f.nonzero_buckets AS BIGINT) AS nonzero_buckets,
       |  printf('%.4f', f.n_hll) AS n_hll_r,
       |  printf('%.4f', (f.n_hll - CAST(ex.n_exact AS DOUBLE)) / CAST(ex.n_exact AS DOUBLE))
       |    AS rel_err_r
       |FROM f JOIN ex USING (day)""".stripMargin
  }

  private def hllByOracle: String = {
    def hexDigit(i: Int) = s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)"
    val bucket = (1 to 3).map(i => s"${hexDigit(i)} * ${math.pow(16, 3 - i).toLong}")
      .mkString(" + ")
    val w = (0 until 8).map(i => s"${hexDigit(4 + i)} * ${1L << (4 * (7 - i))}")
      .mkString(" + ")
    val m = "CAST('4096.0' AS DOUBLE)"
    val alpha = s"CAST('0.7213' AS DOUBLE) / (CAST('1.0' AS DOUBLE) + CAST('1.079' AS DOUBLE) / $m)"
    s"""WITH h AS (SELECT strftime(ts, '%Y-%m-%d') AS grp,
       |             md5(CAST(user_id AS VARCHAR)) AS hx FROM events),
       |d AS (SELECT grp, $bucket AS bucket, $w AS w FROM h),
       |t AS (SELECT grp, bucket, MIN(${graft.ops.Sketches.termSql("w")}) AS t
       |      FROM d GROUP BY grp, bucket),
       |a AS (SELECT grp, SUM(t) AS present_sum, COUNT(*) AS nonzero_buckets
       |      FROM t GROUP BY grp),
       |s AS (SELECT grp, CAST(present_sum + (4096 - nonzero_buckets) * ${1L << 33} AS BIGINT)
       |        AS sum_int, nonzero_buckets FROM a),
       |r AS (SELECT grp, sum_int, nonzero_buckets,
       |        $alpha * $m * $m / (CAST(sum_int AS DOUBLE) / CAST('8589934592.0' AS DOUBLE)) AS raw,
       |        CAST(4096 - nonzero_buckets AS DOUBLE) AS zeros FROM s),
       |f AS (SELECT grp, nonzero_buckets,
       |        CASE WHEN raw <= CAST('2.5' AS DOUBLE) * $m AND zeros > 0
       |             THEN $m * ln($m / zeros) ELSE raw END AS n_hll FROM r),
       |ex AS (SELECT strftime(ts, '%Y-%m-%d') AS grp,
       |         COUNT(DISTINCT user_id) AS n_exact FROM events GROUP BY grp)
       |SELECT ex.grp AS day, ex.n_exact,
       |  CAST(f.nonzero_buckets AS BIGINT) AS nonzero_buckets,
       |  printf('%.4f', f.n_hll) AS n_hll_r,
       |  printf('%.4f', (f.n_hll - CAST(ex.n_exact AS DOUBLE)) / CAST(ex.n_exact AS DOUBLE))
       |    AS rel_err_r
       |FROM f JOIN ex USING (grp)""".stripMargin
  }

  /** Oracle for o16: BOTH paths recomputed independently — per-day register
    * mins merged by register-wise MIN, and the direct global registers —
    * through the same estimator tail. Same digit ladder as [[hllOracle]]. */
  private def hllMergeOracle: String = {
    def hexDigit(i: Int) = s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)"
    val bucket = (1 to 3).map(i => s"${hexDigit(i)} * ${math.pow(16, 3 - i).toLong}")
      .mkString(" + ")
    val w = (0 until 8).map(i => s"${hexDigit(4 + i)} * ${1L << (4 * (7 - i))}")
      .mkString(" + ")
    val m = "CAST('4096.0' AS DOUBLE)"
    val alpha = s"CAST('0.7213' AS DOUBLE) / (CAST('1.0' AS DOUBLE) + CAST('1.079' AS DOUBLE) / $m)"
    def tail(regs: String, out: String) =
      s"""${out}a AS (SELECT SUM(t) AS present_sum, COUNT(*) AS nonzero_buckets FROM $regs),
         |${out}s AS (SELECT CAST(present_sum + (4096 - nonzero_buckets) * ${1L << 33} AS BIGINT)
         |        AS sum_int, nonzero_buckets FROM ${out}a),
         |${out}r AS (SELECT sum_int, nonzero_buckets,
         |        $alpha * $m * $m / (CAST(sum_int AS DOUBLE) / CAST('8589934592.0' AS DOUBLE)) AS raw,
         |        CAST(4096 - nonzero_buckets AS DOUBLE) AS zeros FROM ${out}s),
         |${out}f AS (SELECT sum_int, nonzero_buckets,
         |        CASE WHEN raw <= CAST('2.5' AS DOUBLE) * $m AND zeros > 0
         |             THEN $m * ln($m / zeros) ELSE raw END AS n_hll FROM ${out}r)""".stripMargin
    s"""WITH h AS (SELECT strftime(ts, '%Y-%m-%d') AS grp,
       |             md5(CAST(user_id AS VARCHAR)) AS hx FROM events),
       |d AS (SELECT grp, $bucket AS bucket, $w AS w FROM h),
       |tday AS (SELECT grp, bucket, MIN(${graft.ops.Sketches.termSql("w")}) AS t
       |      FROM d GROUP BY grp, bucket),
       |tm AS (SELECT bucket, MIN(t) AS t FROM tday GROUP BY bucket),
       |td AS (SELECT bucket, MIN(${graft.ops.Sketches.termSql("w")}) AS t
       |      FROM d GROUP BY bucket),
       |${tail("tm", "m")},
       |${tail("td", "d")},
       |np AS (SELECT COUNT(DISTINCT grp) AS n_parts FROM h)
       |SELECT np.n_parts, mf.sum_int,
       |  CAST(mf.nonzero_buckets AS BIGINT) AS nonzero_buckets,
       |  printf('%.4f', mf.n_hll) AS n_merged_r,
       |  printf('%.4f', df.n_hll) AS n_direct_r
       |FROM mf CROSS JOIN df CROSS JOIN np""".stripMargin
  }

  /** Oracle for o12: the same d×w md5-bucket cells ([[graft.ops.Sketches
    * .cmsBucketSql]] — generated from the same code as the Column form),
    * grouped counts, min-over-rows estimate. Pure integer arithmetic. */
  private def cmsOracle: String = {
    val d = 4; val w = 512
    def cellsFor(src: String, keyExpr: String, carry: String): String =
      (0 until d).map(i =>
        s"SELECT $carry$i AS row, ${graft.ops.Sketches.cmsBucketSql(keyExpr, i, w)} AS bucket FROM $src")
        .mkString("\n  UNION ALL ")
    s"""WITH cells AS (
       |  ${cellsFor("events", "user_id", "")}),
       |sk AS (SELECT row, bucket, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
       |probes AS (SELECT DISTINCT user_id FROM events WHERE user_id < 25),
       |pc AS (
       |  ${cellsFor("probes", "user_id", "user_id, ")}),
       |est AS (SELECT user_id, MIN(cnt) AS n_cms
       |        FROM pc JOIN sk USING (row, bucket) GROUP BY 1),
       |ex AS (SELECT user_id, COUNT(*) AS n_exact FROM events
       |       WHERE user_id < 25 GROUP BY 1)
       |SELECT ex.user_id, n_exact, n_cms FROM ex JOIN est USING (user_id)""".stripMargin
  }

  /** Oracle for o17: BOTH paths — per-day cells summed cell-wise, and the
    * direct global cells — probed independently. Pure integer arithmetic. */
  private def cmsMergeOracle: String = {
    val d = 4; val w = 512
    def cellsFor(src: String, keyExpr: String, carry: String): String =
      (0 until d).map(i =>
        s"SELECT $carry$i AS row, ${graft.ops.Sketches.cmsBucketSql(keyExpr, i, w)} AS bucket FROM $src")
        .mkString("\n  UNION ALL ")
    s"""WITH dcells AS (
       |  ${cellsFor("events", "user_id", "strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS part, ")}),
       |pd AS (SELECT part, row, bucket, COUNT(*) AS cnt FROM dcells GROUP BY 1, 2, 3),
       |mg AS (SELECT row, bucket, CAST(SUM(cnt) AS BIGINT) AS cnt FROM pd GROUP BY 1, 2),
       |cells AS (
       |  ${cellsFor("events", "user_id", "")}),
       |sk AS (SELECT row, bucket, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
       |probes AS (SELECT DISTINCT user_id FROM events WHERE user_id < 25),
       |pc AS (
       |  ${cellsFor("probes", "user_id", "user_id, ")}),
       |estm AS (SELECT user_id, MIN(cnt) AS n_merged
       |         FROM pc JOIN mg USING (row, bucket) GROUP BY 1),
       |estd AS (SELECT user_id, MIN(cnt) AS n_direct
       |         FROM pc JOIN sk USING (row, bucket) GROUP BY 1),
       |ex AS (SELECT user_id, COUNT(*) AS n_exact FROM events
       |       WHERE user_id < 25 GROUP BY 1)
       |SELECT ex.user_id, n_exact, n_merged, n_direct
       |FROM ex JOIN estm USING (user_id) JOIN estd USING (user_id)""".stripMargin
  }

  val all: Seq[Query] = Seq(
    // O6/S9 — compaction end-to-end: two upsert versions per hour partition,
    // compact to one file per hour, then report the ACTUAL on-disk file
    // count alongside a content rollup. The oracle pins n_files = 1 and
    // recomputes the content from events — a superseded version surviving
    // compaction, a lost row, or a split partition all hash-mismatch.
    Query("o6_compact_files", Maintenance, (s, dir) => {
      val work = scratch("o6")
      val table = new graft.store.KeyedParquetTable(s"$work/table", "tx_minute")
      def minuteAgg(df: DataFrame, v: Double) =
        MinuteAggregate(df, "ts", "value").withColumn("event_time", lit(v))
      table.upsert(minuteAgg(ev(s, dir).filter(pmod(col("event_id"), lit(2)) === 0), 0.0), 0, bulk = true)
      table.upsert(minuteAgg(ev(s, dir), 1.0), 1, bulk = true)
      table.compact(s, targetFileBytes = Long.MaxValue)
      val files = s.createDataFrame(table.hourPrefixFileCounts(s))
        .toDF("hour_prefix", "n_files")
      val content = table.readLatest(s)
        .groupBy(substring(col("tx_minute"), 1, 13).as("hour_prefix"))
        .agg(count(lit(1)).as("n_minutes"), sum(col("total_nb_trx_1min")).as("total_trx"))
      files.join(content, "hour_prefix")
        .select(col("hour_prefix"), col("n_files"), col("n_minutes"), col("total_trx"))
    },
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour_prefix,
        |  CAST(1 AS INTEGER) AS n_files,
        |  COUNT(DISTINCT date_trunc('minute', ts)) AS n_minutes,
        |  COUNT(*) AS total_trx
        |FROM events GROUP BY 1""".stripMargin),

    // O46 — zone-map pruning audit: WOULD the file layout skip the scan?
    // Per-file min/max stats (the parquet footer / Iceberg manifest
    // content) are simulated for two layouts of orders — natural key order
    // vs sorted by o_orderdate — at 4096 rows/file, then a 12-month probe
    // ladder counts the files whose [min,max] range intersects each month.
    // The by-date layout prunes ~98% of files per month; the by-key layout
    // ~0% (every file spans the full date range) — THE sort-before-write
    // decision at 100 TB, quantified as data instead of folklore. Layouts
    // are built with the two-pass range-partitioned global rank (never one
    // sort partition); the stats relation is rows/4096 — metadata-sized —
    // and the probe join broadcasts 12 rows against it.
    Query("o46_zonemap_audit", Throughput, (s, dir) => {
      val perFile = 4096
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate"))
      def stats(ordered: DataFrame, name: String): DataFrame =
        ordered.withColumn("file_id", expr(s"(pos - 1) div $perFile"))
          .groupBy(col("file_id"))
          .agg(min(col("o_orderdate")).as("mn"), max(col("o_orderdate")).as("mx"))
          .withColumn("layout", lit(name))
      val files = stats(graft.ops.Ranking.globalRowNumber(o,
          Seq(col("o_orderkey"))), "by_key")
        .unionByName(stats(graft.ops.Ranking.globalRowNumber(o,
          Seq(col("o_orderdate"), col("o_orderkey"))), "by_date"))
      val probes = s.range(1, 13).select(col("id").as("probe_month"),
        expr("make_date(1995, id, 1)").cast("timestamp").as("lo"),
        expr("make_date(if(id = 12, 1996, 1995), if(id = 12, 1, id + 1), 1)")
          .cast("timestamp").as("hi"))
      files.crossJoin(broadcast(probes))
        .groupBy(col("layout"), col("probe_month"))
        .agg(count(lit(1)).as("n_files"),
          count(when(col("mn") < col("hi") && col("mx") >= col("lo"), lit(1)))
            .as("files_read"))
        .withColumn("prune_bp",
          expr("(n_files - files_read) * 10000 div n_files"))
    },
      // Mirrors o46: same 4096-row file assignment under both orderings
      // (unique tie-breaks), same month ladder, same intersection predicate.
      """WITH o AS (SELECT o_orderkey, o_orderdate FROM orders),
        |bk AS (SELECT (row_number() OVER (ORDER BY o_orderkey) - 1) // 4096
        |         AS file_id, o_orderdate FROM o),
        |bd AS (SELECT (row_number() OVER (ORDER BY o_orderdate, o_orderkey) - 1)
        |         // 4096 AS file_id, o_orderdate FROM o),
        |files AS (
        |  SELECT 'by_key' AS layout, file_id, MIN(o_orderdate) AS mn,
        |         MAX(o_orderdate) AS mx FROM bk GROUP BY 2
        |  UNION ALL
        |  SELECT 'by_date', file_id, MIN(o_orderdate), MAX(o_orderdate)
        |  FROM bd GROUP BY 2),
        |probes AS (SELECT m AS probe_month,
        |    CAST(make_date(1995, CAST(m AS INT), 1) AS TIMESTAMP) AS lo,
        |    CAST(make_date(CASE WHEN m = 12 THEN 1996 ELSE 1995 END,
        |                   CASE WHEN m = 12 THEN 1 ELSE CAST(m + 1 AS INT) END,
        |                   1) AS TIMESTAMP) AS hi
        |  FROM range(1, 13) t(m))
        |SELECT layout, probe_month, COUNT(*) AS n_files,
        |  COUNT(*) FILTER (WHERE mn < hi AND mx >= lo) AS files_read,
        |  CAST((COUNT(*) - COUNT(*) FILTER (WHERE mn < hi AND mx >= lo))
        |       * 10000 // COUNT(*) AS BIGINT) AS prune_bp
        |FROM files CROSS JOIN probes
        |GROUP BY 1, 2""".stripMargin),

    // O47 — resharding-movement audit: growing 16 → 17 shards, what
    // fraction of keys MOVE under mod-N placement (≈ all of them — the
    // classic rehash catastrophe) vs rendezvous/HRW hashing (≈ 1/17 — only
    // keys whose new shard wins the hash race)? The storage-design number
    // behind every 100 TB shard-count change, quantified per scheme with
    // the shard-balance spread riding along. HRW assignment is map-only
    // (an N-element array max per key — no shuffle, no join; real serving
    // uses it per request, and jump-consistent-hash is the O(log N)
    // alternative when N is large); the only exchanges are two
    // shards-sized rollups.
    Query("o47_resharding", Throughput, (s, dir) => {
      def hrw(n: Int): Column = expr(
        s"""array_max(transform(sequence(0, ${n - 1}),
            s -> struct(md5(concat(cast(s as string), ':',
                   cast(o_orderkey as string))) as h, s as sid))).sid""")
      val assigned = Tables.orders(s, dir).select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(16)).cast("int").as("mod_a"),
        pmod(col("o_orderkey"), lit(17)).cast("int").as("mod_b"),
        hrw(16).as("hrw_a"), hrw(17).as("hrw_b"))
      def audit(a: Column, b: Column, scheme: String): DataFrame =
        assigned.select(a.as("sh"), (a =!= b).cast("long").as("mv"))
          .groupBy(col("sh"))
          .agg(count(lit(1)).as("n"), sum(col("mv")).as("mvd"))
          .agg(sum(col("n")).as("n_keys"), sum(col("mvd")).as("n_moved"),
            max(col("n")).as("max_load"), min(col("n")).as("min_load"))
          .select(lit(scheme).as("scheme"), col("n_keys"), col("n_moved"),
            expr("n_moved * 10000 div n_keys").as("moved_bp"),
            col("max_load"), col("min_load"))
      audit(col("mod_a"), col("mod_b"), "mod_n")
        .unionByName(audit(col("hrw_a"), col("hrw_b"), "rendezvous"))
    },
      // Mirrors q35: integer cents, cross-multiplied global threshold over
      // positive balances, NOT EXISTS anti join, nation rollup.
      // Mirrors o47: identical md5(s ':' key) race (rn = 1 under h DESC,
      // s DESC ↔ Spark's array_max over (h, sid) structs), same mod shards,
      // same per-shard rollup then 1-row fold.
      """WITH k AS (SELECT o_orderkey FROM orders),
        |e AS (SELECT o_orderkey, s,
        |    md5(CAST(s AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)) AS h
        |  FROM k CROSS JOIN range(0, 17) t(s)),
        |a16 AS (SELECT o_orderkey, s FROM (
        |  SELECT o_orderkey, s, row_number() OVER (PARTITION BY o_orderkey
        |    ORDER BY h DESC, s DESC) AS rn FROM e WHERE s < 16) WHERE rn = 1),
        |a17 AS (SELECT o_orderkey, s FROM (
        |  SELECT o_orderkey, s, row_number() OVER (PARTITION BY o_orderkey
        |    ORDER BY h DESC, s DESC) AS rn FROM e) WHERE rn = 1),
        |rows_m AS (SELECT CAST(o_orderkey % 16 AS INT) AS sh,
        |    CASE WHEN o_orderkey % 16 <> o_orderkey % 17 THEN 1 ELSE 0 END AS mv
        |  FROM k),
        |rows_h AS (SELECT CAST(a16.s AS INT) AS sh,
        |    CASE WHEN a16.s <> a17.s THEN 1 ELSE 0 END AS mv
        |  FROM a16 JOIN a17 USING (o_orderkey)),
        |g_m AS (SELECT sh, COUNT(*) AS n, SUM(mv) AS mvd FROM rows_m GROUP BY 1),
        |g_h AS (SELECT sh, COUNT(*) AS n, SUM(mv) AS mvd FROM rows_h GROUP BY 1)
        |SELECT 'mod_n' AS scheme, CAST(SUM(n) AS BIGINT) AS n_keys,
        |  CAST(SUM(mvd) AS BIGINT) AS n_moved,
        |  CAST(SUM(mvd) * 10000 // SUM(n) AS BIGINT) AS moved_bp,
        |  CAST(MAX(n) AS BIGINT) AS max_load, CAST(MIN(n) AS BIGINT) AS min_load
        |FROM g_m
        |UNION ALL
        |SELECT 'rendezvous', CAST(SUM(n) AS BIGINT), CAST(SUM(mvd) AS BIGINT),
        |  CAST(SUM(mvd) * 10000 // SUM(n) AS BIGINT),
        |  CAST(MAX(n) AS BIGINT), CAST(MIN(n) AS BIGINT)
        |FROM g_h""".stripMargin),

    // O48 — copy-on-write vs merge-on-read WRITE-AMPLIFICATION audit (the
    // lakehouse table-format decision): one month of late fixes lands on
    // lineitem laid out 4096 rows/file in natural key order. COW rewrites
    // every file containing a touched row (rows_written = Σ sizes of
    // touched files); MOR appends a delta (rows_written = n_updates) and
    // pays at read time (files_touched counts the base files a reader must
    // merge against). Amplification in integer basis points — at 100 TB
    // this ratio × update cadence IS the COW/MOR choice. File assignment
    // reuses o46's two-pass global rank; everything downstream is
    // file-relation-sized.
    Query("o48_cow_mor", Throughput, (s, dir) => {
      val perFile = 4096
      val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"))
      val placed = graft.ops.Ranking.globalRowNumber(l,
          Seq(col("l_orderkey"), col("l_linenumber")))
        .withColumn("file_id", expr(s"(pos - 1) div $perFile"))
      val touchedOrders = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1995-03-01").cast("timestamp") &&
                col("o_orderdate") < lit("1995-04-01").cast("timestamp"))
        .select(col("o_orderkey").as("l_orderkey"))
      val touched = placed.join(touchedOrders, Seq("l_orderkey"), "left_semi")
      val fileSizes = placed.groupBy(col("file_id")).agg(count(lit(1)).as("fsz"))
      val touchedFiles = touched.select(col("file_id")).distinct()
      val cow = touchedFiles.join(fileSizes, "file_id")
        .agg(count(lit(1)).as("files_touched"),
          sum(col("fsz")).as("rows_written"))
      val nUpd = touched.agg(count(lit(1)).as("n_updates"))
      cow.crossJoin(broadcast(nUpd))
        .select(lit("cow").as("strategy"), col("n_updates"),
          col("files_touched"), col("rows_written"),
          expr("rows_written * 10000 div n_updates").as("write_amp_bp"))
        .unionByName(cow.crossJoin(broadcast(nUpd))
          .select(lit("mor").as("strategy"), col("n_updates"),
            col("files_touched"), col("n_updates").as("rows_written"),
            lit(10000L).as("write_amp_bp")))
    },
      // Mirrors o48: same (l_orderkey, l_linenumber) placement order, same
      // 4096-row files, same March-1995 touch set.
      """WITH placed AS (SELECT l_orderkey,
        |    (row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1) // 4096
        |      AS file_id
        |  FROM lineitem),
        |tord AS (SELECT o_orderkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-03-01'
        |    AND o_orderdate < TIMESTAMP '1995-04-01'),
        |touched AS (SELECT p.l_orderkey, p.file_id FROM placed p
        |  WHERE EXISTS (SELECT 1 FROM tord WHERE o_orderkey = p.l_orderkey)),
        |fs AS (SELECT file_id, COUNT(*) AS fsz FROM placed GROUP BY 1),
        |tf AS (SELECT DISTINCT file_id FROM touched),
        |cow AS (SELECT COUNT(*) AS files_touched,
        |    CAST(SUM(fsz) AS BIGINT) AS rows_written FROM tf JOIN fs USING (file_id)),
        |nu AS (SELECT COUNT(*) AS n_updates FROM touched)
        |SELECT 'cow' AS strategy, n_updates, files_touched, rows_written,
        |  CAST(rows_written * 10000 // n_updates AS BIGINT) AS write_amp_bp
        |FROM cow CROSS JOIN nu
        |UNION ALL
        |SELECT 'mor', n_updates, files_touched,
        |  CAST(n_updates AS BIGINT), CAST(10000 AS BIGINT)
        |FROM cow CROSS JOIN nu""".stripMargin),

    // O50 — sink-format fidelity audit: the same relation round-trips
    // through ORC, CSV and JSON sinks and must come back with IDENTICAL
    // summary stats to the parquet source-of-truth (row count, key sums,
    // integer cents mass, microsecond time bounds) — the format-breadth
    // gate: a sink that truncates timestamps to milliseconds (CSV's
    // default format would) or mangles a double breaks its row against
    // the format-independent oracle. Timestamps are written/read with an
    // explicit microsecond pattern on the text formats; doubles rely on
    // the exact Double↔String round-trip both writers guarantee. Scale:
    // each leg is one write + one scan + a 1-row aggregate.
    Query("o50_sink_fidelity", Throughput, (s, dir) => {
      val work = scratch("o50")
      val src = ev(s, dir).select(col("event_id"), col("ts"),
        col("user_id"), col("value"))
      val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      def stats(df: DataFrame, fmt: String): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
            sum(col("event_id")).as("sum_id"),
            sum(col("user_id")).as("sum_user"),
            sum(floor(col("value") * 100).cast("long")).as("sum_cents"),
            min(expr("unix_micros(ts)")).as("min_ts_us"),
            max(expr("unix_micros(ts)")).as("max_ts_us"))
          .select(lit(fmt).as("format"), col("n_rows"), col("sum_id"),
            col("sum_user"), col("sum_cents"), col("min_ts_us"),
            col("max_ts_us"))
      src.write.mode("overwrite").orc(s"$work/orc")
      src.write.mode("overwrite").option("header", "true")
        .option("timestampFormat", tsFmt).csv(s"$work/csv")
      src.write.mode("overwrite").option("timestampFormat", tsFmt)
        .json(s"$work/json")
      stats(src, "parquet")
        .unionByName(stats(s.read.orc(s"$work/orc"), "orc"))
        .unionByName(stats(s.read.option("header", "true")
          .option("timestampFormat", tsFmt).schema(src.schema)
          .csv(s"$work/csv"), "csv"))
        .unionByName(stats(s.read.option("timestampFormat", tsFmt)
          .schema(src.schema).json(s"$work/json"), "json"))
    },
      // Mirrors o50 format-independently: the EXPECTED stats from the parquet
      // source, one row per format — a Spark-side round-trip corruption shows
      // up as that format's row diverging from the oracle's.
      """WITH t AS (SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(event_id) AS BIGINT) AS sum_id,
        |    CAST(SUM(user_id) AS BIGINT) AS sum_user,
        |    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |    epoch_us(CAST(min(ts) AS TIMESTAMP)) AS min_ts_us,
        |    epoch_us(CAST(max(ts) AS TIMESTAMP)) AS max_ts_us
        |  FROM events)
        |SELECT f.format, t.n_rows, t.sum_id, t.sum_user, t.sum_cents,
        |       t.min_ts_us, t.max_ts_us
        |FROM t CROSS JOIN (VALUES ('parquet'), ('orc'), ('csv'), ('json'))
        |  AS f(format)""".stripMargin),

    // O49 — deletion-cost audit (the right-to-be-forgotten number): COW
    // deletion of ONE user's rows (the GDPR request shape) rewrites every
    // file holding one of them — under a TIME layout a user's history
    // smears across ~every file (delete amplification ~ table/user); under
    // a USER-clustered layout it concentrates into the user's own file run
    // (~1 file). o46 quantifies layout for READS, o48 for updates — this one
    // for deletion compliance, the third axis a 100 TB table owner must
    // weigh before picking a sort order. Same machinery: two-pass global
    // rank placement, file relations rows/8192, everything downstream
    // metadata-sized.
    Query("o49_deletion_cost", Throughput, (s, dir) => {
      val perFile = 8192
      val e = ev(s, dir).select(col("event_id"), col("ts"), col("user_id"))
      def audit(ordered: DataFrame, name: String): DataFrame = {
        val placed = ordered.withColumn("file_id", expr(s"(pos - 1) div $perFile"))
        val sizes = placed.groupBy(col("file_id")).agg(count(lit(1)).as("fsz"))
        val del = placed.filter(col("user_id") === 42)
        val touched = del.select(col("file_id")).distinct()
        touched.join(sizes, "file_id")
          .agg(count(lit(1)).as("files_touched"),
            sum(col("fsz")).as("rows_rewritten"))
          .crossJoin(broadcast(sizes.agg(count(lit(1)).as("n_files"))))
          .crossJoin(broadcast(del.agg(count(lit(1)).as("n_deleted"))))
          .select(lit(name).as("layout"), col("n_files"), col("n_deleted"),
            col("files_touched"), col("rows_rewritten"),
            expr("rows_rewritten * 10000 div n_deleted").as("delete_amp_bp"))
      }
      audit(graft.ops.Ranking.globalRowNumber(e,
          Seq(col("ts"), col("event_id"))), "by_time")
        .unionByName(audit(graft.ops.Ranking.globalRowNumber(e,
          Seq(col("user_id"), col("ts"), col("event_id"))), "by_user"))
    },
      // Mirrors o49: same placements (unique tie-broken orders), same single
      // deleted user, same COW rewrite accounting.
      """WITH e AS (SELECT event_id, ts, user_id FROM events),
        |pt AS (SELECT user_id,
        |    (row_number() OVER (ORDER BY ts, event_id) - 1) // 8192 AS file_id
        |  FROM e),
        |pu AS (SELECT user_id,
        |    (row_number() OVER (ORDER BY user_id, ts, event_id) - 1) // 8192
        |      AS file_id
        |  FROM e),
        |st AS (SELECT file_id, COUNT(*) AS fsz FROM pt GROUP BY 1),
        |su AS (SELECT file_id, COUNT(*) AS fsz FROM pu GROUP BY 1),
        |dt AS (SELECT DISTINCT file_id FROM pt WHERE user_id = 42),
        |du AS (SELECT DISTINCT file_id FROM pu WHERE user_id = 42),
        |nd AS (SELECT COUNT(*) AS n_deleted FROM e WHERE user_id = 42)
        |SELECT 'by_time' AS layout,
        |  (SELECT COUNT(*) FROM st) AS n_files, n_deleted,
        |  (SELECT COUNT(*) FROM dt) AS files_touched,
        |  (SELECT CAST(SUM(fsz) AS BIGINT) FROM dt JOIN st USING (file_id))
        |    AS rows_rewritten,
        |  CAST((SELECT SUM(fsz) FROM dt JOIN st USING (file_id)) * 10000
        |       // n_deleted AS BIGINT) AS delete_amp_bp
        |FROM nd
        |UNION ALL
        |SELECT 'by_user',
        |  (SELECT COUNT(*) FROM su), n_deleted,
        |  (SELECT COUNT(*) FROM du),
        |  (SELECT CAST(SUM(fsz) AS BIGINT) FROM du JOIN su USING (file_id)),
        |  CAST((SELECT SUM(fsz) FROM du JOIN su USING (file_id)) * 10000
        |       // n_deleted AS BIGINT)
        |FROM nd""".stripMargin),

    // O45 — referential-integrity audit (the cross-TABLE data-quality
    // complement of o30's column-level checks): orphan foreign keys per
    // relationship — lineitem→orders, lineitem→part, lineitem→supplier,
    // orders→customer — each one anti join + count, emitted as a
    // (relationship, n_child, n_orphans) relation. Anti joins shuffle on
    // the key; parents with broadcast-small key sets broadcast.
    Query("o45_ref_integrity", Throughput, (s, dir) => {
      val l = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      // child totals computed ONCE (the first cut re-counted the child
      // inside every check — 4 redundant lineitem scans at 100×). The
      // orphan checks stay RAW-key anti joins: part/supplier/customer
      // parents broadcast, so three of the four checks are pure scans with
      // no exchange at all (a distinct-first variant was measured SLOWER —
      // it inserts a 60M-row exchange exactly where the broadcast anti
      // join had none); only lineitem→orders legitimately shuffles.
      val lCount = l.count()
      val oCount = o.count()
      def check(name: String, childTotal: Long, childKeys: DataFrame,
          parentKeys: DataFrame): DataFrame = {
        val orphans = childKeys
          .join(parentKeys.toDF("k"), Seq("k"), "left_anti").count()
        childKeys.sparkSession.range(1).select(lit(name).as("relationship"),
          lit(childTotal).as("n_child"), lit(orphans).as("n_orphans"))
      }
      check("lineitem->orders", lCount, l.select(col("l_orderkey").as("k")),
          Tables.orders(s, dir).select(col("o_orderkey")))
        .unionByName(check("lineitem->part", lCount,
          l.select(col("l_partkey").as("k")),
          Tables.part(s, dir).select(col("p_partkey"))))
        .unionByName(check("lineitem->supplier", lCount,
          l.select(col("l_suppkey").as("k")),
          Tables.supplier(s, dir).select(col("s_suppkey"))))
        .unionByName(check("orders->customer", oCount,
          o.select(col("o_custkey").as("k")),
          Tables.customer(s, dir).select(col("c_custkey"))))
    },
      """SELECT 'lineitem->orders' AS relationship,
        |  (SELECT COUNT(*) FROM lineitem) AS n_child,
        |  (SELECT COUNT(*) FROM lineitem
        |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |    AS n_orphans
        |UNION ALL
        |SELECT 'lineitem->part', (SELECT COUNT(*) FROM lineitem),
        |  (SELECT COUNT(*) FROM lineitem
        |   WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
        |UNION ALL
        |SELECT 'lineitem->supplier', (SELECT COUNT(*) FROM lineitem),
        |  (SELECT COUNT(*) FROM lineitem
        |   WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
        |UNION ALL
        |SELECT 'orders->customer', (SELECT COUNT(*) FROM orders),
        |  (SELECT COUNT(*) FROM orders
        |   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))""".stripMargin),

    // O18 — SCD2 / change-data-capture interval build: collapse each
    // (user, event_type) attribute stream to its CHANGE rows and attach
    // validity intervals — the dimension-table compaction every warehouse
    // runs on CDC feeds. Two per-key windows (lag for change detection,
    // lead/row_number for interval close + version) over the same
    // partitioning — ONE keyed exchange, the sort reused across all three
    // window functions. Interval bounds are exact epoch micros; the open
    // interval ships as null valid_to_us.
    Query("o18_scd2", Throughput, (s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("t"), col("event_id"))
      val e = ev(s, dir).select(col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("t"), col("event_id"))
      val ch = e.withColumn("prev", lag(col("value"), 1).over(w))
        .filter(col("prev").isNull || col("value") =!= col("prev"))
        .select(col("user_id"), col("event_type"), col("value"),
          col("t"), col("event_id"))
      val w2 = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("t"), col("event_id"))
      ch.select(col("user_id"), col("event_type"), col("value"),
          col("t").as("valid_from_us"),
          lead(col("t"), 1).over(w2).as("valid_to_us"),
          row_number().over(w2).as("version"))
    },
      """WITH e AS (SELECT user_id, event_type, value,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id FROM events),
        |c AS (SELECT *, lag(value) OVER (PARTITION BY user_id, event_type
        |                                 ORDER BY t, event_id) AS prev FROM e),
        |ch AS (SELECT user_id, event_type, value, t, event_id FROM c
        |       WHERE prev IS NULL OR value <> prev)
        |SELECT user_id, event_type, value, t AS valid_from_us,
        |  lead(t) OVER w AS valid_to_us,
        |  row_number() OVER w AS version
        |FROM ch WINDOW w AS (PARTITION BY user_id, event_type
        |                     ORDER BY t, event_id)""".stripMargin),

    // O19 — Z-order (Morton) clustering key: the multi-dimensional layout
    // move (Delta/Iceberg OPTIMIZE ZORDER) that makes parquet min/max
    // stats selective on TWO dimensions at once. The key is 32 codegen'd
    // shift/mask/or terms — no UDF — and the per-zbucket (u,v) spans this
    // query reports ARE the file-skipping property: a sorted write's file
    // stats would carry exactly these bounds on both dimensions.
    Query("o19_zorder", Throughput, (s, dir) => {
      val e = ev(s, dir).select(col("user_id"),
        floor(col("value")).cast("long").as("vb"))
      e.withColumn("zkey",
          graft.ops.Layout.morton16(col("user_id"), col("vb")))
        .withColumn("zbucket", shiftright(col("zkey"), 14))
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("user_id")).as("u_min"), max(col("user_id")).as("u_max"),
          min(col("vb")).as("v_min"), max(col("vb")).as("v_max"))
    },
      // Same 32-term Morton interleave, generated from the one Scala source.
      {
      val z = graft.ops.Layout.morton16Sql(
        "user_id", "CAST(floor(value) AS BIGINT)")
      s"""WITH z AS (SELECT user_id, CAST(floor(value) AS BIGINT) AS vb,
         |    $z AS zkey
         |  FROM events)
         |SELECT zkey >> 14 AS zbucket, COUNT(*) AS n,
         |  MIN(user_id) AS u_min, MAX(user_id) AS u_max,
         |  MIN(vb) AS v_min, MAX(vb) AS v_max
         |FROM z GROUP BY 1""".stripMargin
    }),

    // Set operations (absent from the reference — engine surface): users
    // active in week 1 but not week 2, and those active in both.
    Query("o8_set_ops", Throughput, (s, dir) => {
      val e = ev(s, dir)
      val w1 = e.filter(col("ts") < lit("2024-01-08").cast("timestamp"))
        .select(col("user_id")).distinct()
      val w2 = e.filter(col("ts") >= lit("2024-01-08").cast("timestamp") &&
          col("ts") < lit("2024-01-15").cast("timestamp"))
        .select(col("user_id")).distinct()
      w1.except(w2).withColumn("set_op", lit("only_week1"))
        .unionByName(w1.intersect(w2).withColumn("set_op", lit("both_weeks")))
    },
      """WITH w1 AS (SELECT DISTINCT user_id FROM events WHERE ts < TIMESTAMP '2024-01-08'),
        |w2 AS (SELECT DISTINCT user_id FROM events
        |       WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15')
        |SELECT user_id, 'only_week1' AS set_op FROM (SELECT user_id FROM w1 EXCEPT SELECT user_id FROM w2)
        |UNION ALL
        |SELECT user_id, 'both_weeks' AS set_op FROM (SELECT user_id FROM w1 INTERSECT SELECT user_id FROM w2)""".stripMargin),

    // O1/O7 — global sort + latest-n lookup (doc/INGESTION.md:36).
    Query("o1_topk", Throughput, (s, dir) =>
      ev(s, dir).orderBy(col("ts").desc, col("event_id").desc).limit(100)
        .select(col("event_id"), col("event_type"), col("value"),
          unix_micros(col("ts")).as("ts_us")),
      """SELECT event_id, event_type, value, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |FROM events ORDER BY ts DESC, event_id DESC LIMIT 100""".stripMargin),

    // O3/O4 — train/validation/test split sizing over the minute series
    // (preprocess.py:101-146); p=5, K=4. Split membership "rn <= n - c" over
    // the ordered unique minute keys ⟺ "tx_minute < (c-th key from the end)",
    // so instead of a single-partition global row_number the query fetches
    // the last 5p keys with a top-k (TakeOrdered — no global sort, 25 strings
    // to the driver) and evaluates all seven splits' (len, start, end) in ONE
    // conditional-aggregation pass, then unpivots.
    Query("o3_split_bounds", Throughput, (s, dir) => {
      val minutes = MinuteAggregate(ev(s, dir), "ts", "value").select(col("tx_minute"))
      val p = 5
      val edge = minutes.orderBy(col("tx_minute").desc).limit(5 * p)
        .collect().map(_.getString(0))
      // all but the last c minutes; empty when the series has ≤ c points
      def before(c: Int): Column =
        if (edge.length < c) lit(false) else col("tx_minute") < edge(c - 1)
      val splits: Seq[(String, Column)] = Seq(
        ("train", before(5 * p)),
        ("validation_1", before(4 * p)),
        ("validation_2", before(3 * p)),
        ("validation_3", before(2 * p)),
        ("validation_4", before(p)),
        ("test_inputs", before(p)),
        ("test_targets",
          if (edge.length < p) lit(true) else col("tx_minute") >= edge(p - 1)))
      val aggs = splits.flatMap { case (name, pred) => Seq(
        count(when(pred, 1)).as(s"${name}__len"),
        min(when(pred, col("tx_minute"))).as(s"${name}__start"),
        max(when(pred, col("tx_minute"))).as(s"${name}__end"))
      }
      val one = minutes.agg(aggs.head, aggs.tail: _*)
      val stackArgs = splits.map { case (name, _) =>
        s"'$name', `${name}__len`, `${name}__start`, `${name}__end`"
      }.mkString(", ")
      one.select(expr(
        s"stack(${splits.size}, $stackArgs) AS (split_name, len, start_minute, end_minute)"))
    },
      """WITH m AS (SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute
        |           FROM events GROUP BY 1),
        |idx AS (SELECT tx_minute, row_number() OVER (ORDER BY tx_minute) AS rn,
        |               count(*) OVER () AS n FROM m)
        |SELECT 'train' AS split_name, count(*) AS len, min(tx_minute) AS start_minute,
        |       max(tx_minute) AS end_minute FROM idx WHERE rn <= n - 25
        |UNION ALL SELECT 'validation_1', count(*), min(tx_minute), max(tx_minute) FROM idx WHERE rn <= n - 20
        |UNION ALL SELECT 'validation_2', count(*), min(tx_minute), max(tx_minute) FROM idx WHERE rn <= n - 15
        |UNION ALL SELECT 'validation_3', count(*), min(tx_minute), max(tx_minute) FROM idx WHERE rn <= n - 10
        |UNION ALL SELECT 'validation_4', count(*), min(tx_minute), max(tx_minute) FROM idx WHERE rn <= n - 5
        |UNION ALL SELECT 'test_inputs', count(*), min(tx_minute), max(tx_minute) FROM idx WHERE rn <= n - 5
        |UNION ALL SELECT 'test_targets', count(*), min(tx_minute), max(tx_minute) FROM idx WHERE rn > n - 5""".stripMargin),

    // O41 — incremental maintenance of a JOIN view (the delta-algebra
    // contract: when only the fact side changes, ΔV = Δfact ⋈ dim, and the
    // maintained view is merge(V_base, ΔV) — never a re-join of the full
    // fact). The gate materializes the base view (6/7ths of orders) to
    // parquet, computes the day-1 delta's join-agg alone, and merges
    // partials (counts and exact cents both sum-mergeable). Maintenance
    // cost is O(|Δ| join) + |view| — at 100 TB the full-fact re-join never
    // happens. The oracle states the flat full-corpus join-agg, proving
    // merge(base, delta) ≡ recompute.
    Query("o41_view_delta_join", Throughput, (s, dir) => {
      val work = scratch("o41")
      val c = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      val o = Tables.orders(s, dir)
      def viewAgg(fact: DataFrame) = fact
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      viewAgg(o.filter(pmod(col("o_orderkey"), lit(7)) =!= 0))
        .write.mode("overwrite").parquet(s"$work/view")
      val delta = viewAgg(o.filter(pmod(col("o_orderkey"), lit(7)) === 0))
      s.read.parquet(s"$work/view").unionByName(delta)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(sum(col("n_orders")).as("n_orders"), sum(col("cents")).as("cents"))
    },
      // Flat full-corpus join-agg — the engine must prove its
      // base-materialize + delta-join + partial-merge path equals recompute.
      """SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2""".stripMargin),

    // O42 — write-audit-publish under the read gate: gen-1 (the clean
    // daily aggregate) publishes; gen-2 (the published gen-1 snapshot
    // POISONED with a null-keyed negative row — the writer-bug class WAP
    // exists to catch) fails its audits and must stay invisible. The
    // served result is whatever the manifest resolves — if the poisoned
    // candidate ever published, or the clean one failed to, the DuckDB
    // recompute hash-mismatches. Audits run over the STAGED bytes, not the
    // input dataframe; publish is one atomic metadata rename regardless of
    // data size (store/WriteAuditPublish.scala).
    Query("o42_wap_publish", Throughput, (s, dir) => {
      import graft.store.WriteAuditPublish.{Audit, readPublished, writeAuditPublish}
      val work = scratch("o42wap")
      val clean = ev(s, dir)
        .groupBy(col("event_type"),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100).cast("long")).as("cents"))
      val audits = Seq(
        Audit("no_null_keys", col("event_type").isNull || col("day").isNull),
        Audit("nonneg_counts", col("n_events") < 0))
      val (ok1, _) = writeAuditPublish(clean, work, 1L, audits)
      // the next candidate derives from the published snapshot, as a next
      // WAP generation does: gen 1's audited bytes plus one bad local row
      val gen1 = readPublished(s, work)
      val poisoned = gen1.unionByName(s.createDataFrame(
        java.util.List.of(Row(null, "1970-01-01", -1L, -1L)), gen1.schema))
      val (ok2, r2) = writeAuditPublish(poisoned, work, 2L, audits)
      require(ok1 && !ok2 && r2.exists(_._2 > 0),
        s"WAP contract violated: ok1=$ok1 ok2=$ok2 r2=$r2")
      readPublished(s, work)
    },
      // The published table must equal the clean aggregate — the poisoned
      // gen-2 candidate never surfaces (a null-keyed or negative row here
      // means the manifest resolved to the failed generation).
      """SELECT event_type,
        |  strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2""".stripMargin),

    // O43 — Hive-style partition pruning on the real write/read path: the
    // events table lands partitioned by day, and a day-filtered aggregate
    // must read ONLY that day's files — the filter shows up as a
    // PartitionFilter on the scan (PlansSpec pins it), touching 1/Nth of
    // the data at any scale. The target day is derived (min day), one
    // metadata-sized scalar; the oracle recomputes from the raw events
    // with the same derivation.
    Query("o43_partition_prune", Throughput, (s, dir) => {
      val work = scratch("o43")
      ev(s, dir).withColumn("day",
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
        .write.partitionBy("day").mode("overwrite").parquet(s"$work/t")
      // partition-column type inference reads the day string back as DATE;
      // keep it DATE so the equality prunes without a cast in the way
      val t = s.read.parquet(s"$work/t")
      val d0 = t.agg(min(col("day"))).head().getDate(0)
      t.filter(col("day") === lit(d0))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100).cast("long")).as("cents"))
    },
      """WITH e AS (SELECT event_type,
        |    strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
        |    value FROM events)
        |SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM e WHERE day = (SELECT MIN(day) FROM e)
        |GROUP BY 1""".stripMargin),

    // O33 — DYNAMIC partition overwrite: the backfill-correction surface
    // (INSERT OVERWRITE of one day) on a day-partitioned table. Static
    // overwrite mode would TRUNCATE THE WHOLE TABLE on the second write —
    // the classic backfill footgun — dynamic replaces exactly the
    // partitions present in the incoming frame. The replay: full
    // per-day/type aggregate lands, then day d0+5 is re-landed with a
    // correction (event_id ≡ 0 mod 10 excluded); the read-back must show
    // the corrected day AND the untouched others — the oracle recomputes
    // with the per-day predicate. The mode is a per-write option; the
    // session conf is untouched.
    Query("o33_dynamic_overwrite", Throughput, (s, dir) => {
      val work = scratch("o33dp")
      val e = ev(s, dir)
        .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      val d0 = e.agg(min(col("day"))).head().getLong(0)
      def agg(df: DataFrame) = df.groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), Exact.sumD(col("value"), 2).as("sum_value"))
      def overwrite(df: DataFrame) = df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").partitionBy("day").parquet(s"$work/t")
      overwrite(agg(e))
      overwrite(agg(e.filter(col("day") === d0 + 5 && col("event_id") % 10 =!= 0)))
      s.read.parquet(s"$work/t")
        .select(col("day").cast("long").as("day"), col("event_type"),
          col("n"), col("sum_value"))
    },
      // The corrected day uses the backfill predicate, every other day the
      // original — the dynamic overwrite must leave them byte-identical.
      """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    event_type, event_id, value FROM events),
        |d0 AS (SELECT MIN(day) AS d0 FROM e),
        |k AS (SELECT * FROM e
        |      WHERE day <> (SELECT d0 + 5 FROM d0) OR event_id % 10 <> 0)
        |SELECT CAST(day AS BIGINT) AS day, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM k GROUP BY 1, 2""".stripMargin),

    // O26 — bounded top-k AGGREGATE (custom Catalyst DeclarativeAggregate,
    // [[graft.expressions.TopKDoubles]]): per-user top-3 values with a
    // ≤ k-element aggregation buffer on both the partial and final side —
    // the hot-key-safe, streaming-state-safe form of what
    // collect_list+sort+slice does with group-sized buffers; o9 is the
    // window form, this is the aggregate form. Values render at %.2f (the
    // generator emits 2-decimal values — no format midpoints exist).
    Query("o26_topk_agg", Throughput, (s, dir) =>
      ev(s, dir).groupBy(col("user_id"))
        .agg(graft.expressions.TopKAggregate.topkVals(col("value"), 3).as("tv"))
        .select(col("user_id"),
          concat_ws(",", transform(col("tv"),
            v => format_string("%.2f", v))).as("top3")),
      // Top-3 values per user, value-descending; ties are value-identical so
      // the rendered list is order-unambiguous.
      """SELECT user_id,
        |  array_to_string(list_transform(l[1:3], v -> printf('%.2f', v)), ',') AS top3
        |FROM (SELECT user_id, list(value ORDER BY value DESC) AS l
        |      FROM events GROUP BY 1)""".stripMargin),

    // O5 — ordered series collection (DeepAR target arrays, preprocess.py:123-128).
    Query("o5_series", Throughput, (s, dir) => {
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wAll = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      ev(s, dir)
        .withColumn("series", concat_ws(",",
          collect_list(format_string("%.2f", col("value"))).over(wAll)))
        .withColumn("rn", row_number().over(wOrd))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("series"))
    },
      """SELECT user_id,
        |  string_agg(printf('%.2f', value), ',' ORDER BY ts, event_id) AS series
        |FROM events GROUP BY user_id""".stripMargin),

    // O9 — top-k per key: latest 3 events per user. Spark 4 compiles the
    // rank-filter into WindowGroupLimit (bounded per-group heaps on BOTH
    // sides of the exchange — only k rows per key cross the shuffle, no
    // full sort materializes; see docs/PLANS.md "Top-k per key").
    Query("o9_group_topk", Throughput, (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      ev(s, dir).withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("user_id"), col("rk"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
    },
      """SELECT user_id, rk, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS INTEGER) AS rk
        |  FROM events) WHERE rk <= 3""".stripMargin),

    // O11 — HyperLogLog distinct sketch (deterministic md5 HLL, b=12): the
    // scale path for COUNT(DISTINCT) — one narrow groupBy(bucket) MIN
    // instead of shuffling every distinct key; ~1.6% error at m=4096. The
    // exact count rides along so the error is part of the checked output.
    // Every register stays an exact integer (Σ 2^(33−reg) ≤ 2^45), so the
    // oracle reproduces the estimate digit for digit.
    Query("o11_hll_distinct", Throughput, (s, dir) => {
      val e = ev(s, dir)
      val sk = graft.ops.Sketches.hllDistinct(e, col("user_id"), b = 12)
      sk.crossJoin(e.agg(countDistinct(col("user_id")).as("n_exact")))
        .select(col("n_exact"), col("nonzero_buckets"),
          Exact.fmt(col("n_hll"), 4).as("n_hll_r"),
          Exact.fmt((col("n_hll") - col("n_exact").cast("double")) /
            col("n_exact").cast("double"), 4).as("rel_err_r"))
    },
      hllOracle),

    // O35 — ANALYZE-TABLE column statistics: per-column row/null counts,
    // numeric min/max, and sketched NDV — the optimizer's CBO inputs
    // (selectivity, join-size estimates) and the first job a warehouse runs
    // over a new 100 TB table. Shape is the point: ONE scan serves every
    // column — the stats aggregate is a single global row, and the NDVs
    // come from [[graft.ops.Sketches.hllMultiCol]]'s per-row fanout into
    // (column, bucket, term) registers, so the exchange carries ≤ 4·4096
    // register rows regardless of data volume (a per-column re-read would
    // multiply the dominant scan cost by the column count). The double
    // column's NDV is over its DECIMAL(18,4) rendering — the one string
    // form both engines print identically (raw double-to-string exponent
    // styles diverge); documented as value-at-4dp cardinality.
    Query("o35_stats_collect", Throughput, (s, dir) => {
      val e = ev(s, dir)
      // fanOut on the HLL input only: 4 md5-per-column rows per event ran
      // single-task; the min/max/null agg below is a cheap scan (r13 opt)
      val ndv = graft.ops.Sketches.hllMultiCol(fanOut(e, col("event_id")), Seq(
          "event_id" -> col("event_id"),
          "user_id" -> col("user_id"),
          "event_type" -> col("event_type"),
          "value" -> col("value").cast("decimal(18,4)")), b = 12)
        .select(col("cname").as("column_name"),
          Exact.fmt(col("n_hll"), 4).as("ndv_r"))
      val agg = e.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("event_id").isNull, 1L).otherwise(0L)).as("nn_event_id"),
        min(col("event_id")).cast("double").as("mn_event_id"),
        max(col("event_id")).cast("double").as("mx_event_id"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("nn_user_id"),
        min(col("user_id")).cast("double").as("mn_user_id"),
        max(col("user_id")).cast("double").as("mx_user_id"),
        sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("nn_event_type"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("nn_value"),
        min(col("value")).as("mn_value"),
        max(col("value")).as("mx_value"))
      val rows = agg.selectExpr("n_rows",
        """stack(4,
          |  'event_id',   nn_event_id,   mn_event_id,            mx_event_id,
          |  'user_id',    nn_user_id,    mn_user_id,             mx_user_id,
          |  'event_type', nn_event_type, CAST(NULL AS DOUBLE),   CAST(NULL AS DOUBLE),
          |  'value',      nn_value,      mn_value,               mx_value
          |) AS (column_name, n_nulls, min_num, max_num)""".stripMargin)
      rows.join(ndv, Seq("column_name"))
        .select(col("column_name"), col("n_rows"), col("n_nulls"),
          col("min_num"), col("max_num"), col("ndv_r"))
    },
      statsOracle),

    // O37 — dataset content fingerprint (Merkle-style): the "are these two
    // 100 TB tables equal?" answer without a full compare — per-row md5 of
    // a canonical rendering, bucketed by the fingerprint's first two hex
    // digits (uniform by construction), each bucket reduced to
    // md5(sorted-concat of its row fingerprints). Equal relations ⇔ equal
    // (bucket, n_rows, bucket_fp) sets, a 256-row comparison; a divergence
    // localizes to its buckets, which is the incremental-sync use. Scale:
    // one scan + one hash-partitioned groupBy; per-bucket sorted lists are
    // corpus/256 — production raises the digit count (or nests another
    // level) to keep buckets bounded, same plan. Doubles render via %.2f
    // (the stored precision; a 2 dp-rounded double's exact expansion never
    // sits on the half-cent tie where Java and C printf could differ).
    Query("o37_dataset_fingerprint", Throughput, (s, dir) => {
      val rowFp = md5(concat_ws("|",
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        format_string("%.2f", col("o_totalprice")),
        date_format(col("o_orderdate"), "yyyy-MM-dd"),
        col("o_orderpriority")))
      Tables.orders(s, dir)
        .select(rowFp.as("fp"))
        .groupBy(substring(col("fp"), 1, 2).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          md5(concat_ws("", sort_array(collect_list(col("fp"))))).as("bucket_fp"))
    },
      // Same canonical rendering, same bucket scheme, string_agg ORDER BY
      // restates the sorted concat.
      """WITH r AS (SELECT md5(
        |    CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)
        |    || '|' || o_orderstatus || '|' || printf('%.2f', o_totalprice)
        |    || '|' || strftime(o_orderdate, '%Y-%m-%d')
        |    || '|' || o_orderpriority) AS fp
        |  FROM orders)
        |SELECT substr(fp, 1, 2) AS bucket, COUNT(*) AS n_rows,
        |  md5(string_agg(fp, '' ORDER BY fp)) AS bucket_fp
        |FROM r GROUP BY 1""".stripMargin),

    // O36 — data-quality audit (the Deequ/Great-Expectations constraint
    // pass every production ingest runs before admitting data): null,
    // range, and accepted-value checks FOLDED INTO ONE SCAN per table as
    // conditional sums (the naive scan-per-constraint audit reads a 100 TB
    // table N times; this reads it once), plus the two genuinely relational
    // checks — key uniqueness (one hash aggregate, no self-join) and
    // FK orphans (anti joins; parent key sides are dimension-sized →
    // broadcast). Output is (check, n_bad, n_rows) exact integers, so
    // admission thresholds compare counts, never pre-rounded ratios. The
    // synthetic tables are clean — n_bad = 0 everywhere except the checks
    // violated by construction, and the oracle recomputes every count
    // independently, so a zero is a verified zero, not a vacuous one. The
    // synthetic tables are TOO clean to exercise the detectors, so the
    // audit runs over a deterministically DIRTIED view (negated quantities
    // every 97th order, out-of-domain returnflags every 101st, orphaned
    // part keys every 89th, nulled customer keys every 103rd order) — the
    // m*-gate fixture pattern: both engines corrupt identically, so each
    // violation count has a known nonzero truth. Clean-column checks
    // (discount range, orders uniqueness) stay as zero controls, and
    // lineitem's order-key "uniqueness" counts the genuinely multi-line
    // orders.
    Query("o36_dq_audit", Throughput, (s, dir) => {
      import graft.ops.DataQuality._
      val li = Tables.lineitem(s, dir).select(
        when(pmod(col("l_orderkey"), lit(97)) === 0, -col("l_quantity"))
          .otherwise(col("l_quantity")).as("l_quantity"),
        when(pmod(col("l_orderkey"), lit(101)) === 0, lit("X"))
          .otherwise(col("l_returnflag")).as("l_returnflag"),
        when(pmod(col("l_orderkey"), lit(89)) === 0, -col("l_partkey"))
          .otherwise(col("l_partkey")).as("l_partkey"),
        col("l_orderkey"), col("l_discount"))
      val od = Tables.orders(s, dir).select(
        when(pmod(col("o_orderkey"), lit(103)) === 0, lit(null).cast("long"))
          .otherwise(col("o_custkey")).as("o_custkey"),
        col("o_orderkey"), col("o_totalprice"))
      val cu = Tables.customer(s, dir)
      val pt = Tables.part(s, dir)
      audit(Seq(
        rowChecks(li, "lineitem", Seq(
          "qty_range" -> !col("l_quantity").between(1, 50),
          "discount_range" -> !col("l_discount").between(0.0, 1.0),
          "returnflag_domain" -> !col("l_returnflag").isin("A", "N", "R"))),
        rowChecks(od, "orders", Seq(
          "null_custkey" -> col("o_custkey").isNull,
          "totalprice_positive" -> (col("o_totalprice") <= 0))),
        uniqueness(od, "orders", Seq("o_orderkey")),
        uniqueness(li, "lineitem", Seq("l_orderkey")),
        refIntegrity(od, "orders", "o_custkey", cu, "c_custkey"),
        refIntegrity(li, "lineitem", "l_orderkey", od, "o_orderkey"),
        refIntegrity(li, "lineitem", "l_partkey", pt, "p_partkey")))
    },
      // Every audit count recomputed independently over the identically
      // dirtied views; zero controls are verified zeros.
      """WITH li AS (SELECT
        |    CASE WHEN l_orderkey % 97 = 0 THEN -l_quantity ELSE l_quantity END AS l_quantity,
        |    CASE WHEN l_orderkey % 101 = 0 THEN 'X' ELSE l_returnflag END AS l_returnflag,
        |    CASE WHEN l_orderkey % 89 = 0 THEN -l_partkey ELSE l_partkey END AS l_partkey,
        |    l_orderkey, l_discount FROM lineitem),
        |od AS (SELECT
        |    CASE WHEN o_orderkey % 103 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
        |    o_orderkey, o_totalprice FROM orders)
        |SELECT 'lineitem.qty_range' AS check_name,
        |  CAST(SUM(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
        |  COUNT(*) AS n_rows FROM li
        |UNION ALL SELECT 'lineitem.discount_range',
        |  CAST(SUM(CASE WHEN NOT (l_discount BETWEEN 0 AND 1) THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(*) FROM li
        |UNION ALL SELECT 'lineitem.returnflag_domain',
        |  CAST(SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(*) FROM li
        |UNION ALL SELECT 'orders.null_custkey',
        |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(*) FROM od
        |UNION ALL SELECT 'orders.totalprice_positive',
        |  CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(*) FROM od
        |UNION ALL SELECT 'orders.unique_o_orderkey',
        |  CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt END), 0) AS BIGINT),
        |  CAST(SUM(cnt) AS BIGINT)
        |  FROM (SELECT COUNT(*) AS cnt FROM od GROUP BY o_orderkey)
        |UNION ALL SELECT 'lineitem.unique_l_orderkey',
        |  CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt END), 0) AS BIGINT),
        |  CAST(SUM(cnt) AS BIGINT)
        |  FROM (SELECT COUNT(*) AS cnt FROM li GROUP BY l_orderkey)
        |UNION ALL SELECT 'orders.fk_o_custkey',
        |  (SELECT COUNT(*) FROM od LEFT JOIN customer c ON od.o_custkey = c.c_custkey
        |   WHERE c.c_custkey IS NULL),
        |  (SELECT COUNT(*) FROM od)
        |UNION ALL SELECT 'lineitem.fk_l_orderkey',
        |  (SELECT COUNT(*) FROM li LEFT JOIN od ON li.l_orderkey = od.o_orderkey
        |   WHERE od.o_orderkey IS NULL),
        |  (SELECT COUNT(*) FROM li)
        |UNION ALL SELECT 'lineitem.fk_l_partkey',
        |  (SELECT COUNT(*) FROM li LEFT JOIN part p ON li.l_partkey = p.p_partkey
        |   WHERE p.p_partkey IS NULL),
        |  (SELECT COUNT(*) FROM li)""".stripMargin),

    // O27 — KMV (k-minimum-values / bottom-k) distinct sketch: the k=256
    // smallest distinct 60-bit hashes of event_id, kept by a bounded
    // ≤ k-element aggregate buffer on BOTH aggregation sides
    // ([[graft.expressions.MinKDistinctLongs]]) — the exchange carries one
    // k-array per partition, constant in corpus size and cardinality
    // (narrower than HLL's m register rows). Second cardinality sketch
    // beside o11 because KMV retains hash VALUES: two sketches compose
    // into set-operation estimates (o28), which HLL registers cannot.
    // Estimator (k−1)·2^60/h_(k) is one mirrored IEEE multiply+divide on
    // exact integers; unsaturated sketches are exact by construction.
    Query("o27_kmv_distinct", Throughput, (s, dir) => {
      val e = ev(s, dir)
      val k = 256
      graft.ops.Sketches.kmvSketch(e, col("event_id"), k)
        .select(size(col("vals")).cast("long").as("n_kept"),
          element_at(col("vals"), size(col("vals"))).as("kth"),
          graft.ops.Sketches.kmvEstimate(col("vals"), k).as("est"))
        .crossJoin(e.agg(countDistinct(col("event_id")).as("n_exact")))
        .select(col("n_exact"), col("n_kept"), col("kth"),
          Exact.fmt(col("est"), 4).as("est_r"),
          Exact.fmt((col("est") - col("n_exact").cast("double")) /
            col("n_exact").cast("double"), 4).as("rel_err_r"))
    },
      kmvOracle),

    // O28 — sketch-side set operations, the capability KMV buys over HLL:
    // estimated n-gram overlap between two corpus slices (en vs de 3-word
    // shingle sets — the sketch form of x4's decontamination question,
    // answerable at 100 TB from two kilobyte sketches without ever joining
    // the corpora). M = k smallest of S_en ∪ S_de is EXACTLY the k smallest
    // of the full union (each side's bottom-k covers it — the mergeable-
    // partial property, same family as o16/o17/o20); matches = |M ∩ S_en ∩
    // S_de| gives Jaccard ≈ matches/|M| and |∩| ≈ Jaccard · union_est.
    // Exact intersection/union ride along as integers for the error column.
    Query("o28_kmv_jaccard", Throughput, (s, dir) => {
      val k = 256
      // r14 opt (guide §2.3/§2.4): the two sketch sides and the two exact
      // sides each re-ran the shingle explode + md5 kernel — FOUR corpus
      // passes (fanOut'd in r13, still four). One pass now builds the
      // distinct-shingle relation with per-language presence flags; both
      // bottom-k sketches fold off it via null-masked minkDistinct (nulls
      // are skipped on update, and the distinct-shingle set per language is
      // exactly what the old per-side explode fed after internal dedup),
      // the exact intersection/union counts are flag counts, and the union
      // sketch + match count collapse to array expressions on the ONE
      // aggregate row (sorted-distinct-concat bottom-k ≡ the old
      // distinct-union-orderBy-limit; array_intersect ≡ the two semi
      // joins). Same hashes, same counts, same estimates — 1 corpus pass,
      // 1 shingle-keyed exchange, no per-side relations.
      val d = fanOut(docs(s, dir), col("doc_id"))
      val perT = d.filter(col("lang").isin("en", "de"))
        .select(explode(DedupOps.shingles(col("text"), 3)).as("t"),
          (col("lang") === "en").as("is_en"))
        .groupBy(col("t"))
        .agg(max(col("is_en")).as("has_en"), max(!col("is_en")).as("has_de"))
        .withColumn("h", graft.ops.Sketches.kmvHash(col("t")))
      val one = perT.agg(
        graft.expressions.MinKAggregate
          .minkDistinct(when(col("has_en"), col("h")), k).as("va"),
        graft.expressions.MinKAggregate
          .minkDistinct(when(col("has_de"), col("h")), k).as("vb"),
        count(when(col("has_en") && col("has_de"), 1)).as("n_inter_exact"),
        count(lit(1)).as("n_union_exact"))
        .withColumn("mu",
          slice(array_sort(array_distinct(concat(col("va"), col("vb")))), 1, k))
        .withColumn("n_kept_u", size(col("mu")).cast("long"))
        .withColumn("kth_u",
          when(col("n_kept_u") > 0, element_at(col("mu"), size(col("mu")))))
        .withColumn("n_match",
          size(array_intersect(array_intersect(col("mu"), col("va")),
            col("vb"))).cast("long"))
      val unionEst = graft.ops.Sketches.kmvEstimateFrom(
        col("n_kept_u"), col("kth_u"), k)
      val jaccardEst = col("n_match").cast("double") / col("n_kept_u").cast("double")
      one.select(col("n_kept_u"), col("kth_u"), col("n_match"),
        col("n_inter_exact"), col("n_union_exact"),
        expr("n_inter_exact * 10000 div n_union_exact").as("jaccard_exact_bp"),
        Exact.fmt(jaccardEst, 4).as("jaccard_est_r"),
        Exact.fmt(unionEst, 4).as("union_est_r"),
        Exact.fmt(jaccardEst * unionEst, 4).as("inter_est_r"))
    },
      kmvJaccardOracle),

    // O29 — KMV sketch MERGE: per-day bottom-k partials re-aggregated with
    // the same bounded min-k aggregate must equal the direct sketch over
    // the union EXACTLY (distinct-union-min-k is associative/commutative/
    // idempotent — same values, same estimate, same set-op behavior
    // downstream). Completes the mergeable-partial matrix's fourth axis:
    // HLL min-merge (o16), CMS sum-merge (o17), histogram shared-spec
    // sum-merge (o20), KMV value-merge (o29). Equality shipped as a
    // CHECKED column (count of differing positions must be 0), both paths
    // recomputed independently by the oracle.
    Query("o29_kmv_merge", Throughput, (s, dir) => {
      // fanOut: both sketch paths' md5 kernels ran single-task (r13 opt);
      // distinct-union-min-k is order-free by construction
      val e = fanOut(ev(s, dir), col("event_id"))
      val k = 256
      val parts = graft.ops.Sketches.kmvSketchBy(
        e, date_format(col("ts"), "yyyy-MM-dd"), col("event_id"), k)
      val merged = graft.ops.Sketches.kmvMergeSketches(parts, k)
        .select(col("vals").as("mv"))
      val direct = graft.ops.Sketches.kmvSketch(e, col("event_id"), k)
        .select(col("vals").as("dv"))
      merged.crossJoin(direct)
        .crossJoin(parts.agg(count(lit(1)).as("n_parts")))
        .select(col("n_parts"),
          size(col("mv")).cast("long").as("n_kept"),
          element_at(col("mv"), size(col("mv"))).as("kth_merged"),
          element_at(col("dv"), size(col("dv"))).as("kth_direct"),
          size(array_except(col("mv"), col("dv"))).cast("long").as("n_diff"),
          Exact.fmt(graft.ops.Sketches.kmvEstimate(col("mv"), k), 4)
            .as("est_merged_r"),
          Exact.fmt(graft.ops.Sketches.kmvEstimate(col("dv"), k), 4)
            .as("est_direct_r"))
    },
      kmvMergeOracle),

    // O15 — per-group HLL: distinct users per day from one narrow
    // (grp, bucket) register exchange (≤ m register rows per group per
    // partition) instead of shuffling every (day, user) pair — the grouped
    // form of o11, same deterministic md5 registers, digit-exact vs the
    // oracle's generated ladder. Exact per-day COUNT(DISTINCT) rides along
    // for the error column (affordable at bench scale; at 100 TB you'd
    // ship only the sketch).
    // O34 — 7-day SLIDING distinct users per day from the o15/o16 daily
    // register partials: each day-d register serves target days d..d+6
    // (explode into ≤7 narrow rows), min-merge per (day, bucket), one
    // estimator row per day — EXACTLY the direct sketch of each window's
    // union by min-merge idempotence. The exact rolling COUNT(DISTINCT)
    // rides along for the eval columns (o15's pattern); at 100 TB only
    // the register path survives — stated in Sketches.hllSlidingBy.
    Query("o34_hll_sliding", Throughput, (s, dir) => {
      val e = ev(s, dir)
        .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      val days = e.select(col("day")).distinct()
      val sk = graft.ops.Sketches.hllSlidingBy(e, col("day"), col("user_id"),
        windowDays = 7, b = 12)
      val exact = e
        .select(explode(sequence(col("day"), col("day") + 6)).as("day"),
          col("user_id"))
        .join(days, Seq("day"), "left_semi")
        .groupBy(col("day")).agg(countDistinct(col("user_id")).as("n_exact"))
      exact.join(sk, "day")
        .select(col("day"), col("n_exact"), col("nonzero_buckets"),
          Exact.fmt(col("n_hll"), 4).as("n_hll_r"),
          Exact.fmt((col("n_hll") - col("n_exact").cast("double")) /
            col("n_exact").cast("double"), 4).as("rel_err_r"))
    },
      hllSlidingOracle),

    Query("o15_hll_by_day", Throughput, (s, dir) => {
      val e = ev(s, dir)
      val grp = date_format(col("ts"), "yyyy-MM-dd")
      val sk = graft.ops.Sketches.hllDistinctBy(e, grp, col("user_id"), b = 12)
      val exact = e.groupBy(grp.as("grp"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      exact.join(sk, "grp")
        .select(col("grp").as("day"), col("n_exact"), col("nonzero_buckets"),
          Exact.fmt(col("n_hll"), 4).as("n_hll_r"),
          Exact.fmt((col("n_hll") - col("n_exact").cast("double")) /
            col("n_exact").cast("double"), 4).as("rel_err_r"))
    },
      hllByOracle),

    // O16 — sketch MERGE: per-day partial HLL register relations combined
    // by register-wise MIN must equal the direct sketch over the union —
    // exactly, not approximately (min is associative/commutative/
    // idempotent; the estimator never sees which path made the registers).
    // This is what makes the sketch a distributed data structure at 100 TB:
    // kilobyte partials land per partition/day and any later rollup is
    // answerable without re-reading the data. Both paths ship in the
    // checked row; the oracle recomputes both independently.
    // O20 — mergeable histogram partials: per-day cells under the SHARED
    // global bin spec sum-merge into exactly the direct histogram —
    // completing the sketch matrix's quantile axis beside HLL min-merge
    // (o16) and CMS sum-merge (o17). The contract is the shared spec
    // itself (per-day min/max binning would misalign cells — see
    // Sketches.histCellsByPart doc); both paths probed independently.
    Query("o20_hist_merge", Throughput, (s, dir) => {
      val e = ev(s, dir)
      val cells = graft.ops.Sketches.histCellsByPart(
        e, col("value"), 256, date_format(col("ts"), "yyyy-MM-dd"))
      val merged = cells.groupBy(col("bin"))
        .agg(sum(col("cnt")).cast("long").as("cnt_merged"))
      val direct = graft.ops.Sketches.histCellsByPart(
          e, col("value"), 256, lit("all"))
        .groupBy(col("bin")).agg(sum(col("cnt")).cast("long").as("cnt_direct"))
      merged.join(direct, "bin")
    },
      // Shared-spec histogram cells: bin arithmetic mirrored expression-for-
      // expression; merged (per-day summed) and direct paths probed
      // independently.
      """WITH st AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
        |b AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS part,
        |    CASE WHEN hi = lo THEN 0
        |         ELSE least(CAST(floor((value - lo) / ((hi - lo) / 256)) AS BIGINT), 255)
        |    END AS bin
        |  FROM events CROSS JOIN st),
        |pd AS (SELECT part, bin, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
        |mg AS (SELECT bin, CAST(SUM(cnt) AS BIGINT) AS cnt_merged FROM pd GROUP BY 1),
        |dr AS (SELECT bin, COUNT(*) AS cnt_direct FROM b GROUP BY 1)
        |SELECT bin, cnt_merged, cnt_direct FROM mg JOIN dr USING (bin)""".stripMargin),

    Query("o16_hll_merge", Throughput, (s, dir) => {
      val e = ev(s, dir)
      val day = date_format(col("ts"), "yyyy-MM-dd")
      val regs = graft.ops.Sketches.hllRegistersBy(e, day, col("user_id"), b = 12)
      val merged = graft.ops.Sketches.hllMergeRegisters(
        regs.select(col("bucket"), col("t")), b = 12)
      val direct = graft.ops.Sketches.hllDistinct(e, col("user_id"), b = 12)
        .select(col("n_hll").as("n_direct"))
      val nParts = regs.select(col("part")).distinct()
        .agg(count(lit(1)).as("n_parts"))
      merged.crossJoin(direct).crossJoin(nParts)
        .select(col("n_parts"), col("sum_int"), col("nonzero_buckets"),
          Exact.fmt(col("n_hll"), 4).as("n_merged_r"),
          Exact.fmt(col("n_direct"), 4).as("n_direct_r"))
    },
      hllMergeOracle),

    // O12 — Count-Min heavy-hitter estimates: frequency questions without
    // shuffling every distinct key (the exchange carries <= d·w cells per
    // partition, constant in corpus size and cardinality). Integer-exact
    // end to end, so n_cms matches the oracle digit for digit; n_cms >=
    // n_exact by construction and the compare pins both.
    Query("o12_cms_heavy", Throughput, (s, dir) => {
      val e = ev(s, dir)
      // fanOut on the sketch input only: the depth×md5 hashing kernel ran
      // single-task; probes/exact below are cheap scans (r13 opt)
      val sk = graft.ops.Sketches.cmsBuild(fanOut(e, col("event_id")), col("user_id"))
      val probes = e.filter(col("user_id") < 25).select(col("user_id")).distinct()
      val est = graft.ops.Sketches.cmsEstimate(sk, probes, col("user_id"))
        .withColumnRenamed("key", "user_id")
      e.filter(col("user_id") < 25).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_exact"))
        .join(est, "user_id")
        .select(col("user_id"), col("n_exact"), col("n_cms"))
    },
      cmsOracle),

    // O17 — CMS merge (the o16 move for the frequency sketch): per-day
    // cell relations combined by cell-wise SUM must equal the direct
    // sketch exactly when the parts partition the data — counts are
    // associative/commutative (and deliberately NOT idempotent: replaying
    // a partial double-counts, the correct multiset semantics; OpsSpec
    // pins both properties). Both paths probe independently in the
    // checked row.
    Query("o17_cms_merge", Throughput, (s, dir) => {
      val e = ev(s, dir)
      val day = date_format(col("ts"), "yyyy-MM-dd")
      val merged = graft.ops.Sketches.cmsMergeCells(
        graft.ops.Sketches.cmsCellsBy(e, day, col("user_id"))
          .select(col("row"), col("bucket"), col("cnt")))
      val direct = graft.ops.Sketches.cmsBuild(e, col("user_id"))
      val probes = e.filter(col("user_id") < 25).select(col("user_id")).distinct()
      val estM = graft.ops.Sketches.cmsEstimate(merged, probes, col("user_id"))
        .withColumnRenamed("key", "user_id").withColumnRenamed("n_cms", "n_merged")
      val estD = graft.ops.Sketches.cmsEstimate(direct, probes, col("user_id"))
        .withColumnRenamed("key", "user_id").withColumnRenamed("n_cms", "n_direct")
      e.filter(col("user_id") < 25).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_exact"))
        .join(estM, "user_id").join(estD, "user_id")
    },
      cmsMergeOracle),

    // O14 — histogram quantiles: percentiles without a global sort. Exact
    // quantiles need a full-data range exchange; the histogram needs one
    // narrow groupBy(bin) COUNT (≤ nBins integer cells per partition
    // through the exchange, constant in data size) plus a min/max pre-scan.
    // Bin ids/counts are exact integers from exactly rounded IEEE ops, the
    // cumulative walk is over the ≤1024-row bounded bin relation, and the
    // interpolation mirrors the oracle expression-for-expression — digit
    // exact, with a14_percentiles as the exact-sort counterpart.
    Query("o14_hist_quantile", Throughput, (s, dir) =>
      graft.ops.Sketches.histQuantiles(ev(s, dir), col("value"), 1024,
        Seq("0.5", "0.95", "0.99"))
        .select(col("q_str"), col("rnk"), col("bin"),
          Exact.fmt(col("est"), 4).as("est_r")),
      // Mirrors Sketches.histQuantiles step-for-step: same bin arithmetic
      // (floor of exactly rounded IEEE ops → exact integer bins/counts), same
      // ORDER BY bin cumulative frame, same rank + interpolation expressions,
      // quantile fractions parsed from the same literal strings.
      """WITH st AS (SELECT min(value) AS lo, max(value) AS hi, count(*) AS n FROM events),
        |b AS (SELECT CASE WHEN st.hi = st.lo THEN 0
        |        ELSE LEAST(CAST(floor((value - st.lo) / ((st.hi - st.lo) / 1024)) AS BIGINT), 1023) END AS bin
        |      FROM events CROSS JOIN st),
        |c AS (SELECT bin, count(*) AS cnt FROM b GROUP BY 1),
        |cc AS (SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum FROM c),
        |qs AS (SELECT unnest(['0.5', '0.95', '0.99']) AS q_str),
        |r AS (SELECT q_str,
        |        GREATEST(1, CAST(ceil(CAST(q_str AS DOUBLE) * st.n) AS BIGINT)) AS rnk,
        |        st.lo, st.hi
        |      FROM qs CROSS JOIN st)
        |SELECT q_str, rnk, bin,
        |  printf('%.4f', CASE WHEN hi = lo THEN lo
        |    ELSE lo + (hi - lo) / 1024 *
        |         (bin + CAST(rnk - (cum - cnt) AS DOUBLE) / cnt) END) AS est_r
        |FROM r JOIN cc ON cc.cum >= r.rnk AND cc.cum - cc.cnt < r.rnk""".stripMargin),

    // O30 — approximation AUDIT for the quantile sketch (the d10/s6/s14/
    // t20 eval-row pattern applied to o14): histogram estimate vs exact
    // interpolated percentile side by side with the signed error — the
    // number a user needs before trusting the sketch at a scale where the
    // exact global sort is unaffordable. Error is bounded by bin width
    // (hi−lo)/1024 by construction; the row makes that bound observable.
    Query("o30_quantile_eval", Throughput, (s, dir) => {
      val e = ev(s, dir)
      val hq = graft.ops.Sketches.histQuantiles(e, col("value"), 1024,
        Seq("0.5", "0.95", "0.99"))
      val exact = e.agg(
          expr("percentile(value, 0.5)").as("ex50"),
          expr("percentile(value, 0.95)").as("ex95"),
          expr("percentile(value, 0.99)").as("ex99"))
        .select(expr(
          "stack(3, '0.5', ex50, '0.95', ex95, '0.99', ex99) AS (q_str, exact)"))
      hq.join(exact, "q_str")
        .select(col("q_str"),
          Exact.fmt(col("est"), 4).as("est_r"),
          Exact.fmt(col("exact"), 4).as("exact_r"),
          Exact.fmt(col("est") - col("exact"), 4).as("err_r"))
    },
      // o14's estimate chain + quantile_cont exacts + the signed error,
      // every double op mirrored.
      """WITH st AS (SELECT min(value) AS lo, max(value) AS hi, count(*) AS n FROM events),
        |b AS (SELECT CASE WHEN st.hi = st.lo THEN 0
        |        ELSE LEAST(CAST(floor((value - st.lo) / ((st.hi - st.lo) / 1024)) AS BIGINT), 1023) END AS bin
        |      FROM events CROSS JOIN st),
        |c AS (SELECT bin, count(*) AS cnt FROM b GROUP BY 1),
        |cc AS (SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum FROM c),
        |qs AS (SELECT unnest(['0.5', '0.95', '0.99']) AS q_str),
        |r AS (SELECT q_str,
        |        GREATEST(1, CAST(ceil(CAST(q_str AS DOUBLE) * st.n) AS BIGINT)) AS rnk,
        |        st.lo, st.hi
        |      FROM qs CROSS JOIN st),
        |est AS (SELECT q_str,
        |  CASE WHEN hi = lo THEN lo
        |    ELSE lo + (hi - lo) / 1024 *
        |         (bin + CAST(rnk - (cum - cnt) AS DOUBLE) / cnt) END AS est
        |  FROM r JOIN cc ON cc.cum >= r.rnk AND cc.cum - cc.cnt < r.rnk),
        |ex AS (SELECT q_str, CASE q_str
        |    WHEN '0.5' THEN (SELECT quantile_cont(value, CAST('0.5' AS DOUBLE)) FROM events)
        |    WHEN '0.95' THEN (SELECT quantile_cont(value, CAST('0.95' AS DOUBLE)) FROM events)
        |    ELSE (SELECT quantile_cont(value, CAST('0.99' AS DOUBLE)) FROM events) END AS exact
        |  FROM qs)
        |SELECT est.q_str, printf('%.4f', est.est) AS est_r,
        |  printf('%.4f', ex.exact) AS exact_r,
        |  printf('%.4f', est.est - ex.exact) AS err_r
        |FROM est JOIN ex USING (q_str)""".stripMargin),

    // O13 — Bloom-filter semi-join reduction (explicit runtime filter): the
    // classic 100 TB join move. A semi join whose probe side is the fact
    // table shuffles every probe row before most are discarded; instead,
    // broadcast a kilobyte bitset of the (filtered) build keys and drop
    // non-matching probe rows AT THE SCAN, before any exchange. Bloom has
    // no false negatives, so the exact semi join on the survivors gives the
    // exact answer while the shuffle carries only ~hit-rate of the input —
    // the oracle is the PLAIN semi join, which is the point: correctness is
    // unconditional on the sketch. (OpsSpec pins the pruning itself:
    // superset, no false negatives, and a real selectivity win.)
    Query("o13_bloom_semi", Throughput, (s, dir) => {
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val bloom = graft.ops.Sketches.bloomBuild(urgent, col("o_orderkey"))
      val pruned = graft.ops.Sketches.bloomPrune(
        Tables.lineitem(s, dir), col("l_orderkey"), bloom)
      pruned.join(urgent.withColumnRenamed("o_orderkey", "l_orderkey"),
          Seq("l_orderkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          Exact.sumD(col("l_quantity"), 2).as("sum_qty"))
    },
      // Bloom pruning has no false negatives and is followed by the exact
      // semi join, so the oracle is the PLAIN semi join — correctness of o13
      // is unconditional on the sketch contents.
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag""".stripMargin),

    // O22 — snapshot diff (the reconciliation report every ingest pipeline
    // runs between versions): per-user aggregates of the first-half and
    // second-half day ranges FULL-OUTER joined on the key and classified
    // added / removed / changed / unchanged. The one join type nothing
    // else in the engine exercises; equality checks compare exact
    // decimals, so classification is engine-independent.
    Query("o22_snapshot_diff", Throughput, (s, dir) => {
      val e = ev(s, dir).select(col("user_id"),
        expr("unix_timestamp(ts) div 86400").as("day"), col("value"))
      val mid = e.agg(((min(col("day")) + max(col("day"))) / lit(2L))
        .cast("long").as("mid"))
      val tagged = e.crossJoin(broadcast(mid))
      def snap(f: Column => Column) =
        tagged.filter(f(col("mid")))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(30,2)")).as("s"))
      val a = snap(m => col("day") <= m)
        .select(col("user_id"), col("n").as("a_n"), col("s").as("a_s"))
      val b = snap(m => col("day") > m)
        .select(col("user_id"), col("n").as("b_n"), col("s").as("b_s"))
      a.join(b, Seq("user_id"), "full_outer")
        .select(col("user_id"), col("a_n"), col("b_n"),
          Exact.fmt(col("a_s").cast("double"), 2).as("a_s_r"),
          Exact.fmt(col("b_s").cast("double"), 2).as("b_s_r"),
          when(col("a_n").isNull, "added")
            .when(col("b_n").isNull, "removed")
            .when(col("a_n") === col("b_n") && col("a_s") === col("b_s"),
              "unchanged")
            .otherwise("changed").as("status"))
    },
      // FULL OUTER reconciliation; decimal-exact equality classification.
      """WITH e AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day, value
        |  FROM events),
        |m AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM e),
        |a AS (SELECT user_id, COUNT(*) AS a_n,
        |    SUM(CAST(value AS DECIMAL(30,2))) AS a_s
        |  FROM e CROSS JOIN m WHERE day <= mid GROUP BY 1),
        |b AS (SELECT user_id, COUNT(*) AS b_n,
        |    SUM(CAST(value AS DECIMAL(30,2))) AS b_s
        |  FROM e CROSS JOIN m WHERE day > mid GROUP BY 1)
        |SELECT user_id, a_n, b_n,
        |  printf('%.2f', CAST(a_s AS DOUBLE)) AS a_s_r,
        |  printf('%.2f', CAST(b_s AS DOUBLE)) AS b_s_r,
        |  CASE WHEN a_n IS NULL THEN 'added'
        |       WHEN b_n IS NULL THEN 'removed'
        |       WHEN a_n = b_n AND a_s = b_s THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM a FULL OUTER JOIN b USING (user_id)""".stripMargin),

    // O23 — incremental materialized-view maintenance: the (event_type,
    // day) aggregate view kept in mergeable (n, exact-decimal sum) form; a
    // new delta (here: second half of each month) is partial-aggregated
    // alone and keyed-merged against the existing snapshot. The oracle is
    // the FULL recompute — the merge algebra must reproduce it bit-for-bit
    // ([[graft.ops.Incremental]]). At 100 TB the refresh scans only the
    // delta; the merge shuffles view rows, not data rows.
    Query("o23_incremental_agg", Throughput, (s, dir) => {
      val e = ev(s, dir).select(col("event_type"),
        expr("unix_timestamp(ts) div 86400").as("day"), col("value"),
        dayofmonth(col("ts")).as("dom"))
      val keys = Seq(col("event_type"), col("day"))
      val snapshot = graft.ops.Incremental.partial(
        e.filter(col("dom") <= 15), keys, col("value"))
      val delta = graft.ops.Incremental.partial(
        e.filter(col("dom") > 15), keys, col("value"))
      graft.ops.Incremental.merge(Seq(snapshot, delta), Seq("event_type", "day"))
        .select(col("event_type"), col("day"), col("n").as("n_events"),
          Exact.fmt(col("s").cast("double"), 4).as("sum_r"))
    },
      // Full recompute — the incremental snapshot+delta merge must equal it.
      """SELECT event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |  COUNT(*) AS n_events,
        |  printf('%.4f', CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE)) AS sum_r
        |FROM events GROUP BY 1, 2""".stripMargin),

    // O39 — dataset card (the published-dataset manifest: what a datasheet
    // / dataset-card block reports about a corpus): doc/token totals,
    // vocabulary-free structural stats, language/source diversity, exact-
    // duplicate rate in basis points (t4 fingerprints), exact median doc
    // length (order statistic at (n+1) div 2 — no interpolation), per-lang
    // token mass. One narrow long-schema (metric, value) relation so the
    // card is append-only as metrics grow. All BIGINT; the only windows
    // ride the days-sized... corpus-RANK for the median, computed as a
    // max-over-filter (rank ≤ (n+1) div 2) — no single-partition window.
    Query("o39_dataset_card", Throughput, (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"), col("source"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"),
        TextOps.fingerprint(col("text")).as("fp"))
      def row(m: String, v: Column) = Seq(lit(m).as("metric"), v.as("value"))
      val totals = d.agg(
        count(lit(1)).as("docs_total"), sum(col("n_tok")).as("tokens_total"),
        countDistinct(col("lang")).as("langs"),
        countDistinct(col("source")).as("sources"),
        countDistinct(col("fp")).as("distinct_fp"),
        min(col("n_tok")).as("min_tok"), max(col("n_tok")).as("max_tok"))
      val scalar = totals.select(explode(array(
          struct(row("docs_total", col("docs_total")): _*),
          struct(row("tokens_total", col("tokens_total")): _*),
          struct(row("langs_distinct", col("langs")): _*),
          struct(row("sources_distinct", col("sources")): _*),
          struct(row("exact_dup_docs", col("docs_total") - col("distinct_fp")): _*),
          struct(row("exact_dup_bp",
            expr("(docs_total - distinct_fp) * 10000 div docs_total")): _*),
          struct(row("min_doc_tokens", col("min_tok")): _*),
          struct(row("max_doc_tokens", col("max_tok")): _*))).as("r"))
        .select(col("r.metric"), col("r.value"))
      // exact median: the (n+1) div 2-th smallest n_tok under (n_tok, doc_id)
      // order — rank from the two-pass range-partitioned ranker
      val ranked = graft.ops.Ranking.globalRowNumber(
        d.select(col("n_tok"), col("doc_id")), Seq(col("n_tok"), col("doc_id")), "pos")
      val med = ranked.crossJoin(broadcast(totals.select(col("docs_total"))))
        .filter(col("pos") === expr("(docs_total + 1) div 2"))
        .select(lit("p50_doc_tokens").as("metric"), col("n_tok").as("value"))
      val perLang = d.groupBy(col("lang"))
        .agg(sum(col("n_tok")).as("value"))
        .select(concat(lit("tokens_lang_"), col("lang")).as("metric"), col("value"))
      scalar.unionByName(med).unionByName(perLang)
    },
      // The served additive view must equal the all-time batch aggregate.
      // Long-schema card mirrored metric-for-metric; the median is the same
      // (n+1)//2 order statistic under (n_tok, doc_id) order.
      raw"""WITH d AS (SELECT doc_id, lang, source,
           |    CASE WHEN length(trim(text)) = 0 THEN 0
           |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
           |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
           |  FROM documents),
           |t AS (SELECT COUNT(*) AS docs_total,
           |    CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
           |    COUNT(DISTINCT lang) AS langs,
           |    COUNT(DISTINCT source) AS sources,
           |    COUNT(DISTINCT fp) AS distinct_fp,
           |    CAST(MIN(n_tok) AS BIGINT) AS min_tok,
           |    CAST(MAX(n_tok) AS BIGINT) AS max_tok
           |  FROM d),
           |med AS (SELECT CAST(n_tok AS BIGINT) AS value FROM (
           |    SELECT n_tok, row_number() OVER (ORDER BY n_tok, doc_id) AS pos FROM d)
           |  WHERE pos = (SELECT (docs_total + 1) // 2 FROM t)),
           |s AS (
           |  SELECT 'docs_total' AS metric, CAST(docs_total AS BIGINT) AS value FROM t
           |  UNION ALL SELECT 'tokens_total', tokens_total FROM t
           |  UNION ALL SELECT 'langs_distinct', CAST(langs AS BIGINT) FROM t
           |  UNION ALL SELECT 'sources_distinct', CAST(sources AS BIGINT) FROM t
           |  UNION ALL SELECT 'exact_dup_docs', CAST(docs_total - distinct_fp AS BIGINT) FROM t
           |  UNION ALL SELECT 'exact_dup_bp',
           |    CAST((docs_total - distinct_fp) * 10000 // docs_total AS BIGINT) FROM t
           |  UNION ALL SELECT 'min_doc_tokens', min_tok FROM t
           |  UNION ALL SELECT 'max_doc_tokens', max_tok FROM t
           |  UNION ALL SELECT 'p50_doc_tokens', value FROM med
           |  UNION ALL SELECT 'tokens_lang_' || lang,
           |    CAST(SUM(n_tok) AS BIGINT) FROM d GROUP BY lang)
           |SELECT metric, value FROM s""".stripMargin),

    // O10/S7 — offline full-history scan: the reference's Athena `SELECT *`
    // quietly returns duplicate minutes, one per upsert version
    // (pipelines/blockchain/preprocess.py:77-87 dedups them downstream;
    // SURVEY §7.4.3). Two upserts — first-half days, then a full
    // recomputation — make every day ≤ 15 minute a 2-version key; readAll
    // must expose BOTH versions (identical aggregates: a minute never spans
    // days, so the second upsert recomputes the same value), later minutes
    // exactly one.
    Query("o10_version_history", Maintenance, (s, dir) => {
      val work = scratch("o10")
      val table = new graft.store.KeyedParquetTable(s"$work/table", "tx_minute")
      def minuteAgg(df: DataFrame, v: Double) =
        MinuteAggregate(df, "ts", "value").withColumn("event_time", lit(v))
      table.upsert(minuteAgg(ev(s, dir).filter(dayofmonth(col("ts")) <= 15), 0.0), 0, bulk = true)
      table.upsert(minuteAgg(ev(s, dir), 1.0), 1, bulk = true)
      table.readAll(s)
        .groupBy(col("tx_minute"))
        .agg(count(lit(1)).as("n_versions"),
          countDistinct(col("total_nb_trx_1min")).as("n_distinct_counts"),
          sum(col("total_nb_trx_1min")).as("sum_over_versions"))
    },
      // Versioned-store contract: minutes upserted twice (days 1-15) surface
      // two identical versions in the full-history scan; the rest one.
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |  CAST(CASE WHEN min(extract(day FROM ts)) <= 15 THEN 2 ELSE 1 END AS BIGINT) AS n_versions,
        |  CAST(1 AS BIGINT) AS n_distinct_counts,
        |  CAST(COUNT(*) * (CASE WHEN min(extract(day FROM ts)) <= 15 THEN 2 ELSE 1 END) AS BIGINT) AS sum_over_versions
        |FROM events GROUP BY 1""".stripMargin),

    // O24 — time travel: three DISJOINT day-range deltas land as upsert
    // versions 0/1/2; `readAsOf(1)` reconstructs the table state as of
    // version 1 — days ≤ 20 present, each row reporting the version that
    // wrote it, version-2 rows invisible. The Delta/Iceberg `VERSION AS OF`
    // read on the engine's append-only parquet log
    // ([[graft.store.KeyedParquetTable.readAsOf]]); complements o10's
    // full-history scan and o18's SCD2 validity intervals.
    Query("o24_time_travel", Maintenance, (s, dir) => {
      val work = scratch("o24")
      val table = new graft.store.KeyedParquetTable(s"$work/table", "tx_minute")
      val e = ev(s, dir)
      val dom = dayofmonth(col("ts"))
      table.upsert(MinuteAggregate(e.filter(dom <= 10), "ts", "value"), 0, bulk = true)
      table.upsert(MinuteAggregate(e.filter(dom.between(11, 20)), "ts", "value"), 1, bulk = true)
      table.upsert(MinuteAggregate(e.filter(dom > 20), "ts", "value"), 2, bulk = true)
      table.readAsOf(s, 1)
        .select(col("tx_minute"), col("version"), col("total_nb_trx_1min"))
    },
      // State as of version 1: days ≤ 20 only, version = the delta that
      // wrote the minute (deltas are disjoint day ranges, so latest-wins
      // resolves to the one writer).
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |  CAST(CASE WHEN min(extract(day FROM ts)) <= 10 THEN 0 ELSE 1 END AS BIGINT) AS version,
        |  COUNT(*) AS total_nb_trx_1min
        |FROM events WHERE extract(day FROM ts) <= 20 GROUP BY 1""".stripMargin),

    // O25 — retention truncation under the full read gate: same three
    // deltas as o24, then [[graft.store.KeyedParquetTable.truncateHistory]]
    // physically drops pre-version-1 history; the as-of-2 read afterwards
    // must still be bit-identical to the never-truncated state (version
    // attribution included). The destructive half of time travel, proven
    // non-destructive for every retained state.
    Query("o25_retention", Maintenance, (s, dir) => {
      val work = scratch("o25")
      val table = new graft.store.KeyedParquetTable(s"$work/table", "tx_minute")
      val e = ev(s, dir)
      val dom = dayofmonth(col("ts"))
      table.upsert(MinuteAggregate(e.filter(dom <= 10), "ts", "value"), 0, bulk = true)
      table.upsert(MinuteAggregate(e.filter(dom.between(11, 20)), "ts", "value"), 1, bulk = true)
      table.upsert(MinuteAggregate(e.filter(dom > 20), "ts", "value"), 2, bulk = true)
      table.truncateHistory(s, keepFrom = 1)
      table.readAsOf(s, 2)
        .select(col("tx_minute"), col("version"), col("total_nb_trx_1min"))
    },
      // Post-truncation as-of-2 state: every minute, version = the (disjoint)
      // delta that wrote it — identical to the never-truncated state.
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |  CAST(CASE WHEN min(extract(day FROM ts)) <= 10 THEN 0
        |            WHEN min(extract(day FROM ts)) <= 20 THEN 1
        |            ELSE 2 END AS BIGINT) AS version,
        |  COUNT(*) AS total_nb_trx_1min
        |FROM events GROUP BY 1""".stripMargin),

    // O31 — the full CDC lifecycle against the keyed store (the Delta
    // MERGE WHEN MATCHED DELETE analog on the parquet log): backfill (v0,
    // days ≤ 20) → overlapping re-upsert with doubled fees (v1, days
    // 15-25: keys 15-20 OVERWRITE) → tombstone delete of day 5 (v2) →
    // re-insert day 5 tripled (v3: resurrection after delete). The served
    // state must show exactly v-precedence per day band; tombstones are
    // full-schema null rows the serving reads filter and maintenance
    // passes preserve (mergeSchema reads keep the flag visible across
    // pre-deletion files — a footer-sampled schema would silently
    // resurrect). Oracle recomputes the final state per day band.
    Query("o31_cdc_apply", Maintenance, (s, dir) => {
      val work = scratch("o31")
      val table = new graft.store.KeyedParquetTable(s"$work/t", "tx_minute")
      val e = ev(s, dir)
      val dom = dayofmonth(col("ts"))
      table.upsert(MinuteAggregate(e.filter(dom <= 20), "ts", "value"), 0, bulk = true)
      table.upsert(MinuteAggregate(
        e.filter(dom.between(15, 25)).withColumn("value", col("value") * 2),
        "ts", "value"), 1, bulk = true)
      table.deleteKeys(s,
        MinuteAggregate(e.filter(dom === 5), "ts", "value").select(col("tx_minute")), 2)
      table.upsert(MinuteAggregate(
        e.filter(dom === 5).withColumn("value", col("value") * 3),
        "ts", "value"), 3, bulk = true)
      table.readLatest(s)
        .select(col("tx_minute"), col("total_nb_trx_1min"),
          Exact.fmt(col("total_fee_1min"), 4).as("fee_r"))
    },
      // Final CDC state per day band: ≤ 14 (except 5) v0 plain, 5 v3
      // tripled, 15-25 v1 doubled, > 25 never landed.
      """WITH m AS (SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |    EXTRACT(day FROM ts) AS dom, value FROM events)
        |SELECT tx_minute, COUNT(*) AS total_nb_trx_1min,
        |  printf('%.4f', CAST(SUM(CAST(
        |    CASE WHEN dom = 5 THEN value * 3
        |         WHEN dom BETWEEN 15 AND 25 THEN value * 2
        |         ELSE value END AS DECIMAL(30,4))) AS DOUBLE)) AS fee_r
        |FROM m WHERE dom <= 25 GROUP BY tx_minute""".stripMargin),

    // O21 — z-order file skipping, demonstrated on the real write→stats→
    // read path (maintenance round trip, j8's shape): events clustered
    // into 16 range-partitioned files on the o19 Morton key, footer
    // min/max ranges extracted (the manifest relation a table format
    // serves), and a 2-D box served from the clustered table. The oracle
    // pins the exact box count; LayoutSpec pins the pruning inequalities
    // (a one-dim sort reads ALL files for a box on the other dim; z-order
    // reads ~√selectivity of them on EITHER dim).
    Query("o21_zorder_skip", Maintenance, (s, dir) => {
      val work = scratch("o21")
      val e = ev(s, dir).select(col("user_id"),
        floor(col("value")).cast("long").as("vb"), col("event_id"))
      val z = e.withColumn("zkey",
        graft.ops.Layout.morton16(col("user_id"), col("vb")))
      graft.ops.Layout.clusteredWrite(z, col("zkey"), 16, s"$work/zorder")
      s.read.parquet(s"$work/zorder")
        .filter(col("user_id").between(10, 19) && col("vb").between(100, 119))
        .agg(count(lit(1)).as("n_rows"))
    },
      // The clustered round trip changes no row: the box count is exact.
      """SELECT COUNT(*) AS n_rows FROM events
        |WHERE user_id BETWEEN 10 AND 19
        |  AND CAST(floor(value) AS BIGINT) BETWEEN 100 AND 119""".stripMargin)
  )
}
