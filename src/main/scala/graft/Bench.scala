package graft

import graft.queries.Kind.{Maintenance, Throughput}
import graft.queries.Registry

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // median-of-N per query (fixed per-query back-to-back repeats) so ambient
    // machine noise can't masquerade as a plan change round-over-round; the
    // r6 bench showed ~1.2x uniform inflation that hid a real optimization
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // r13 opt note — measured and REJECTED: forcing AQE to coalesce to the
    // advisory size (parallelismFirst=false, advisory 64m — the Spark docs'
    // busy-cluster recommendation) read +19% on a 147-query subset at sf0.1
    // (70.4 s → 83.7 s): with KB-scale shuffles every post-exchange stage
    // collapses to one task and serializes. The default parallelism-first
    // coalescing is the right call for this bench's shape at every SF.
    // (also measured: AQE fully OFF = +35% on the same subset — the runtime
    // coalescing pays for its replanning many times over; default kept.)
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    // one tiny action to pay session/codegen bring-up outside the timings
    spark.range(1000).selectExpr("sum(id)").collect()
    // SPARK_GRAFT_ONLY=a,b,c — local iteration on a subset; unset for the
    // driver's full run
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // SPARK_GRAFT_MAINT_ONLY=1 — run ONLY the maintenance/replay set (the
    // sweep methodology needs maintenance 100× readings without paying the
    // full throughput loop at sf10)
    val maintOnly = sys.env.get("SPARK_GRAFT_MAINT_ONLY").contains("1")
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadBefore = osBean.getSystemLoadAverage
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    // Maintenance round trips (streaming pipeline, on-disk IVF index, store
    // compaction) are kept out of query THROUGHPUT but still tracked — a 5x
    // slowdown in StreamNearDup or IvfIndex.search was once invisible to the
    // driver (r8 verdict gap 1). They run after the throughput queries, once
    // each (dominated by fixed trigger/checkpoint/FS overhead, so a
    // rep-median adds minutes for little signal), and report under a separate
    // "maintenance" key so the round-over-round query total stays comparable.
    // Skipped during SPARK_GRAFT_ONLY local iteration.
    val selected = Registry.all
      .filter(q => only.forall(_.contains(q.name)) && (q.kind match {
        case Throughput => !maintOnly
        case Maintenance => only.isEmpty || maintOnly
      }))
      .sortBy(q => (q.kind == Maintenance, q.name))
    val (results, maintenance) = selected.map { q =>
      val times = (1 to (if (q.kind == Throughput) reps else 1)).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { q.build(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] ${q.name} FAILED: ${e.getMessage}")
            false
        }
        // failures report a negative time so they can't masquerade as fast wins
        val elapsed = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        // cache teardown happens OUTSIDE the timed window — caching queries
        // must not be charged for their own unpersist
        spark.catalog.clearCache()
        elapsed
      }
      val med = if (times.exists(_ < 0)) -1.0 else median(times)
      val spread = if (med > 0) (times.max - times.min) / med else -1.0
      // per-query progress on stderr: a sweep run that dies (or a query
      // that wedges) must still leave every completed timing attributable
      // — the r11 100× sweep lost 27 min to an unattributable wedge
      System.err.println(f"[bench] done ${q.name} $med%.3f")
      (q, med, spread)
    }.partition(_._1.kind == Throughput)
    // r7/r10 postmortem: the driver tail-captures the LAST ~2000 bytes of
    // stdout; a 248-query map is ~5 KB and can never fit, so any summary
    // line carrying it parses as null (r10) or loses its head (r07).
    // Contract fix (r10 verdict task 2): the COMPLETE per-query map +
    // spreads + maintenance goes to a checked-in BENCH_SUMMARY.json; the
    // final printed line is compact — total, per-FAMILY subtotals (≤ ~20
    // keys), the maintenance map, and the load/spread diagnostics — and is
    // guaranteed to fit whole inside the capture window.
    def r3(v: Double): String = f"$v%.3f"
    val qs = results.map { case (q, v, _) => s"\"" + q.name + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val spreads = results.map { case (q, _, s) => s"\"" + q.name + "\":" + r3(s) }
      .mkString("{", ",", "}")
    val maint = maintenance.map { case (q, v, _) => s"\"" + q.name + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val loadAfter = osBean.getSystemLoadAverage
    val spreadMax = results.map(_._3).foldLeft(-1.0)(math.max)
    // family = leading letters of the first underscore token (a10→a,
    // mon4→mon, sd1→sd, e2e_stream→e); failed queries (-1) poison their
    // family subtotal to -1 so a failure can't hide inside an aggregate
    def family(name: String): String = {
      val t = name.takeWhile(_ != '_')
      val f = t.takeWhile(!_.isDigit)
      if (f.isEmpty) t else f
    }
    val fams = results.groupBy(r => family(r._1.name)).toSeq.sortBy(_._1).map {
      case (f, rs) =>
        val v = if (rs.exists(_._2 < 0)) -1.0 else rs.map(_._2).sum
        s"\"" + f + "\":" + r3(v)
    }.mkString("{", ",", "}")
    val summaryJson =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"queries":$qs,"spread":$spreads,"maintenance":$maint,"load1_before":${r3(loadBefore)},"load1_after":${r3(loadAfter)},"spread_max":${r3(spreadMax)},"sf":"$sfDir","reps":$reps}"""
    // full artifact: only on a full-suite run, so a SPARK_GRAFT_ONLY local
    // iteration can't clobber the committed complete map; sweep runs point
    // SPARK_GRAFT_SUMMARY elsewhere for the same reason
    if (only.isEmpty && !maintOnly) {
      val summaryPath =
        sys.env.getOrElse("SPARK_GRAFT_SUMMARY", "BENCH_SUMMARY.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(summaryPath),
        (summaryJson + "\n").getBytes("UTF-8"))
    }
    println(summaryJson) // full map in stdout for log readers; NOT last
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"queries":$fams,"maintenance":$maint,"detail":"BENCH_SUMMARY.json","load1_before":${r3(loadBefore)},"load1_after":${r3(loadAfter)},"spread_max":${r3(spreadMax)},"sf":"$sfDir","reps":$reps}""")
    spark.stop()
  }
}
