package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** One query of a pass: its build (`fn(spark, dir)`) and its action (the
  * full result written to the `noop` sink, so every output column is
  * computed), in epoch ms. */
case class QueryRun(name: String, start: Double, built: Double, end: Double,
                    error: Option[String], timedOut: Boolean)

/** The batch workload: a pass that writes each result of a fixed query
  * sample for the oracle compare, then sequential passes timed with no
  * listener attached, all in one order. The traced run
  * adds a traced pass and a `Tables.load` probe. */
object Batch {
  def run(a: Args): Unit = {
    val dir = a("data")
    val out = a("out")
    val order = a("order").split(",").toSeq.filter(_.nonEmpty)
    val cpus = a.int("cpus")
    val traced = a.bool("trace")
    val limitMs = a.int("query_timeout_s") * 1e3
    val (spark, sessionS) = Sessions.setUp(cpus)
    val fns = SparkEntry.queries
    val unknown = order.filterNot(fns.contains)
    require(unknown.isEmpty, s"queries not in SparkEntry.queries: ${unknown.mkString(",")}")
    val dog = new Watchdog(spark)

    def pass(tag: String): (Seq[QueryRun], Double, Double) = {
      val p0 = Clock.now
      val runs = order.map { name =>
        val t0 = Clock.now
        var built = Double.NaN
        val (r, timedOut) = dog.run(s"q|$name|$tag", limitMs) {
          val df = fns(name)(spark, dir)
          built = Clock.now
          spark.sparkContext.setJobGroup(s"q|$name|$tag|action", name, interruptOnCancel = true)
          df.write.format("noop").mode("overwrite").save()
        }
        val t2 = Clock.now
        spark.catalog.clearCache()
        QueryRun(name, t0, if (built.isNaN) t2 else built, t2,
          r.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)), timedOut)
      }
      (runs, p0, Clock.now)
    }

    // the oracle pass first: it writes each result for the compare, outside
    // every timed window, and warms the JVM, code generation and file caches
    // so that the timed passes measure steady-state query latency
    val verify = order.sorted.map { name =>
      val (r, timedOut) = dog.run(s"verify|$name", limitMs) {
        fns(name)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/results/$name")
      }
      spark.catalog.clearCache()
      Map("name" -> name, "timed_out" -> timedOut,
        "error" -> r.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
    }
    // set-up ends where the first timed pass begins
    var setupS = Double.NaN
    val timed = (1 to a.int("passes")).map { i =>
      if (i == 1) setupS = Clock.sinceJvmStartS
      pass(s"timed$i")
    }
    val liveMb = HeapWatch.liveMb()
    val tracedOut = if (!traced) Map.empty[String, Any]
      else tracedPass(spark, dir, cpus, out, pass("traced"))
    dog.close()

    Json.write(s"$out/jvm_result.json", Map(
      "setup_s" -> setupS, "session_s" -> sessionS,
      "passes" -> timed.map { case (runs, t0, t1) =>
        Map("wall_s" -> (t1 - t0) / 1e3, "queries" -> runs.map(queryJson)) },
      "verify" -> verify,
      "traced" -> tracedOut,
      "peak_rss_kb" -> RunInfo.peakRssKb, "peak_heap_mb" -> HeapWatch.peakMb, "heap_live_mb" -> liveMb,
      "info" -> RunInfo.describe(spark, cpus)))
    spark.stop()
  }

  private def queryJson(q: QueryRun): Map[String, Any] = Map(
    "name" -> q.name, "build_s" -> (q.built - q.start) / 1e3,
    "action_s" -> (q.end - q.built) / 1e3, "total_s" -> (q.end - q.start) / 1e3,
    "error" -> q.error, "timed_out" -> q.timedOut)

  /** `Tables.load` per call on every table, then the traced pass: spans for
    * the workload, each query, its build and its action, with Spark jobs as
    * children through their job group. */
  private def tracedPass(spark: SparkSession, dir: String, cpus: Int, out: String,
                         pass: => (Seq[QueryRun], Double, Double)): Map[String, Any] = {
    val loads = for (_ <- 1 to 3; t <- Tables.all) yield {
      val s = Clock.now; Tables.load(spark, dir, t); (Clock.now - s) / 1e3
    }
    val probe = new SparkProbe(spark)
    val (runs, p0, p1) = pass
    probe.detach()

    val spans = new Spans
    val root = spans.add("workload", "workload", 0L, p0, p1)
    val parentOf = mutable.Map[String, Long]()
    runs.foreach { q =>
      val op = spans.add(q.name, "query", root, q.start, q.end)
      parentOf(s"q|${q.name}|traced") = spans.add(q.name, "build", op, q.start, q.built)
      parentOf(s"q|${q.name}|traced|action") = spans.add(q.name, "action", op, q.built, q.end)
    }
    val jobs = probe.jobSeq.filter(j => parentOf.contains(j.group))
    jobs.foreach { j =>
      spans.add(j.group.split('|')(1), "spark_job", parentOf(j.group), j.start,
        if (j.end.isNaN) j.start else j.end)
    }
    spans.writeJsonl(s"$out/spans.jsonl")

    val wallMs = p1 - p0
    val layers = mutable.LinkedHashMap[String, Double]()
    layers("tables.load_s") = Spans.median(loads)
    layers("query.build_s") = runs.map(q => q.built - q.start).sum / 1e3
    layers("query.build_jobs") = jobs.count(!_.group.endsWith("|action"))
    layers("query.action_s") = runs.map(q => q.end - q.built).sum / 1e3
    layers("driver.self_s") = runs.map { q =>
      q.end - q.start - Spans.unionMs(jobs.filter(_.group.startsWith(s"q|${q.name}|traced"))
        .map(j => (math.max(j.start, q.start), math.min(if (j.end.isNaN) q.end else j.end, q.end))))
    }.sum / 1e3
    layers("catalyst.plan_s") = probe.planSeconds(p0, p1)
    layers ++= probe.counters(jobs, wallMs, cpus)
    Map("pass_wall_s" -> wallMs / 1e3, "queries" -> runs.map(queryJson),
      "layers" -> layers, "self_s" -> spans.selfSeconds, "spans" -> spans.toSeq.size)
  }
}
