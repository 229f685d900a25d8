package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.store.WriteAuditPublish._

/** Write-Audit-Publish: publish gating, reader isolation, crash windows. */
class WapSpec extends SparkSpec {

  private def audits = Seq(
    Audit("no_null_keys", col("k").isNull),
    Audit("nonneg", col("v") < 0))

  test("clean candidate publishes; poisoned candidate stays invisible") {
    import spark.implicits._
    val dir = tmpDir("wap")
    val clean = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val (ok1, r1) = writeAuditPublish(clean, dir, 1L, audits)
    assert(ok1 && r1.forall(_._2 == 0L))
    assert(publishedGen(dir).contains(1L))
    assert(readPublished(spark, dir).as[(String, Long)].collect().toSet ===
      Set(("a", 1L), ("b", 2L)))
    val poisoned = clean.unionByName(
      Seq((null.asInstanceOf[String], -5L)).toDF("k", "v"))
    val (ok2, r2) = writeAuditPublish(poisoned, dir, 2L, audits)
    assert(!ok2 && r2.exists(_._2 > 0))
    // reader still serves gen 1 — the failed candidate is not observable
    assert(publishedGen(dir).contains(1L))
    assert(readPublished(spark, dir).as[(String, Long)].collect().toSet ===
      Set(("a", 1L), ("b", 2L)))
    // the poisoned bytes exist ONLY in the unpublished staging area
    assert(Files.exists(Paths.get(dir, "stage", "gen=2")))
  }

  test("a candidate breaking both audits reports each audit's own count and does not publish") {
    import spark.implicits._
    val dir = tmpDir("wap-both")
    val bad = Seq(("a", 1L), (null, 2L), (null, -3L), ("b", -4L), ("c", -5L), ("d", 6L))
      .toDF("k", "v")
    val (ok, r) = writeAuditPublish(bad, dir, 1L, audits)
    assert(!ok)
    assert(publishedGen(dir).isEmpty, "a failed candidate must not publish")
    // one count per audit, each equal to a separate count() of its
    // violations over the staged bytes
    val staged = spark.read.parquet(s"$dir/stage/gen=1")
    assert(r === audits.map(a => a.name -> staged.filter(a.violation).count()))
    assert(r === Seq("no_null_keys" -> 2L, "nonneg" -> 3L))
  }

  test("crash between stage and publish leaves the old generation serving; dead writer's tmp is inert") {
    import spark.implicits._
    val dir = tmpDir("wap-crash")
    val v1 = Seq(("a", 1L)).toDF("k", "v")
    assert(writeAuditPublish(v1, dir, 1L, audits)._1)
    // crash injection: gen 2 stages (clean) but the process dies BEFORE
    // publishManifest — simulated by staging directly
    Seq(("a", 99L)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/stage/gen=2")
    // plus a torn manifest tmp from the dead writer (gen-unique name: a
    // concurrent/later publisher must never rename someone else's bytes)
    Files.write(Paths.get(dir, ".MANIFEST.2.tmp"), "2".getBytes("UTF-8"))
    assert(publishedGen(dir).contains(1L), "old generation still published")
    assert(readPublished(spark, dir).as[(String, Long)].collect().toSet ===
      Set(("a", 1L)))
    // recovery: the NEXT publish (gen 3) lands through ITS OWN tmp; the
    // dead writer's orphan stays inert (vacuum's job, not publish's) and
    // the published pointer is unaffected by it
    val v3 = Seq(("a", 3L), ("c", 4L)).toDF("k", "v")
    assert(writeAuditPublish(v3, dir, 3L, audits)._1)
    assert(publishedGen(dir).contains(3L))
    assert(readPublished(spark, dir).as[(String, Long)].collect().toSet ===
      Set(("a", 3L), ("c", 4L)))
    assert(!Files.exists(Paths.get(dir, ".MANIFEST.3.tmp")), "own tmp consumed")
    assert(Files.exists(Paths.get(dir, ".MANIFEST.2.tmp")),
      "dead writer's orphan tmp untouched — never renamed by another publisher")
    // a RETRY of the dead writer's gen overwrites its own stale tmp and lands
    publishManifest(dir, 2L)
    assert(publishedGen(dir).contains(2L))
    assert(!Files.exists(Paths.get(dir, ".MANIFEST.2.tmp")), "retry consumes its tmp")
  }

  test("audits judge the staged bytes, and a re-publish of an old gen is an atomic flip back") {
    import spark.implicits._
    val dir = tmpDir("wap-flip")
    assert(writeAuditPublish(Seq(("a", 1L)).toDF("k", "v"), dir, 1L, audits)._1)
    assert(writeAuditPublish(Seq(("a", 2L)).toDF("k", "v"), dir, 2L, audits)._1)
    assert(publishedGen(dir).contains(2L))
    // rollback = republish the manifest at gen 1; no data rewrite
    publishManifest(dir, 1L)
    assert(readPublished(spark, dir).as[(String, Long)].collect().toSet ===
      Set(("a", 1L)))
  }

  test("one generation starts no schema-inference job, and its audit is one job") {
    import spark.implicits._
    val dir = tmpDir("wap-jobs")
    val candidate = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    // the same write on its own, to take the staged write's jobs out
    val writeJobs = jobsStartedBy(candidate.write.parquet(s"$dir/write-only"))
    val wapJobs = jobsStartedBy(assert(writeAuditPublish(candidate, dir, 1L, audits)._1))
    // inference would add at least one job and the audit at least one, so
    // exactly one more job than the write means no inference and a
    // one-job audit
    assert(wapJobs - writeJobs === 1, s"write alone $writeJobs jobs, WAP generation $wapJobs")
  }

  test("readPublished after a publish starts no Spark job") {
    import spark.implicits._
    val dir = tmpDir("wap-read")
    assert(writeAuditPublish(Seq(("a", 1L)).toDF("k", "v"), dir, 1L, audits)._1)
    assert(jobsStartedBy(readPublished(spark, dir)) === 0)
    assert(readPublished(spark, dir).as[(String, Long)].collect().toSeq === Seq(("a", 1L)))
  }

  test("audit counts are the violations in the staged files, even for a non-deterministic candidate") {
    val dir = tmpDir("wap-nondet")
    // a fresh coin per evaluation: re-evaluating the candidate instead of
    // reading the staged bytes gives other null keys, and so (almost
    // surely, over 200k rows) another count
    val coin = udf(() => java.util.concurrent.ThreadLocalRandom.current().nextBoolean())
      .asNondeterministic()
    val candidate = spark.range(200000).select(
      when(coin(), lit(null)).otherwise(col("id").cast("string")).as("k"),
      (col("id") % 7 - 3).as("v"))
    val (ok, r) = writeAuditPublish(candidate, dir, 1L, audits)
    assert(!ok)
    val staged = spark.read.parquet(s"$dir/stage/gen=1")
    assert(r === audits.map(a => a.name -> staged.filter(a.violation).count()))
  }

  test("an empty candidate has no violations and publishes") {
    import spark.implicits._
    val dir = tmpDir("wap-empty")
    val (ok, r) = writeAuditPublish(Seq.empty[(String, Long)].toDF("k", "v"), dir, 1L, audits)
    assert(ok && r === audits.map(_.name -> 0L))
    assert(readPublished(spark, dir).count() === 0L)
  }
}
