package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.queries.{Kind, Registry}
import graft.streaming.Sinks

/** Driver-contract invariants plus the auxiliary sinks (S5 raw archive,
  * S11 metrics listener). */
class ContractAndSinksSpec extends SparkSpec {
  import spark.implicits._

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry: 344 unique names, 316 throughput") {
    val all = Registry.all
    assert(all.map(_.name).distinct.size === 344)
    assert(all.count(_.kind == Kind.Throughput) === 316)
  }

  test("maintenance set: registered queries, 28 of them, every e2e replay in it") {
    val keys = SparkEntry.queries.keySet
    val maintenance = Registry.all.filter(_.kind == Kind.Maintenance).map(_.name).toSet
    assert(maintenance.subsetOf(keys), s"unregistered: ${maintenance -- keys}")
    assert(maintenance.size === 28)
    val replays = keys.filter(_.startsWith("e2e_"))
    assert(replays.nonEmpty && replays.subsetOf(maintenance),
      s"replays outside the maintenance set: ${replays -- maintenance}")
  }

  test("registry: a name declared twice fails construction") {
    val q = Registry.all.head
    val e = intercept[IllegalArgumentException](
      Registry.unique(Seq(q, q.copy(oracle = "SELECT 1"))))
    assert(e.getMessage.contains(q.name))
  }

  test("raw archive sink persists the unparsed stream verbatim") {
    val input = MemoryStream[String](spark)
    val dir = tmpDir("archive")
    val q = Sinks.rawArchive(input.toDF(), s"$dir/data", s"$dir/ckpt").start()
    try {
      input.addData("""{"raw":1}""", """{"raw":2}""")
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.text(s"$dir/data").as[String].collect().sorted
    assert(rows.toSeq === Seq("""{"raw":1}""", """{"raw":2}"""))
  }

  test("metrics listener records one row per completed batch") {
    val dir = tmpDir("metrics")
    val listener = new Sinks.MetricsListener(spark, s"$dir/m")
    spark.streams.addListener(listener)
    val input = MemoryStream[Int](spark)
    val q = input.toDF().writeStream.format("memory")
      .queryName("ml_sink").outputMode("append").start()
    try {
      input.addData(1, 2, 3)
      q.processAllAvailable()
      // listener callbacks are async; wait for the parquet to appear
      val deadline = System.currentTimeMillis() + 30000
      var ok = false
      while (!ok && System.currentTimeMillis() < deadline) {
        ok = try {
          spark.read.parquet(s"$dir/m").filter($"input_rows" > 0).count() > 0
        } catch { case _: Throwable => false }
        if (!ok) Thread.sleep(250)
      }
      assert(ok, "expected a metrics row with input_rows > 0")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }
}
