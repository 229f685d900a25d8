package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.Sinks

/** Driver-contract invariants plus the auxiliary sinks (S5 raw archive,
  * S11 metrics listener). */
class ContractAndSinksSpec extends SparkSpec {
  import spark.implicits._

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle and vice versa") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("maintenance set: registered queries, 28 of them, every e2e replay in it") {
    val keys = SparkEntry.queries.keySet
    assert(SparkEntry.maintenance.subsetOf(keys),
      s"unregistered: ${SparkEntry.maintenance -- keys}")
    assert(SparkEntry.maintenance.size === 28)
    val replays = keys.filter(_.startsWith("e2e_"))
    assert(replays.subsetOf(SparkEntry.maintenance),
      s"replays outside the maintenance set: ${replays -- SparkEntry.maintenance}")
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
