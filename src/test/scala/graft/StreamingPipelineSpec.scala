package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.store.KeyedParquetTable
import graft.streaming.Pipeline

/** Golden scenarios 1-3 of FIXTURES.md §6: window agg with late data, dedup
  * by hash, upsert-overwrite of a re-emitted window. */
class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def tx(hash: String, fee: Int, time: Long): String =
    s"""{"hash":"$hash","ver":1,"vin_sz":1,"vout_sz":2,"size":225,"weight":900,
       |"fee":$fee,"relayed_by":"0.0.0.0","lock_time":0,"tx_index":1,
       |"double_spend":false,"time":$time,"block_index":null,"block_height":null,
       |"inputs":"[]","out":"[]","rbf":false}""".stripMargin.replaceAll("\n", "")

  private def envelope(detailType: String, txs: Seq[String]): String =
    s"""{"version":0,"id":"u","detail-type":"$detailType","source":"w",
       |"account":1,"time":"t","region":"r","resources":[],
       |"detail":{"txs":[${txs.mkString(",")}]}}""".stripMargin.replaceAll("\n", "")

  // minute boundaries (UTC): M1 = 09:00, M2 = 09:01, M3 = 09:02 on 2026-08-12
  private val base = 1786525200L // 2026-08-12 09:00:00 UTC

  test("end-to-end: window agg + watermark late-data + dedup + upsert overwrite") {
    val input = MemoryStream[String](spark)
    val table = new KeyedParquetTable(tmpDir("agg"), "tx_minute")
    val q = Pipeline.writer(
      Pipeline.aggregates(input.toDF(), "value"), table, tmpDir("ckpt"),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: A,B in M1; C in M2 (advances max event time to 09:01:10)
      input.addData(envelope("Incoming Data", Seq(
        tx("a", 100, base + 10), tx("b", 200, base + 40), tx("c", 50, base + 70))))
      // health-check envelope must be filtered (scenario: S3 rule)
      input.addData(envelope("Health Check", Seq(tx("zz", 1, base + 20))))
      q.processAllAvailable()
      // watermark now 09:01:10 - 60 s = 09:00:10
      // batch 2: D late-but-in-watermark into M1 (counted); E too-late
      // (08:58, dropped); dup of A (deduped); F in M3
      input.addData(envelope("Incoming Data", Seq(
        tx("d", 300, base + 30), tx("e", 999, base - 120),
        tx("a", 100, base + 10), tx("f", 10, base + 125))))
      q.processAllAvailable()
    } finally q.stop()

    val latest = table.readLatest(spark)
      .select($"tx_minute", $"total_nb_trx_1min", $"total_fee_1min", $"avg_fee_1min")
      .orderBy($"tx_minute").collect()
    val byMinute = latest.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(byMinute("2026-08-12 09:00:00") === ((3L, 600L, 200.0))) // A,B,D; dup A dropped, E dropped
    assert(byMinute("2026-08-12 09:01:00") === ((1L, 50L, 50.0)))
    assert(byMinute("2026-08-12 09:02:00") === ((1L, 10L, 10.0)))

    // upsert-overwrite: M1 was emitted twice (count 2 then 3); history keeps
    // both versions, latest-wins resolves to 3
    val m1Versions = table.readAll(spark)
      .filter($"tx_minute" === "2026-08-12 09:00:00").count()
    assert(m1Versions >= 2, "re-emitted window should append a new version")
  }

  /** Waits until `q`'s batches have consumed `rows` input rows in total.
    * With ProcessingTimeTimeout every trigger runs a timeout-check batch, so
    * neither an AvailableNow run nor processAllAvailable() returns on its
    * own; the query's progress is the signal that the input is in the sink. */
  private def awaitConsumed(q: StreamingQuery, rows: Long): Unit = {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (q.recentProgress.map(_.numInputRows).sum < rows) {
      q.exception.foreach(e => throw e)
      assert(System.nanoTime() < deadline, s"${q.name}: $rows input rows not consumed in 60 s")
      Thread.sleep(50)
    }
  }

  test("processing-time TTL dedup admits first row and drops dupes within TTL") {
    import graft.streaming.StreamDedup
    val input = MemoryStream[(String, Int)](spark)
    val out = StreamDedup.processingTimeTtl(
      input.toDF().toDF("hash", "fee"), "hash", ttlMs = 60 * 60 * 1000L)
    val q = out.writeStream.format("memory").queryName("ttl_dedup")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      // two batches: duplicates inside one batch, then across batches
      input.addData(("h1", 1), ("h1", 2), ("h2", 3))
      awaitConsumed(q, 3)
      input.addData(("h1", 4), ("h3", 5))
      awaitConsumed(q, 5)
    } finally q.stop()
    val rows = spark.table("ttl_dedup").as[(String, Int)].collect().toMap
    assert(rows.keySet === Set("h1", "h2", "h3"))
    assert(rows("h1") === 1, "first h1 row wins; later dupes dropped")
  }

  test("processing-time TTL dedup re-admits a key after the TTL elapses") {
    import java.nio.file.{Files, Paths}
    import graft.streaming.StreamDedup
    val ckpt = tmpDir("ttl_ckpt")
    val in = tmpDir("ttl_in")
    val sink = tmpDir("ttl_sink")
    def runOnce(rows: Long): Unit = {
      val raw = spark.readStream.text(in)
        .selectExpr("split(value, ',')[0] AS hash", "CAST(split(value, ',')[1] AS INT) AS fee")
      val out = StreamDedup.processingTimeTtl(raw, "hash", ttlMs = 500L)
      val q = out.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
      try awaitConsumed(q, rows) finally q.stop()
    }
    Files.writeString(Paths.get(s"$in/f1.txt"), "k,1\nk,9")
    runOnce(rows = 2)
    Thread.sleep(1200) // TTL (500 ms) elapses between runs
    Files.writeString(Paths.get(s"$in/f2.txt"), "k,2")
    runOnce(rows = 1)
    val rows = spark.read.parquet(sink).as[(String, Int)].collect().map(_._2).sorted
    assert(rows.toSeq === Seq(1, 2),
      "first admission wins in run 1; expired key admitted afresh in run 2")
  }
}
