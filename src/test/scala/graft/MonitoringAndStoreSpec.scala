package graft

import java.sql.Timestamp
import graft.monitor.Alarm
import graft.store.KeyedParquetTable

/** Golden scenario 6 (FIXTURES.md §6): 2 consecutive breaches → no alarm;
  * 3 consecutive → alarm. Plus keyed-table upsert/read/compact semantics. */
class MonitoringAndStoreSpec extends SparkSpec {
  import spark.implicits._

  test("alarm fires only after 3 consecutive hourly breaches") {
    def t(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:30:00")
    // hours 0,1 breach (2x — no alarm); hours 3,4,5 breach (3x — alarm at 5)
    val df = Seq(
      t(0) -> 10.0, t(1) -> 12.0, t(2) -> 1.0,
      t(3) -> 10.0, t(4) -> 11.0, t(5) -> 15.0, t(6) -> 2.0
    ).toDF("ts", "wql")
    val out = Alarm.consecutiveBreaches(df, "ts", "wql", threshold = 9.0, k = 3)
      .select("hour_start", "alarm").as[(String, Int)].collect().toMap
    assert(out("2024-01-01 01:00:00") === 0, "2 consecutive != alarm")
    assert(out("2024-01-01 04:00:00") === 0)
    assert(out("2024-01-01 05:00:00") === 1, "3rd consecutive breach alarms")
    assert(out("2024-01-01 06:00:00") === 0)
  }

  test("keyed table: upsert versions, latest-wins read, point lookup, compaction") {
    val table = new KeyedParquetTable(tmpDir("kt"), "tx_minute")
    def row(minute: String, n: Long, et: Double) =
      Seq((minute, n, et)).toDF("tx_minute", "total_nb_trx_1min", "event_time")
    table.upsert(row("2024-01-01 00:01:00", 5L, 100.0), version = 0)
    table.upsert(row("2024-01-01 00:01:00", 7L, 200.0), version = 1)
    table.upsert(row("2024-01-01 00:02:00", 3L, 150.0), version = 1)
    // same event_time second, higher batch version must win
    table.upsert(row("2024-01-01 00:02:00", 4L, 150.0), version = 2)

    assert(table.readAll(spark).count() === 4)
    val latest = table.readLatest(spark)
      .select("tx_minute", "total_nb_trx_1min").as[(String, Long)].collect().toMap
    assert(latest === Map("2024-01-01 00:01:00" -> 7L, "2024-01-01 00:02:00" -> 4L))

    val rec = table.getRecord(spark, "2024-01-01 00:01:00")
      .select("total_nb_trx_1min").as[Long].collect()
    assert(rec.toSeq === Seq(7L))

    // excluding the open hour leaves it untouched (the writer-concurrency
    // contract: a compaction pass must never plan a prefix an active
    // streaming writer may still append to)
    table.compact(spark, excludeHourPrefixes = Set("2024-01-01 00"))
    assert(table.readAll(spark).count() === 4, "excluded hour keeps all versions")

    // compaction collapses versions per hour partition
    table.compact(spark)
    assert(table.readAll(spark).count() === 2, "compaction keeps latest per key")
    val afterCompact = table.readLatest(spark)
      .select("tx_minute", "total_nb_trx_1min").as[(String, Long)].collect().toMap
    assert(afterCompact === latest)
  }

  test("keyed table: file counts and compaction skip a running write's _temporary tree") {
    val dir = tmpDir("kt_tmp")
    val table = new KeyedParquetTable(dir, "tx_minute")
    def row(minute: String, n: Long, et: Double) =
      Seq((minute, n, et)).toDF("tx_minute", "total_nb_trx_1min", "event_time")
    table.upsert(row("2024-01-01 00:01:00", 5L, 100.0), version = 0)
    table.upsert(row("2024-01-01 00:01:00", 7L, 200.0), version = 1)
    // what an in-flight upsert leaves under the table root before its commit
    val inFlight = java.nio.file.Paths.get(dir, "_temporary", "0", "_temporary",
      "attempt_202401010000_0000_m_000000_0", "year=2024", "month=01", "day=01",
      "hour=00")
    java.nio.file.Files.createDirectories(inFlight)
    java.nio.file.Files.createFile(inFlight.resolve("part-00000.parquet"))
    assert(table.hourPrefixFileCounts(spark) === Seq(("2024-01-01 00", 2)))
    table.compact(spark)
    assert(table.hourPrefixFileCounts(spark) === Seq(("2024-01-01 00", 1)))
    assert(table.readLatest(spark).select("total_nb_trx_1min").as[Long]
      .collect().toSeq === Seq(7L))
  }

  test("keyed table: tombstone delete lifecycle across every read path") {
    val table = new KeyedParquetTable(tmpDir("ktdel"), "tx_minute")
    def row(minute: String, n: Long) =
      Seq((minute, n)).toDF("tx_minute", "total_nb_trx_1min")
    val k1 = "2024-01-01 00:01:00"; val k2 = "2024-01-01 00:02:00"
    table.upsert(row(k1, 5L), version = 0)
    table.upsert(row(k2, 3L), version = 0)
    table.deleteKeys(spark, Seq(k1).toDF("tx_minute"), version = 1)

    def served = table.readLatest(spark)
      .select("tx_minute", "total_nb_trx_1min").as[(String, Long)].collect().toMap
    assert(served === Map(k2 -> 3L), "deleted key gone from latest")
    assert(table.getRecord(spark, k1).count() === 0, "point lookup sees the delete")
    // time travel: before the delete the key exists; at the delete it doesn't
    assert(table.readAsOf(spark, 0).filter($"tx_minute" === k1).count() === 1)
    assert(table.readAsOf(spark, 1).filter($"tx_minute" === k1).count() === 0)

    // resurrection: a later upsert wins over the tombstone
    table.upsert(row(k1, 9L), version = 2)
    assert(served === Map(k1 -> 9L, k2 -> 3L))

    // maintenance preserves delete semantics: delete again, then compact +
    // truncate — the tombstone must keep beating the old version-2 row
    table.deleteKeys(spark, Seq(k1).toDF("tx_minute"), version = 3)
    table.compact(spark)
    assert(served === Map(k2 -> 3L), "compaction keeps the winning tombstone")
    table.truncateHistory(spark, keepFrom = 3)
    assert(served === Map(k2 -> 3L), "truncation keeps the winning tombstone")
  }

  test("truncateHistory skips partitions with nothing to drop (no rewrite)") {
    val dir = tmpDir("ktskip")
    val table = new KeyedParquetTable(s"$dir/t", "tx_minute")
    def row(minute: String, n: Long) =
      Seq((minute, n)).toDF("tx_minute", "total_nb_trx_1min")
    // two hours, ONE version per key at or below keepFrom, plus a later
    // version above it: truncation can drop nothing anywhere
    table.upsert(row("2024-01-01 00:01:00", 5L), version = 0)
    table.upsert(row("2024-01-01 01:01:00", 3L), version = 1)
    table.upsert(row("2024-01-01 01:02:00", 9L), version = 2)
    def fileSnapshot = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/t"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getPath, f.lastModified, f.length)).toSet
    }
    val before = fileSnapshot
    table.truncateHistory(spark, keepFrom = 1)
    assert(fileSnapshot === before,
      "a truncate that drops no rows must not rewrite any partition")
    // and a truncate that CAN drop rewrites only the affected hour
    table.upsert(row("2024-01-01 00:01:00", 6L), version = 1)
    val beforeDrop = fileSnapshot
    table.truncateHistory(spark, keepFrom = 1)
    val after = fileSnapshot
    assert(after !== beforeDrop, "superseded version physically dropped")
    val hour1 = beforeDrop.filter(_._1.contains("hour=01"))
    assert(after.filter(_._1.contains("hour=01")) === hour1,
      "unaffected hour partition untouched")
    assert(table.readAll(spark).count() === 3)
    val latest = table.readLatest(spark)
      .select("tx_minute", "total_nb_trx_1min").as[(String, Long)].collect().toMap
    assert(latest === Map("2024-01-01 00:01:00" -> 6L,
      "2024-01-01 01:01:00" -> 3L, "2024-01-01 01:02:00" -> 9L))
  }
}
