package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.store.KeyedParquetTable

/** Oracle-grade end-to-end check of the resident streaming pipeline.
  *
  * The reference's full chain — HTTP poll drops envelope JSON → EventBridge
  * rule filters `Incoming Data` → Lambda unnests txs → Flink dedups by hash
  * and computes the 1-min window agg → put_record upserts by tx_minute
  * (ref: resources/services/ingestion-worker/lib.js:36-50,
  * resources/lambdas/stream_processing/main.py:31-69,
  * resources/flink/main.py:105-120,
  * resources/lambdas/delivery_stream_to_featurestore/main.py:54-62) —
  * replayed as a real multi-microbatch Structured Streaming run whose final
  * table state is reproducible by a batch SQL recomputation (the DuckDB
  * oracle).
  *
  * Fixture derivation from the deterministic `events` table:
  *   - tx hash   = md5(event_id)          (unique per event)
  *   - tx fee    = event_id % 10000       (integer → exact sums both engines)
  *   - tx time   = epoch seconds of ts    (second truncation never moves a
  *                                         row across a minute boundary)
  *   - envelope  = one 30 s poll window   (the reference polls every 15 s)
  *   - file      = one day of envelopes, boundary shifted +30 s past
  *                 midnight so the 00:00 minute window SPANS two files — its
  *                 aggregate is emitted in two microbatches and the second
  *                 (cumulative) upsert must win in the keyed table
  *   - dups      = every 7th event re-sent in the NEXT poll envelope (the
  *                 reference's overlapping last-100-txs polling) — crosses
  *                 file/batch boundaries, so dedup state must carry over
  *   - noise     = every 11th event also emitted under a `Health Check`
  *                 envelope with a DIFFERENT hash — if the S3 event-bus
  *                 filter failed these would inflate every count
  *
  * Files are replayed oldest-first (explicit modification times, ascending
  * with the data's event time), so with contiguous day chunks no on-time row
  * ever falls behind the 60 s watermark — the final table equals the clean
  * batch aggregate, which is exactly what the oracle recomputes.
  *
  * ==Late-data variant (watermark DISCARD semantics)==
  *
  * With `lateDelayFiles = d > 0`, a deterministic subset of events —
  * `event_id % 13 == 0 && event_id % 7 != 0 && ts < max(ts) - 1 h` — is
  * shifted into the envelope exactly `d` fixture files after its on-time
  * position (event time unchanged), and must then be dropped by the 60 s
  * watermark — the reference's core lateness contract
  * (resources/flink/main.py:77 — `watermark(Duration.ofSeconds(60))`).
  *
  * Determinism needs care, because Spark's late-events filter (SPARK-40925)
  * compares against the watermark in effect during the PREVIOUS microbatch —
  * one batch older than the value a progress report shows for the arrival
  * batch (measured here empirically: an arrival exactly one batch late is
  * admitted; two batches late with an intervening on-time file is dropped).
  * With day-per-file fixtures, `m = maxFilesPerTrigger` and `d >= 2m + 2`:
  *
  *   - a late row from file `k` arrives in file `j = k + d` (or a trailing
  *     file), whose batch is `j div m`; the filter's watermark is computed
  *     from batches through `j div m - 2`, i.e. files through
  *     `m*(j div m - 1) - 1 >= k + 2` — so it reflects on-time day `k+2`'s
  *     event times, a full day past the late row's minute window;
  *   - this requires every on-time day-file to be non-empty (true for the
  *     events table at every SF: the day slots are contiguous, so file
  *     index = day index) — a gap would let reindexing shrink the delay;
  *   - the `%7 != 0` guard keeps the overlap-duplicate re-send from
  *     delivering the same tx on time anyway (dup copies go out one
  *     envelope later by design, which would defeat the delay);
  *   - the 1 h tail exclusion keeps rows out whose window the final
  *     watermark (bounded by `max(ts) - 60 s`) never overtakes; rows from
  *     the last days arrive in trailing files whose filter watermark
  *     already covers all on-time data.
  *
  * The oracle recomputes the aggregate excluding exactly that subset — so a
  * pipeline that ADMITTED any late row (or dropped any on-time row) hash-
  * mismatches.
  */
object EndToEnd {

  private val EnvelopeSeconds = 30L
  private val EnvelopesPerFile = 2880L // one day of 30 s polls

  /** Spark-side predicate for the delayed subset; the DuckDB oracle and the
    * ScalaTest spec mirror it. `maxTime` = max epoch-second over `events`. */
  private def lateEvent(maxTime: Long) =
    pmod(col("event_id"), lit(13)) === 0 &&
      pmod(col("event_id"), lit(7)) =!= 0 &&
      col("time") < lit(maxTime - 3600L)

  /** Render `events` into time-ordered envelope fixture files under
    * `dir/data`. Returns the file count. */
  private def writeFixtures(events: DataFrame, dir: String,
                            envelopesPerFile: Long = EnvelopesPerFile,
                            lateDelayFiles: Int = 0): Int = {
    val base = events.select(
      md5(col("event_id").cast("string")).as("hash"),
      pmod(col("event_id"), lit(10000)).cast("int").as("fee"),
      unix_timestamp(col("ts")).as("time"),
      col("event_id"))
      .withColumn("env_id", expr(s"time div $EnvelopeSeconds"))

    val onTime = base.withColumn("detail_type", lit("Incoming Data"))
    // late variant: move the delayed subset's ARRIVAL (its envelope, hence
    // its file and microbatch) without touching its event time
    val incoming =
      if (lateDelayFiles == 0) onTime
      else {
        val maxTime = events.agg(max(unix_timestamp(col("ts")))).first().getLong(0)
        onTime.withColumn("env_id",
          when(lateEvent(maxTime), col("env_id") + lit(lateDelayFiles * envelopesPerFile))
            .otherwise(col("env_id")))
      }
    // overlap duplicates: same tx re-polled one envelope later
    val dups = incoming.filter(pmod(col("event_id"), lit(7)) === 0)
      .withColumn("env_id", col("env_id") + 1)
    // health-check noise: distinct hashes that must never reach the agg
    val health = base.filter(pmod(col("event_id"), lit(11)) === 0)
      .withColumn("hash", md5(concat(lit("hc-"), col("event_id").cast("string"))))
      .withColumn("detail_type", lit("Health Check"))

    val envelopes = incoming.unionByName(dups).unionByName(health)
      .withColumn("tx", struct(col("hash"), col("fee"), col("time")))
      .groupBy(col("detail_type"), col("env_id"))
      .agg(collect_list(col("tx")).as("txs"))
      .select(
        expr(s"(env_id - 1) div $envelopesPerFile").as("chunk"),
        to_json(struct(
          col("detail_type").as("detail-type"),
          struct(col("txs")).as("detail"))).as("value"))
    Replay.writeChunks(envelopes, dir, "text")
  }

  /** Replay the fixtures through the resident pipeline (multi-batch
    * AvailableNow) into a keyed table and return its latest state.
    *
    * For the late-data variant pass `lateDelayFiles = maxFilesPerTrigger`
    * and an `envelopesPerFile` small enough to yield several microbatches
    * (see the class doc for why that pair is deterministic). */
  /** With `withAuxSinks` the replay also exercises the two auxiliary legs of
    * the reference architecture and ASSERTS their contracts (so a failure
    * fails the correctness row, not just a unit test):
    *   - S5 raw archive (the Firehose→S3 passthrough): every envelope line
    *     of the source must land, byte-preserving, in the archive;
    *   - S11 metrics listener: per-batch rows whose `input_rows` must sum
    *     to exactly the source line count for the resident query (the
    *     listener bus is async — polled to quiescence before asserting). */
  def run(spark: SparkSession, events: DataFrame, workDir: String,
          maxFilesPerTrigger: Int = 4,
          envelopesPerFile: Long = EnvelopesPerFile,
          lateDelayFiles: Int = 0,
          withAuxSinks: Boolean = false): DataFrame = Replay.scoped(spark) {
    require(lateDelayFiles == 0 || lateDelayFiles >= 2 * maxFilesPerTrigger + 2,
      "the late-events filter lags one batch behind the arrival batch's " +
        "watermark (class doc): lateDelayFiles >= 2*maxFilesPerTrigger + 2")
    writeFixtures(events, workDir, envelopesPerFile, lateDelayFiles)
    val listener =
      if (withAuxSinks) Some(new Sinks.MetricsListener(spark, s"$workDir/metrics"))
      else None
    listener.foreach(spark.streams.addListener)
    try {
      val raw = SourceAdapters.fixtureDirectory(spark, s"$workDir/data", maxFilesPerTrigger)
      val table = new KeyedParquetTable(s"$workDir/table", "tx_minute")
      val query = Pipeline.writer(
        Pipeline.aggregates(raw), table, s"$workDir/ckpt", Trigger.AvailableNow)
        .start()
      val archive = if (withAuxSinks) {
        val rawForArchive =
          SourceAdapters.fixtureDirectory(spark, s"$workDir/data", maxFilesPerTrigger)
        Some(Sinks.rawArchive(rawForArchive, s"$workDir/archive", s"$workDir/ckpt_archive")
          .trigger(Trigger.AvailableNow).start())
      } else None
      query.awaitTermination()
      archive.foreach(_.awaitTermination())

      if (withAuxSinks) {
        val srcLines = spark.read.text(s"$workDir/data").count()
        val archived = spark.read.text(s"$workDir/archive").count()
        require(archived == srcLines,
          s"S5 raw archive incomplete: $archived of $srcLines envelope lines")
        // listener delivery is async: poll until the resident query's
        // metrics rows account for every source line (or time out)
        val qid = query.id.toString
        val metricsPath = new Path(s"$workDir/metrics")
        val fs = metricsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def ingested(): Long =
          // the async listener may not have written its first row (and so
          // not created the dir) yet — that is "0 accounted", not an error
          if (!fs.exists(metricsPath)) 0L
          else spark.read.parquet(metricsPath.toString)
            .filter(col("query_id") === qid)
            .agg(coalesce(sum(col("input_rows")), lit(0L))).head().getLong(0)
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        var got = ingested()
        while (got != srcLines && System.nanoTime() < deadline) {
          Thread.sleep(200); got = ingested()
        }
        require(got == srcLines,
          s"S11 metrics incomplete: $got of $srcLines input rows accounted")
      }
      table.readLatest(spark)
        .select(col("tx_minute"), col("total_nb_trx_1min"),
          col("total_fee_1min"), col("avg_fee_1min"))
    } finally listener.foreach(spark.streams.removeListener)
  }
}
