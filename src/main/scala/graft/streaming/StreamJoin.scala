package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Stream-stream interval join, replayed end to end (the §2.8 companion of
  * EndToEnd's windowed-aggregation replay): clicks and errors are two
  * event-bus subscriptions of the same firehose (the reference's
  * EventBridge pattern — one bus, per-consumer filter rules), joined per
  * user on a bounded event-time interval with watermarks on both sides.
  *
  * Correctness contract: with fixtures replayed in event-time order
  * (day-chunked files, ascending modification times — the EndToEnd
  * discipline), every qualifying pair is matched before state eviction and
  * the append-mode sink holds EXACTLY the batch join's row set, which is
  * what the DuckDB oracle recomputes. Why eviction can't race arrival: the
  * interval condition bounds err_ts in BOTH directions relative to
  * click_ts, so Spark derives a state TTL for each side; the global
  * watermark lags one batch behind the ordered replay, so when a click at
  * t_c arrives the watermark is ≤ t_c − 60 s, strictly before the eviction
  * point t_e + window ≥ t_c of any error it may still match.
  *
  * Scale shape: the join itself is a keyed-state symmetric hash join —
  * both sides shuffle once on user_id, per-key state is bounded by the
  * interval width × per-user rate, and eviction is watermark-driven. At
  * 100 TB/day this is the shape that works: no unbounded state, no
  * re-scan, one exchange per side.
  */
object StreamJoin {

  /** Replay `events` through the two-subscription interval join and return
    * the sink's final row set: for each click, every error of the same
    * user in the `windowSeconds` before it (inclusive).
    *
    * Two independent readStreams over the same fixture dir — the
    * event-bus-with-two-rules topology, and also the robust Spark form (a
    * filtered self-join of one source shares one set of file offsets;
    * separate sources keep per-side progress independent). */
  def run(spark: SparkSession, events: DataFrame, workDir: String,
          windowSeconds: Long = 21600L,
          maxFilesPerTrigger: Int = 4,
          daysPerChunk: Int = 1): DataFrame = Replay.scoped(spark) {
    Replay.writeDayChunked(events, workDir, "ts", daysPerChunk)
    val joined = intervalJoin(spark, events.schema, workDir, maxFilesPerTrigger,
      windowSeconds, Seq(col("value").as("click_value")), "inner")
    Replay.appendParquet(
      joined.select(col("user_id"), col("click_id"), col("err_id"),
        unix_micros(col("click_ts")).as("click_t_us"),
        unix_micros(col("err_ts")).as("err_t_us"), col("click_value")),
      workDir)
  }

  /** LEFT OUTER variant of [[run]] — the semantics twin whose hard part is
    * the NULL side: an unmatched click can only be emitted (err_id NULL)
    * when the watermark proves no qualifying error can still arrive, i.e.
    * at state eviction — so outer results trail the inner ones by the
    * interval width, and the trailing clicks of the whole replay would
    * stay unemitted forever behind the final watermark (it stops 60 s
    * short of max ts). The StreamSession sentinel discipline seals them —
    * but here the watermark is the MIN across both sides, and each side
    * computes its own from the rows passing ITS event-type filter, so ONE
    * sentinel advances one side only and the global watermark stays
    * pinned: a sentinel PAIR (one click, one error, 2 days past max ts)
    * is required. Their own rows never seal (nothing ever passes their
    * eviction point) and are excluded by the user_id ≥ 0 read-back filter.
    *
    * Contract: sink = the batch LEFT JOIN row set exactly — every click
    * appears, matched rows with their err_id, unmatched ones once with
    * NULL. Same eviction-vs-arrival ordering argument as [[run]]. */
  def runLeftOuter(spark: SparkSession, events: DataFrame, workDir: String,
                   windowSeconds: Long = 21600L,
                   maxFilesPerTrigger: Int = 4,
                   daysPerChunk: Int = 1): DataFrame = Replay.scoped(spark) {
    import spark.implicits._
    val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
    val far = new java.sql.Timestamp(maxTs.getTime + 2L * 86400L * 1000L)
    val sentinels = Seq((-1L, far, -1L, "click", 0.0, "{}"),
        (-2L, far, -2L, "error", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val evs = events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), col("props"))
    Replay.writeDayChunked(evs.unionByName(sentinels), workDir, "ts", daysPerChunk)
    val joined = intervalJoin(spark, evs.schema, workDir, maxFilesPerTrigger,
      windowSeconds, Seq.empty, "left_outer")
    Replay.appendParquet(
      joined.select(col("user_id"), col("click_id"), col("err_id"),
        unix_micros(col("click_ts")).as("click_t_us")),
      workDir).filter(col("user_id") >= 0)
  }

  /** Clicks joined per user to the errors in the `windowSeconds` before
    * them, each side its own readStream over the fixtures with a 60 s
    * watermark; `clickExtra` rides along on the click side. */
  private def intervalJoin(spark: SparkSession, schema: StructType,
                           workDir: String, maxFilesPerTrigger: Int,
                           windowSeconds: Long, clickExtra: Seq[Column],
                           joinType: String): DataFrame = {
    def source() = Replay.parquetSource(spark, schema, workDir, maxFilesPerTrigger)
    val clicks = source().filter(col("event_type") === "click")
      .select(Seq(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts")) ++ clickExtra: _*)
      .withWatermark("click_ts", "60 seconds")
    val errors = source().filter(col("event_type") === "error")
      .select(col("user_id").as("err_user_id"), col("event_id").as("err_id"),
        col("ts").as("err_ts"))
      .withWatermark("err_ts", "60 seconds")
    clicks.join(errors,
      col("user_id") === col("err_user_id") &&
        col("err_ts") >= col("click_ts") - expr(s"INTERVAL $windowSeconds SECONDS") &&
        col("err_ts") <= col("click_ts"),
      joinType)
  }
}
