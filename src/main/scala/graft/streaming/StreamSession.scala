package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming session-window aggregation, replayed end to end — the third
  * §2.8 replay next to EndToEnd's tumbling-window agg and StreamJoin's
  * interval join. Sessions are the one windowed aggregate whose windows
  * MERGE in state (a new event can fuse two open sessions), so its
  * correctness contract deserves its own oracle-checked replay rather than
  * riding the batch form (`a11_session_window`) alone.
  *
  * Correctness contract: with day-chunked fixtures replayed oldest-first
  * (Replay.writeDayChunked's ascending-mtime discipline), the
  * append-mode sink must hold EXACTLY the batch sessionization the DuckDB
  * oracle recomputes (gap-split per user, per-session count + decimal-exact
  * value sum). Why eviction cannot race a merge: a session is evicted only
  * when the watermark passes its end + gap; the watermark in effect while
  * batch k processes reflects at most batch k−1's max event time, and any
  * day-k event that could extend a day-(k−1) session lies within `gap` of
  * the boundary — 60 s + gap AFTER the eviction horizon. Same argument as
  * StreamJoin, with the gap in place of the join window.
  *
  * The flush problem: append mode emits a session only when the watermark
  * passes it, and the watermark stops 60 s short of max(ts) — the trailing
  * sessions of every user would stay unemitted forever. The replay appends
  * one SENTINEL event (user_id −1, two days past max ts) whose fixture
  * chunk sorts and replays last: its batch pushes the final watermark past
  * every real session's end + gap, the closing no-data microbatch flushes
  * them, and the sentinel's own (never-sealed) session is filtered from the
  * returned result. This is the streaming-native form of "close the books":
  * production pipelines emit the same kind of high-watermark heartbeat to
  * seal trailing state.
  *
  * Scale shape: one shuffle on user_id into keyed session state bounded by
  * (open sessions per user × row width); eviction is watermark-driven; the
  * sink is append-only parquet. No unbounded state, no re-scan, no
  * driver-side path (the sentinel is one literal row).
  */
object StreamSession {

  def run(spark: SparkSession, events: DataFrame, workDir: String,
          gap: String = "30 minutes", maxFilesPerTrigger: Int = 4): DataFrame =
    Replay.scoped(spark) {
    import spark.implicits._
    val evs = events.select(col("user_id"), col("ts"), col("value"))
    val maxTs = evs.agg(max(col("ts"))).head().getTimestamp(0)
    val sentinel = Seq((-1L, new java.sql.Timestamp(maxTs.getTime + 2L * 86400L * 1000L), 0.0))
      .toDF("user_id", "ts", "value")
    Replay.writeDayChunked(evs.unionByName(sentinel), workDir, "ts")

    val sessions = Replay.parquetSource(spark, evs.schema, workDir, maxFilesPerTrigger)
      .withWatermark("ts", "60 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(30,2)")).as("dsum"))
      .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
        col("n_events"), col("dsum").cast("double").as("sum_value"))

    Replay.appendParquet(sessions, workDir).filter(col("user_id") >= 0)
  }
}
