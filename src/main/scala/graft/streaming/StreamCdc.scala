package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming change-data capture, replayed end to end — the streaming form
  * of o18's SCD2 change detection and the fourth §2.8 replay beside the
  * tumbling-window agg, the interval join, and the session windows.
  *
  * Each (user, event_type) key carries ONE state row: the attribute's last
  * value in per-key (ts, event_id) order. A microbatch's rows for the key
  * are sorted by that same order inside the group handler (file-source
  * batches are unordered WITHIN a batch), compared against the carried
  * value, and only CHANGE rows are emitted — the filter an ingest pipeline
  * applies to turn a firehose into a dimension-table update feed.
  *
  * Correctness contract: with day-chunked fixtures replayed oldest-first
  * (Replay.writeDayChunked — one file per day, whole files per
  * trigger), cross-batch per-key order is ascending, so the union of
  * per-batch emissions must equal EXACTLY the batch change-row relation
  * (o18's lag-based `ch` subquery) the DuckDB oracle recomputes. No
  * sentinel and no watermark are needed: flatMapGroupsWithState with
  * NoTimeout emits within the processing microbatch — there is no window
  * to seal.
  *
  * Scale shape: one shuffle on the key into state bounded by ONE row per
  * live key (value + clock) — the canonical CDC state budget, independent
  * of event volume. Value comparison uses Scala IEEE equality, which
  * matches the batch/oracle SQL `<>` on every non-NaN double; the events
  * stream carries no NaN (p7 owns NaN encoding).
  */
object StreamCdc {

  case class Ev(user_id: Long, event_type: String, value: Double,
                t: Long, event_id: Long)
  case class St(lastValue: Double)
  case class Change(user_id: Long, event_type: String, value: Double,
                    valid_from_us: Long)

  def run(spark: SparkSession, events: DataFrame, workDir: String,
          maxFilesPerTrigger: Int = 4): DataFrame = Replay.scoped(spark) {
    import spark.implicits._
    val evs = events.select(col("user_id"), col("event_type"), col("value"),
      col("ts"), col("event_id"))
    Replay.writeDayChunked(evs, workDir, "ts")

    val src = Replay.parquetSource(spark, evs.schema, workDir, maxFilesPerTrigger)
      .select(col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("t"), col("event_id"))
      .as[Ev]

    val changes = src
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[St, Change](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, it, state) =>
          val sorted = it.toSeq.sortBy(e => (e.t, e.event_id))
          var last = state.getOption
          val out = Seq.newBuilder[Change]
          sorted.foreach { e =>
            if (!last.exists(_.lastValue == e.value))
              out += Change(e.user_id, e.event_type, e.value, e.t)
            last = Some(St(e.value))
          }
          last.foreach(state.update)
          out.result().iterator
      }

    Replay.appendParquet(changes.toDF(), workDir)
  }
}
