package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Input row for the streaming hysteresis alarm. */
case class HystIn(user_id: Long, ts_us: Long, event_id: Long, value: Double)

/** Carried per-user state: current alarm state plus running counters. */
case class HystState(state: Int, nEnter: Long, nAlarm: Long, nRows: Long)

/** Snapshot emitted per (key, micro-batch); `n_rows` strictly increases,
  * so latest-wins selection downstream is `max n_rows`. */
case class HystSnap(user_id: Long, n_enter: Long, n_alarm_rows: Long, n_rows: Long)

/** Streaming sibling of the mon12 batch gate: the two-threshold
  * (enter ≥ hi, leave ≤ lo) alarm as resident per-key state via
  * `flatMapGroupsWithState` — the op a monitoring pipeline actually runs
  * (state survives across micro-batches; a crossing in batch 7 is judged
  * against the state built in batches 1-6), where mon12 recomputes from
  * scratch.
  *
  * Hysteresis is ORDER-SENSITIVE, unlike the suite's other replays (whose
  * state is a pure function of the row SET). Determinism therefore comes
  * from two explicit mechanisms, not commutativity:
  *   - ACROSS batches: the fixture replay feeds day-chunked files in
  *     event-time order ([[Replay.writeDayChunked]] +
  *     maxFilesPerTrigger), so later batches carry strictly later days;
  *   - WITHIN a batch: the processor sorts each key's rows by
  *     (ts_us, event_id) — the same total order every batch gate uses —
  *     before folding. A batch's group iterator has no inherent order;
  *     sorting it is what makes the fold a function of the data, not of
  *     shuffle arrival. Per-key batch slices are bounded by the chunk
  *     size, so the sort is a small in-memory one per key per batch.
  *
  * The final latest-wins snapshot then equals the batch recomputation —
  * the mon12 oracle verifies the streaming path end to end.
  */
object StreamHysteresis {

  val Hi = 100.0
  val Lo = 25.0

  private def fold(key: Long, rows: Iterator[HystIn],
                   gs: GroupState[HystState]): Iterator[HystSnap] = {
    var st = gs.getOption.getOrElse(HystState(0, 0L, 0L, 0L))
    rows.toSeq.sortBy(r => (r.ts_us, r.event_id)).foreach { r =>
      val marker =
        if (r.value >= Hi) 1 else if (r.value <= Lo) 0 else st.state
      val entered = if (marker == 1 && st.state == 0) 1L else 0L
      st = HystState(marker, st.nEnter + entered, st.nAlarm + marker, st.nRows + 1L)
    }
    gs.update(st)
    Iterator.single(HystSnap(key, st.nEnter, st.nAlarm, st.nRows))
  }

  /** Replay `events` day-chunked through the stateful alarm; return the
    * final per-user (n_enter, n_alarm_rows, n_rows) — mon12's schema. */
  def run(spark: SparkSession, events: DataFrame, workDir: String,
          maxFilesPerTrigger: Int = 4): DataFrame = Replay.scoped(spark) {
    import spark.implicits._
    val evs = events.select(col("user_id"), col("ts"), col("event_id"), col("value"))
    Replay.writeDayChunked(evs, workDir, "ts")
    val in: Dataset[HystIn] = Replay.parquetSource(spark, evs.schema, workDir, maxFilesPerTrigger)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
      .as[HystIn]
    val snaps = in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fold)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("n_rows").desc)
    Replay.appendParquet(snaps.toDF(), workDir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("n_enter"), col("n_alarm_rows"), col("n_rows"))
  }
}
