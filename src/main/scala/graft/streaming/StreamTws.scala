package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig, ValueState, MapState}

/** Per-event row consumed by the stateful processor. `v100` carries the
  * value pre-quantized to DECIMAL(30,2)·100 as an exact Long — the
  * processor's running sums are pure integer arithmetic, so the result is
  * independent of row order and micro-batch slicing. */
case class TwsIn(user_id: Long, ts_us: Long, event_id: Long,
                 event_type: String, v100: Long)

/** Snapshot emitted per (key, micro-batch): the running profile AFTER
  * folding that batch's rows. `n_events` strictly increases per key, so
  * latest-wins selection downstream is `max n_events`. */
case class TwsSnap(user_id: Long, n_events: Long, sum_v100: Long,
                   n_types: Long, first_ts_us: Long, last_ts_us: Long)

/** Running per-user totals held in ValueState. */
case class TwsAgg(n: Long, sum: Long, first: Long, last: Long)

/** Streaming per-user profile via Spark 4's `transformWithState` — the
  * arbitrary-state successor to `[flatM|m]apGroupsWithState` (used by
  * StreamDedup/StreamCdc): typed, named state variables served by the
  * RocksDB state store instead of one opaque per-key blob.
  *
  * Two state variables exercise the two shapes the new API adds:
  *   - `agg: ValueState[TwsAgg]` — running (count, Σ value·100, first/last
  *     event-time) as exact integers;
  *   - `types: MapState[String, Boolean]` — the set of event types seen,
  *     i.e. a per-key structure a single value-blob API would force you to
  *     re-serialize wholesale on every update. MapState writes only the
  *     touched key (RocksDB point put), which is the scale story: a user
  *     with a large seen-set pays O(new types) per batch, not O(state).
  *
  * Determinism contract (same discipline as the other §2.8 replays): all
  * arithmetic is integer (v100 quantization happens in the DataFrame
  * BEFORE groupByKey with the suite's established DECIMAL(30,2) cast), and
  * the emitted snapshot is a pure function of the SET of rows consumed so
  * far — so neither micro-batch slicing nor within-batch row order can
  * change the final `max n_events` row per user. No timers and no TTL:
  * both are wall-clock-driven and would make the replay nondeterministic
  * (documented choice, not an omission).
  *
  * Scale shape: one shuffle on user_id into keyed RocksDB state; state
  * size is O(users · (1 + types-per-user)); the sink is append-only
  * parquet and the final latest-wins selection is one per-key window —
  * the same shape as p2.
  */
object StreamTws {

  /** transformWithState is served by the RocksDB state store. */
  private val RocksDbStateStore =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private class ProfileProcessor
      extends StatefulProcessor[Long, TwsIn, TwsSnap] {
    @transient private var agg: ValueState[TwsAgg] = _
    @transient private var types: MapState[String, Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      agg = getHandle.getValueState[TwsAgg](
        "agg", Encoders.product[TwsAgg], TTLConfig.NONE)
      types = getHandle.getMapState[String, Boolean](
        "types", Encoders.STRING, Encoders.scalaBoolean, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[TwsIn],
                                 timerValues: TimerValues): Iterator[TwsSnap] = {
      var st = if (agg.exists()) agg.get() else TwsAgg(0L, 0L, Long.MaxValue, Long.MinValue)
      rows.foreach { r =>
        st = TwsAgg(st.n + 1L, st.sum + r.v100,
          math.min(st.first, r.ts_us), math.max(st.last, r.ts_us))
        if (!types.containsKey(r.event_type)) types.updateValue(r.event_type, true)
      }
      agg.update(st)
      Iterator.single(TwsSnap(key, st.n, st.sum, types.keys().size.toLong,
        st.first, st.last))
    }
  }

  /** Replay `events` day-chunked through the processor; return the final
    * (latest-wins) per-user profile with the suite's column conventions. */
  def run(spark: SparkSession, events: DataFrame, workDir: String,
          maxFilesPerTrigger: Int = 4): DataFrame =
    Replay.scoped(spark, RocksDbStateStore) {
    import spark.implicits._
    val evs = events.select(col("user_id"), col("ts"), col("event_id"),
      col("event_type"),
      (col("value").cast("decimal(30,2)") * 100).cast("long").as("v100"))
    Replay.writeDayChunked(evs, workDir, "ts")
    val in: Dataset[TwsIn] = Replay.parquetSource(spark, evs.schema, workDir, maxFilesPerTrigger)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"), col("v100"))
      .as[TwsIn]
    val snaps = in.groupByKey(_.user_id)
      .transformWithState(new ProfileProcessor,
        TimeMode.None(), OutputMode.Append(), Encoders.product[TwsSnap])

    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("n_events").desc)
    Replay.appendParquet(snaps.toDF(), workDir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"), col("n_types"),
        (col("sum_v100").cast("decimal(30,2)") / 100).cast("double").as("sum_value"),
        col("first_ts_us"), col("last_ts_us"))
  }
}
