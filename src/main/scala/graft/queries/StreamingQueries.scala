package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops.Exact

import Kind.Maintenance
import Shared._

/** Streaming replays: each renders a fixture, runs a
  * multi-micro-batch Structured Streaming pipeline and returns its sink. */
private[queries] object StreamingQueries {
  /** Oracle for e2e_kmv_sketch: the per-day bottom-k recomputed directly
    * from events (the o29 per-day CTE) with the estimator tail per day —
    * the streamed epoch-merged state must land on exactly this. */
  private def kmvStreamOracle: String = {
    val k = 256
    val h = graft.ops.Sketches.kmvHashSql("event_id")
    s"""WITH hs AS (SELECT strftime(ts, '%Y-%m-%d') AS part, $h AS h FROM events),
       |dp AS (SELECT DISTINCT part, h FROM hs),
       |rk AS (SELECT part, h, row_number() OVER (PARTITION BY part ORDER BY h) AS rn
       |       FROM dp),
       |pk AS (SELECT part, h FROM rk WHERE rn <= $k),
       |a AS (SELECT part, COUNT(*) AS n_kept, MAX(h) AS kth FROM pk GROUP BY 1)
       |SELECT part AS day, n_kept, kth,
       |  printf('%.4f', ${graft.ops.Sketches.kmvEstimateSql("n_kept", "kth", k)})
       |    AS est_r
       |FROM a""".stripMargin
  }

  val all: Seq[Query] = Seq(
    // E2E streaming additive view maintenance (§2.8, seventh replay): an
    // all-time per-user aggregate has unbounded key lifetime, so windowed
    // stream state is the wrong shape — instead each micro-batch appends
    // its mergeable partial as a replay-idempotent epoch and cadence
    // compaction merges checkpoint-committed epochs
    // ([[graft.streaming.StreamView]]). Served view ≡ the batch aggregate.
    Query("e2e_view_maintain", Maintenance, (s, dir) => {
      val work = scratch("e2eview")
      graft.streaming.StreamView.run(s, ev(s, dir), work)
        .select(col("user_id"), col("n").as("n_events"),
          Exact.fmt(col("s").cast("double"), 4).as("sum_r"))
    },
      """SELECT user_id, COUNT(*) AS n_events,
        |  printf('%.4f', CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE)) AS sum_r
        |FROM events GROUP BY 1""".stripMargin),

    // E2E vacuum under the full read gate: the e2e_view_maintain replay,
    // then EVERY garbage class injected deliberately (a crashed-stage
    // negative orphan epoch carrying poison rows, a stale .tmp manifest),
    // then StreamView.vacuum, then serve. The DuckDB truth is the same
    // per-user rollup over the raw events — so a vacuum that deletes a
    // LIVE epoch (losing rows) or fails to keep the orphan invisible
    // (double-count) hash-mismatches here, not just in a unit test. The
    // runtime complement of IncrementalMipsSpec's crash-injection spec.
    Query("e2e_vacuum", Maintenance, (s, dir) => {
      val work = scratch("e2e_vacuum")
      graft.streaming.StreamView.run(s, ev(s, dir), work).count()
      val viewPath = s"$work/view"
      // poison orphan: would corrupt the rollup if it ever became visible
      graft.streaming.StreamView.writeEpoch(
        graft.ops.Incremental.partial(
          s.range(1).select(lit(1L).as("user_id"), lit(1e9).as("value")),
          Seq(col("user_id")), col("value")),
        viewPath, -9999L)
      new java.io.File(viewPath, "_manifest.g9999.tmp").createNewFile()
      require(graft.streaming.StreamView.vacuum(s, viewPath) >= 2,
        "vacuum must reclaim the injected orphan and tmp manifest")
      graft.streaming.StreamView.served(s, viewPath, Seq("user_id"))
        .select(col("user_id"), col("n").as("n_events"),
          Exact.fmt(col("s").cast("double"), 4).as("sum_r"))
    },
      // e2e_vacuum serves the identical relation: a vacuum defect (live
      // epoch deleted / orphan visible) diverges from this truth.
      """SELECT user_id, COUNT(*) AS n_events,
        |  printf('%.4f', CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE)) AS sum_r
        |FROM events GROUP BY 1""".stripMargin),

    // E2E streaming KMV sketch maintenance (§2.8): per-micro-batch per-day
    // bottom-k partials landed as epochs, served by value-merge — the
    // sketch-algebra instance of e2e_view_maintain's epoch discipline, and
    // the replay-safety contrast: additive (n, sum) partials double-count
    // on replay (exactly-once leans on the epoch overwrite), KMV
    // value-merge is IDEMPOTENT, so a double-landed partial is
    // algebraically harmless. A day's events span several batches; the
    // merged state must equal the direct per-day sketch the oracle
    // recomputes (see streaming/StreamSketch).
    Query("e2e_kmv_sketch", Maintenance, (s, dir) => {
      val work = scratch("e2e_kmv")
      graft.streaming.StreamSketch.run(s, ev(s, dir), work)
        .select(col("part").as("day"), col("n_kept"), col("kth"),
          Exact.fmt(col("est"), 4).as("est_r"))
    },
      kmvStreamOracle),

    // E2E streaming (S3/S4/S6/S10 + P1/P2/P3 + A1 in their STREAMING forms):
    // events rendered as polled envelope fixtures — with overlap duplicates
    // and health-check noise — replayed as a real multi-microbatch
    // Structured Streaming run through unnest → dedup → 1-min window agg →
    // keyed upsert; the returned table state must equal the oracle's clean
    // batch recomputation (see graft.streaming.EndToEnd).
    // withAuxSinks also replays the S5 raw-archive leg and the S11 metrics
    // listener, asserting completeness of both (failures fail this row).
    Query("e2e_stream_agg", Maintenance, (s, dir) => {
      val work = scratch("e2e")
      // 3-day fixture files (r10 verdict task 3): replay wall time is
      // trigger-count-bound; 10 files / 4 per trigger = 3 microbatches
      // still exercise cross-batch dedup carry-over and the cumulative
      // minute-window upsert (file boundaries stay 30 s past midnight, so
      // a 00:00 window still spans two files AND two batches at the
      // file-3|4 edge). EndToEndSpec keeps the fine day-per-file variant.
      graft.streaming.EndToEnd.run(s, ev(s, dir), work,
        envelopesPerFile = 8640L, withAuxSinks = true)
    },
      // Clean batch recomputation of the streamed result: the fixture's
      // overlap duplicates are removed by dedup and its health-check txs by
      // the event-bus filter, so the final table must equal a per-minute agg
      // over the raw events (fee := event_id % 10000, integer → exact sums).
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |  COUNT(*) AS total_nb_trx_1min,
        |  CAST(SUM(event_id % 10000) AS BIGINT) AS total_fee_1min,
        |  CAST(SUM(event_id % 10000) AS DOUBLE) / COUNT(*) AS avg_fee_1min
        |FROM events GROUP BY 1""".stripMargin),

    // E2E IDLE-STREAM serving (r10 verdict task 7 — the explicit gate for
    // the documented Flink divergence, resources/flink/main.py:34): the
    // reference needs a per-partition idle-source timeout to keep serving
    // when the firehose goes quiet, because its results ride the
    // watermark. This design doesn't: update-mode emits every window's
    // current aggregate each microbatch and the keyed upsert overwrites,
    // so when the stream goes quiet 30 s into the last minute — that
    // window NEVER sealed by any watermark — the table still serves it
    // with the partial-so-far counts. The oracle recomputes the batch
    // aggregate over the truncated firehose INCLUDING the open window;
    // a watermark-gated (append-like) pipeline would miss that row and
    // rows-mismatch.
    Query("e2e_idle", Maintenance, (s, dir) => {
      val work = scratch("e2e_idle")
      val e = ev(s, dir)
      val maxSec = e.agg(max(unix_timestamp(col("ts")))).head().getLong(0)
      val cutoff = maxSec / 60L * 60L + 30L // 30 s into the final minute
      val quiet = e.filter(unix_timestamp(col("ts")) < cutoff)
      graft.streaming.EndToEnd.run(s, quiet, work, envelopesPerFile = 8640L)
    },
      // Truncated-firehose recomputation INCLUDING the never-sealed final
      // minute (epoch_us floor-division mirrors Spark's unix_timestamp
      // second truncation).
      """WITH m AS (
        |  SELECT (MAX(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000) // 60) * 60 + 30 AS cut
        |  FROM events),
        |e AS (SELECT * FROM events, m
        |      WHERE epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 < m.cut)
        |SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |  COUNT(*) AS total_nb_trx_1min,
        |  CAST(SUM(event_id % 10000) AS BIGINT) AS total_fee_1min,
        |  CAST(SUM(event_id % 10000) AS DOUBLE) / COUNT(*) AS avg_fee_1min
        |FROM e GROUP BY 1""".stripMargin),

    // E2E stream-stream interval join (§2.8): two event-bus subscriptions
    // of one firehose (the reference's one-bus/per-consumer-rule pattern)
    // joined per user on a bounded event-time interval, watermarks on both
    // sides, append sink. Ordered day-chunked replay ⇒ eviction cannot
    // race arrival (streaming/StreamJoin.scala doc), so the sink holds
    // exactly the batch join the oracle recomputes.
    // E2E stream-stream LEFT OUTER join (§2.8): the semantics twin of
    // e2e_stream_join whose hard part is the NULL side — an unmatched
    // click may only emit after the watermark proves no match can arrive,
    // and the trailing clicks need a sentinel PAIR (per-side filters mean
    // per-side watermarks; the global one is their min) to seal. Sink must
    // equal the batch LEFT JOIN row set exactly (see StreamJoin.runLeftOuter).
    Query("e2e_stream_outer_join", Maintenance, (s, dir) => {
      val work = scratch("e2ejo")
      // 3-day chunks (task 3): the sentinel pair sits 2 days past max ts —
      // day 31 → its own chunk 10 past the last data chunk 9, so the
      // sealing discipline is untouched; eviction-vs-arrival only gets
      // safer with coarser ordered chunks (see Replay.writeDayChunked doc)
      graft.streaming.StreamJoin.runLeftOuter(s, ev(s, dir), work,
        daysPerChunk = 3)
    },
      // Every click exactly once: matched rows with err_id, unmatched with
      // NULL — the outer sink equals the batch LEFT JOIN.
      """SELECT c.user_id, c.event_id AS click_id, e.event_id AS err_id,
        |  epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_t_us
        |FROM events c LEFT JOIN events e
        |  ON c.user_id = e.user_id
        | AND e.event_type = 'error'
        | AND e.ts >= c.ts - INTERVAL 21600 SECOND AND e.ts <= c.ts
        |WHERE c.event_type = 'click'""".stripMargin),

    Query("e2e_stream_join", Maintenance, (s, dir) => {
      val work = scratch("e2ej")
      graft.streaming.StreamJoin.run(s, ev(s, dir), work, daysPerChunk = 3)
    },
      // The stream-stream join sink must hold exactly the batch interval
      // join (every qualifying pair matched once, none evicted early).
      """SELECT c.user_id, c.event_id AS click_id, e.event_id AS err_id,
        |  epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_t_us,
        |  epoch_us(CAST(e.ts AS TIMESTAMP)) AS err_t_us,
        |  c.value AS click_value
        |FROM events c JOIN events e
        |  ON c.user_id = e.user_id
        | AND c.event_type = 'click' AND e.event_type = 'error'
        | AND e.ts >= c.ts - INTERVAL 21600 SECOND AND e.ts <= c.ts""".stripMargin),

    // E2E streaming dedup replay (S10's OWN gate — previously covered only
    // by unit specs + the batch p2 oracle): the firehose re-emits an exact
    // copy of every third event; dropDuplicatesWithinWatermark on event_id
    // must land the ORIGINAL row set exactly. Copies are byte-identical
    // (kept-arrival unobservable) and the 48 h delay dwarfs the ≤1-day
    // original→copy arrival gap a chunk-splitting trigger can introduce,
    // so eviction can never race a duplicate (StreamDedupReplay doc).
    Query("e2e_stream_dedup", Maintenance, (s, dir) => {
      val work = scratch("e2ededup")
      graft.streaming.StreamDedupReplay.run(s, ev(s, dir), work)
    },
      // The deduped sink is exactly the original events relation — every
      // injected copy dropped, every original kept once.
      """SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, value
        |FROM events""".stripMargin),

    // E2E streaming dedup under OUT-OF-ORDER replay (round 13 — the
    // in-order form's adversarial complement): every third event's copy
    // arrives ~30 h AFTER its original, in a LATER day chunk, so arrival
    // order no longer tracks event time. The 48 h watermark still covers
    // the copy's staleness from both sides (state resident, copy not
    // late-discarded — see StreamDedupReplay.runOutOfOrder); the sink must
    // equal the original row set exactly, same oracle as e2e_stream_dedup.
    Query("e2e_stream_dedup_ooo", Maintenance, (s, dir) => {
      val work = scratch("e2ededupooo")
      graft.streaming.StreamDedupReplay.runOutOfOrder(s, ev(s, dir), work)
    },
      // Same contract under out-of-order arrival: the copy's 30 h arrival
      // delay changes WHEN it is seen, never what survives.
      """SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, value
        |FROM events""".stripMargin),

    // E2E stream-STATIC broadcast enrichment (§2.8's third join topology):
    // stateless per-micro-batch hash join against a storage-resident
    // dimension — no watermark, no keyed state, firehose never shuffled.
    // Users ≡ 0 (mod 17) are withheld from the dim to exercise the
    // dim-miss → 'unknown' contract. Sink must equal the batch LEFT JOIN
    // row for row (see streaming/StreamEnrich.scala).
    Query("e2e_stream_enrich", Maintenance, (s, dir) => {
      val work = scratch("e2een")
      graft.streaming.StreamEnrich.run(s, ev(s, dir), work)
    },
      // Stream-static enrichment sink equals the plain batch LEFT JOIN
      // against the frozen dimension (dim withholds user_id ≡ 0 mod 17;
      // those rows must surface as 'unknown', never drop).
      """WITH dim AS (
        |  SELECT user_id,
        |    CASE WHEN COUNT(*) >= 20 THEN 'heavy'
        |         WHEN COUNT(*) >= 10 THEN 'mid'
        |         ELSE 'light' END AS tier
        |  FROM events GROUP BY user_id HAVING user_id % 17 <> 0)
        |SELECT e.user_id, e.event_id,
        |  COALESCE(d.tier, 'unknown') AS tier, e.value
        |FROM events e LEFT JOIN dim d USING (user_id)""".stripMargin),

    // E2E streaming session windows (§2.8): the one windowed aggregate
    // whose state MERGES (a new event can fuse two open sessions). Ordered
    // day-chunked replay ⇒ eviction cannot race a merge (gap in place of
    // the join window — streaming/StreamSession.scala doc); a sentinel
    // high-watermark event seals the trailing sessions so the append sink
    // holds exactly the batch sessionization the oracle recomputes.
    Query("e2e_session", Maintenance, (s, dir) => {
      val work = scratch("e2es")
      graft.streaming.StreamSession.run(s, ev(s, dir), work)
    },
      // Batch sessionization (a11's gap-split) + per-session decimal-exact
      // value sums — the streaming replay's sink must reproduce it exactly.
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, value FROM events),
        |f AS (SELECT user_id, t, value,
        |        CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w >= 1800000000
        |             THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |g AS (SELECT user_id, t, value,
        |        sum(ns) OVER (PARTITION BY user_id ORDER BY t
        |                      ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        |SELECT user_id, min(t) AS session_start_us, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM g GROUP BY user_id, sid""".stripMargin),

    // E2E transformWithState (§2.8, Spark 4's arbitrary-state API): the
    // per-user running profile replayed through typed ValueState +
    // MapState on the RocksDB store — the modern successor to the
    // [flatM|m]apGroupsWithState paths StreamDedup/StreamCdc exercise.
    // Integer-only state arithmetic makes the final latest-wins snapshot
    // a pure function of the row SET (batch-slicing-independent), so the
    // oracle is the plain batch recomputation (see streaming/StreamTws).
    Query("e2e_tws_profile", Maintenance, (s, dir) => {
      val work = scratch("e2etws")
      graft.streaming.StreamTws.run(s, ev(s, dir), work)
    },
      // Batch recomputation of the transformWithState running profile: the
      // processor's integer state arithmetic is slicing-independent, so the
      // final snapshot per user must equal this direct aggregate.
      """SELECT user_id, COUNT(*) AS n_events,
        |  COUNT(DISTINCT event_type) AS n_types,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value,
        |  min(epoch_us(CAST(ts AS TIMESTAMP))) AS first_ts_us,
        |  max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_ts_us
        |FROM events GROUP BY 1""".stripMargin),

    // Streaming sibling of mon12: the hysteresis alarm as RESIDENT per-key
    // state (flatMapGroupsWithState) over the day-chunked replay. The op
    // is order-sensitive — determinism comes from ordered file feed across
    // batches + an explicit per-key (ts, event_id) sort within each batch
    // (see graft.streaming.StreamHysteresis). Oracle = mon12's batch
    // recomputation, so any state carried wrong across a batch boundary
    // hash-mismatches.
    Query("e2e_hysteresis", Maintenance, (s, dir) => {
      val work = scratch("e2ehyst")
      graft.streaming.StreamHysteresis.run(s, ev(s, dir), work)
    },
      // The streaming replay must equal the batch closed form exactly.
      """WITH m AS (SELECT user_id, ts, event_id,
        |    CASE WHEN value >= 100 THEN 1 WHEN value <= 25 THEN 0 END AS marker
        |  FROM events),
        |st AS (SELECT user_id, ts, event_id,
        |    COALESCE(last_value(marker IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS state
        |  FROM m),
        |tr AS (SELECT user_id, state,
        |    CASE WHEN state = 1 AND COALESCE(lag(state) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id), 0) = 0
        |    THEN 1 ELSE 0 END AS entered
        |  FROM st)
        |SELECT user_id, CAST(SUM(entered) AS BIGINT) AS n_enter,
        |  CAST(SUM(state) AS BIGINT) AS n_alarm_rows, COUNT(*) AS n_rows
        |FROM tr GROUP BY 1""".stripMargin),

    // Watermark DISCARD semantics (the reference's core lateness contract,
    // resources/flink/main.py:77): a deterministic subset of events arrives
    // a full microbatch-group of files late, beyond the 60 s watermark; the
    // oracle recomputes the aggregate EXCLUDING exactly those rows, so any
    // late row admitted (or on-time row dropped) hash-mismatches. 3-DAY
    // fixture files, 4 files/trigger, arrivals delayed 10 files. The
    // determinism constraint is d ≥ 2m+2 in FILE units (the late-events
    // filter lags one batch behind the arrival batch's watermark), and the
    // no-gap constraint is F_ontime ≥ d (a chunk gap would let the
    // fixture's compact reindexing shrink the effective delay): the events
    // table spans 30 days at every SF → F = 10 three-day chunks, so
    // (m=4, d=10) sits exactly on both bounds and the replay runs
    // ceil((F+d)/m) = 5 triggers — the structural minimum for this file
    // width; the r11 (m=2, d=6) form ran 8. See graft.streaming.EndToEnd's
    // late-variant doc; EndToEndSpec keeps the day-per-file variant pinned.
    Query("e2e_late_drop", Maintenance, (s, dir) => {
      val work = scratch("e2e_late")
      graft.streaming.EndToEnd.run(s, ev(s, dir), work,
        maxFilesPerTrigger = 4, envelopesPerFile = 8640L, lateDelayFiles = 10)
    },
      // Clean recomputation EXCLUDING exactly the deterministically-delayed
      // subset (event_id % 13 = 0, not an overlap-dup candidate, outside the
      // 1 h tail) — those rows arrive beyond the 60 s watermark and must be
      // discarded by the streaming aggregate.
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |  COUNT(*) AS total_nb_trx_1min,
        |  CAST(SUM(event_id % 10000) AS BIGINT) AS total_fee_1min,
        |  CAST(SUM(event_id % 10000) AS DOUBLE) / COUNT(*) AS avg_fee_1min
        |FROM events
        |WHERE NOT (event_id % 13 = 0 AND event_id % 7 <> 0
        |           -- second-truncated on both sides: the fixture writer
        |           -- compares unix_timestamp (floor seconds) values
        |           AND date_trunc('second', ts) <
        |               date_trunc('second', (SELECT max(ts) FROM events)) - INTERVAL 1 HOUR)
        |GROUP BY 1""".stripMargin),

    // E2E streaming CDC (§2.8): the streaming form of o18's change
    // detection — one state row per (user, event_type) carrying the last
    // value, change rows emitted within the microbatch (no watermark, no
    // sentinel: flatMapGroupsWithState/NoTimeout has no window to seal).
    // The union of per-batch emissions must equal the batch lag-based
    // change relation the oracle recomputes (see streaming/StreamCdc).
    Query("e2e_cdc", Maintenance, (s, dir) => {
      val work = scratch("e2e_cdc")
      graft.streaming.StreamCdc.run(s, ev(s, dir), work)
    },
      // The batch change-row relation the streaming CDC replay must
      // reproduce exactly (o18's `ch` subquery, without the interval close).
      """WITH e AS (SELECT user_id, event_type, value,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id FROM events),
        |c AS (SELECT *, lag(value) OVER (PARTITION BY user_id, event_type
        |                                 ORDER BY t, event_id) AS prev FROM e)
        |SELECT user_id, event_type, value, t AS valid_from_us FROM c
        |WHERE prev IS NULL OR value <> prev""".stripMargin),

    // Streaming near-dup dedup e2e — the resident LLM-pipeline query:
    // documents replayed in multiple micro-batches, per-batch signature
    // append + incremental band join vs the accumulated signature table;
    // the union of per-batch pair emissions must equal d2's batch
    // recomputation over the full corpus (same DuckDB oracle). Pair
    // emission is structurally exactly-once, so a replay/band-join bug
    // shows up as a row-count mismatch (see graft.streaming.StreamNearDup).
    Query("e2e_neardup", Maintenance, (s, dir) => {
      val work = scratch("e2e_neardup")
      graft.streaming.StreamNearDup.run(s, docs(s, dir), work,
        numFiles = 8, maxFilesPerTrigger = 2)
    },
      // The streaming incremental form must converge to exactly the batch
      // LSH pair set — arrival order changes WHEN a pair is reported, never
      // WHAT is a duplicate.
      minhashOracle)
  )
}
