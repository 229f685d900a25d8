package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.store.KeyedParquetTable
import graft.streaming.{EnvelopePoller, Fetcher, Pipeline, SourceAdapters}

/** The keyed aggregate table with each `upsert` call timed (by the upsert
  * sequence, which the pipeline sets to the micro-batch id). */
class TimedTable(path: String) extends KeyedParquetTable(path, "tx_minute") {
  override def upsert(batch: DataFrame, version: Long, bulk: Boolean): Unit = {
    val t0 = Clock.now
    super.upsert(batch, version, bulk)
    TimedTable.calls.add((version, t0, Clock.now))
  }
}

object TimedTable {
  /** (upsert sequence, start ms, end ms) of every call in this JVM. */
  val calls = new ConcurrentLinkedQueue[(Long, Double, Double)]()
}

/** One generated transaction; `late` ones carry an event time an hour behind
  * the stream, far past any watermark. */
case class Tx(hash: String, time: Long, fee: Int, late: Boolean)

/** The seeded traffic of one run: every poll's transactions, decided before
  * the stream starts so that generation cost stays out of the measurement.
  * Poll `i` covers event time [start + 15 i, start + 15 i + 15) s, the
  * reference's 15 s cadence; each poll re-sends the newest
  * [[Traffic.OverlapShare]] of the previous poll's transactions, and a
  * `lateShare` of its new ones carry an event time an hour behind. */
class Traffic(val seed: Long, val warmup: Int, val measured: Int, txsA: Int,
              val burst: Int, txsB: Int, lateShare: Double) {
  val polls: Int = warmup + measured + burst
  val start: Long = Traffic.EventStart
  val txs: Array[Array[Tx]] = {
    val rng = new java.util.Random(seed)
    var prev = Array.empty[Tx]
    var serial = 0L
    Array.tabulate(polls) { i =>
      val n = if (i < warmup + measured) txsA else txsB
      val overlap = prev.takeRight(math.min(prev.length, math.round(n * Traffic.OverlapShare).toInt))
      val fresh = Array.fill(n - overlap.length) {
        serial += 1
        val late = i >= warmup && rng.nextDouble() < lateShare
        val time = if (late) start - 3600 + rng.nextInt(600) else start + 15L * i + rng.nextInt(15)
        Tx(f"${rng.nextLong()}%016x$serial%08x", time, 100 + rng.nextInt(10000), late)
      }
      prev = fresh
      overlap ++ fresh
    }
  }

  /** The feed body of poll `i`, in the shape `EnvelopePoller` expects. */
  def body(i: Int): String = txs(i).map { t =>
    s"""{"hash":"${t.hash}","ver":1,"vin_sz":1,"vout_sz":2,"size":250,"weight":1000,""" +
      s""""fee":${t.fee},"relayed_by":"0.0.0.0","lock_time":0,"tx_index":${i.toLong * 100000},""" +
      s""""double_spend":false,"time":${t.time},"block_index":null,"block_height":null,""" +
      s""""inputs":"[]","out":"[]","rbf":false}"""
  }.mkString("""{"txs":[""", ",", "]}")

  def hourOfPoll(i: Int): String = Traffic.HourFmt.format(Instant.ofEpochSecond(start + 15L * i))
}

object Traffic {
  /** The reference fetches the newest 100 unconfirmed transactions every
    * 15 s. At the Bitcoin network's rate of about 490 k transactions a day
    * (5.7 tx/s, within the 400-700 k a day of blockchain.com's "confirmed
    * transactions per day" chart for 2023-2024), 85.5 of them are new at
    * each poll, so 14.5% of a poll repeats the previous one. */
  val PollTxs = 100
  val PollEveryS = 15
  val ChainTxPerS = 5.7
  val OverlapShare: Double = math.max(0.0, 1.0 - ChainTxPerS * PollEveryS / PollTxs)
  /** Share of new transactions that arrive an hour late, far past the 60 s
    * watermark. No source gives this figure; it is a placeholder that
    * keeps the late-drop path exercised in every run. */
  val LateShare = 0.02
  /** 45 s before an hour boundary: polls 0-2 fall in the first hour, which
    * the watermark closes at poll 7, early enough in phase A that the
    * compaction of a closed hour runs in every run. */
  val EventStart: Long = Instant.parse("2024-01-01T00:59:15Z").getEpochSecond
  val MinuteFmt: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:00").withZone(ZoneOffset.UTC)
  val HourFmt: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH").withZone(ZoneOffset.UTC)
}

/** A feed that returns whatever body the generator staged for the next poll. */
class StagedFetcher extends Fetcher {
  @volatile var next: String = _
  override def fetch(): Option[String] = Option(next)
}

case class PollRec(i: Int, due: Double, start: Double, end: Double, file: Option[String],
                   error: Option[String])
case class LookupRec(n: Int, key: String, start: Double, end: Double, rows: Long,
                     error: Option[String], timedOut: Boolean, measured: Boolean,
                     filesInHour: Int)
case class CompactRec(start: Double, end: Double, error: Option[String])

/** The live workload: phase A polls open loop every 2 s (the reference's
  * 15 s cadence, compressed) into the landing directory the resident
  * pipeline reads, with a processing-time trigger of the same interval,
  * while one reader thread
  * runs closed-loop `getRecord` lookups and one compaction of the closed
  * hour; phase B offers a burst well above capacity with no reader. The
  * stream is then drained and the keyed table checked against the
  * generator's own tally. */
object IngestServe {
  val IntervalMs = 2000L
  /** Unmeasured polls at the start of phase A: the first micro-batches of
    * the resident stream run slower (freshness 3.1, 2.9, 2.7 s, then 2.2-2.5 s
    * in one run), and a tail over them would measure that warm-up. */
  val Warmup = 3

  def run(a: Args): Unit = {
    val out = a("out")
    val cpus = a.int("cpus")
    val seed = a.long("seed")
    val seconds = a.int("seconds")
    val (spark, sessionS) = Sessions.setUp(cpus)
    // phase A: 0.8 x `seconds` measured polls of 100 txs, one per 2 s;
    // phase B: 40 polls of 5000 txs
    val traffic = new Traffic(seed, Warmup, math.max(8, (0.8 * seconds).round.toInt),
      Traffic.PollTxs, 40, 5000, Traffic.LateShare)
    warmUp(spark, s"$out/warmup")
    // set-up ends where the measured stream starts
    val setupS = Clock.sinceJvmStartS
    val untraced = once(spark, traffic, s"$out/untraced", cpus, traced = false)
    val traced =
      if (a.bool("trace")) once(spark, traffic, s"$out/traced", cpus, traced = true)
      else Map.empty[String, Any]
    Json.write(s"$out/jvm_result.json", Map(
      "setup_s" -> setupS, "session_s" -> sessionS, "untraced" -> untraced, "traced" -> traced,
      "peak_rss_kb" -> RunInfo.peakRssKb, "peak_heap_mb" -> HeapWatch.peakMb,
      "heap_live_mb" -> untraced("heap_live_mb"), "info" -> RunInfo.describe(spark, cpus)))
    spark.stop()
  }

  /** Runs the whole path once, untimed, on throwaway traffic: two polls
    * as two micro-batches, a lookup and a compaction, so that the measured
    * stream does not pay class loading and code generation. */
  private def warmUp(spark: SparkSession, dir: String): Unit = {
    val traffic = new Traffic(-1L, 0, 2, Traffic.PollTxs, 0, 0, 0.0)
    val landing = Files.createDirectories(Paths.get(s"$dir/landing")).toString
    val table = new KeyedParquetTable(s"$dir/aggregates", "tx_minute")
    val fetcher = new StagedFetcher
    val poller = new EnvelopePoller(fetcher, landing, IntervalMs, "perfbench-warmup")
    (0 until traffic.polls).foreach { i => fetcher.next = traffic.body(i); poller.pollOnce() }
    Pipeline.writer(Pipeline.aggregates(SourceAdapters.fixtureDirectory(spark, landing, 1)),
      table, s"$dir/checkpoint", Trigger.AvailableNow()).start().awaitTermination()
    table.getRecord(spark, Traffic.MinuteFmt.format(Instant.ofEpochSecond(traffic.start))).collect()
    table.compact(spark)
  }

  /** Parquet files in the hour directory of minute key `key`. */
  private def filesInHour(table: String, key: String): Int = {
    val d = Paths.get(table, s"year=${key.take(4)}", s"month=${key.slice(5, 7)}",
      s"day=${key.slice(8, 10)}", s"hour=${key.slice(11, 13)}")
    SourceLog.names(d).count(_.endsWith(".parquet"))
  }

  private def sleepUntil(t: Double): Unit = {
    val d = t - Clock.now
    if (d > 0) Thread.sleep(d.toLong, ((d % 1) * 1e6).toInt)
  }

  private def once(spark: SparkSession, traffic: Traffic, dir: String, cpus: Int,
                   traced: Boolean): Map[String, Any] = {
    TimedTable.calls.clear()
    val bodies = (0 until traffic.polls).map(traffic.body)
    val landing = Files.createDirectories(Paths.get(s"$dir/landing")).toString
    val table = new TimedTable(s"$dir/warehouse/aggregates")
    val checkpoint = s"$dir/warehouse/checkpoints/ingestion"
    val probe = if (traced) Some(new SparkProbe(spark)) else None
    val fetcher = new StagedFetcher
    val poller = new EnvelopePoller(fetcher, landing, IntervalMs, "perfbench")
    val query = Pipeline.writer(
      Pipeline.aggregates(SourceAdapters.fixtureDirectory(spark, landing, 100000)),
      table, checkpoint, Trigger.ProcessingTime(IntervalMs)).start()

    // polls land half an interval before a trigger boundary (the
    // processing-time trigger fires on multiples of the interval): far from
    // it on both sides, so a slow poll still lands before the boundary and
    // a slow micro-batch still ends before the next poll, and no two polls
    // share a micro-batch
    val lead = IntervalMs / 2.0
    def nextSlot(t: Double): Double = math.ceil((t + lead) / IntervalMs) * IntervalMs - lead
    val t0 = nextSlot(Clock.now + 500)
    val tA = t0 + traffic.warmup * IntervalMs
    val tB = t0 + (traffic.warmup + traffic.measured) * IntervalMs
    val phaseA = traffic.warmup + traffic.measured
    def due(i: Int): Double = if (i < phaseA) t0 + i * IntervalMs else tB

    val polls = new Array[PollRec](traffic.polls)
    val landed = new AtomicInteger(0)
    @volatile var burstAt = Double.NaN
    val generator = new Thread(() => {
      (0 until phaseA).foreach { i =>
        sleepUntil(due(i))
        fetcher.next = bodies(i)
        val s = Clock.now
        val r = try Right(poller.pollOnce()) catch { case e: Exception => Left(e.toString) }
        polls(i) = PollRec(i, due(i), s, Clock.now,
          r.toOption.flatten.map(_.getFileName.toString), r.left.toOption)
        landed.set(i + 1)
      }
      // phase B: the burst polls land in a staging directory, then all move
      // into the landing directory at once, just before a trigger boundary:
      // a backlog far above what one interval can absorb
      sleepUntil(tB)
      val staging = s"$dir/staging"
      val burstPoller = new EnvelopePoller(fetcher, staging, IntervalMs, "perfbench-burst")
      val staged = (phaseA until traffic.polls).map { i =>
        fetcher.next = bodies(i)
        val s = Clock.now
        val r = try Right(burstPoller.pollOnce()) catch { case e: Exception => Left(e.toString) }
        (i, s, Clock.now, r.toOption.flatten, r.left.toOption)
      }
      burstAt = nextSlot(Clock.now)
      sleepUntil(burstAt)
      staged.foreach { case (i, s, e, path, err) =>
        val moved = path.map { p =>
          val name = s"burst-${p.getFileName}"
          Files.move(p, Paths.get(landing, name), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          name
        }
        polls(i) = PollRec(i, due(i), s, e, moved, err)
      }
      landed.set(traffic.polls)
    }, "perfbench-generator")

    // polls whose micro-batch has completed: the file source log gives each
    // landed file's log offset, the last progress the offsets committed
    val sourceLog = new SourceLog(s"$checkpoint/sources/0")
    def visiblePolls(): IndexedSeq[Int] = {
      val done = Option(query.lastProgress).flatMap(p => Option(p.sources(0).endOffset))
        .map(SourceLog.offset).getOrElse(-1L)
      val offsets = sourceLog.upTo(done)
      (0 until landed.get()).filter(i => Option(polls(i)).flatMap(_.file).flatMap(offsets.get).nonEmpty)
    }

    val lookups = new ConcurrentLinkedQueue[LookupRec]()
    val compactions = new ConcurrentLinkedQueue[CompactRec]()
    // the hour of polls 0-2 closes once the watermark passes its end
    // (poll 7); it is compacted when poll 7 is visible and poll 8 landed
    val compactAt = 9
    val readerError = new java.util.concurrent.atomic.AtomicReference[String]()
    val reader = new Thread(() => {
      val rng = new java.util.Random(traffic.seed * 7919L + 17)
      val dog = new Watchdog(spark)
      var n = 0
      try while (Clock.now < tB) {
        val l = landed.get()
        val vis = visiblePolls()
        if (compactions.isEmpty && l >= compactAt && vis.lastOption.exists(_ >= compactAt - 2)) {
          val open = (math.max(0, l - 6) until traffic.polls).map(traffic.hourOfPoll).toSet
          val s = Clock.now
          val (r, _) = dog.run("compact|0", 60000) { table.compact(spark, excludeHourPrefixes = open) }
          compactions.add(CompactRec(s, Clock.now, r.left.toOption.map(_.toString)))
        } else if (vis.nonEmpty) {
          // a seeded minute of one of the five most recent visible polls
          val j = vis(math.max(0, vis.length - 1 - rng.nextInt(5)))
          val pool = traffic.txs(j).filterNot(_.late)
          val key = Traffic.MinuteFmt.format(Instant.ofEpochSecond(pool(rng.nextInt(pool.length)).time))
          val files = if (traced) filesInHour(table.path, key) else -1
          val s = Clock.now
          val (r, timedOut) = dog.run(s"lookup|$n", 30000) { table.getRecord(spark, key).collect() }
          val e = Clock.now
          val rows = r.toOption.map(_.length.toLong).getOrElse(-1L)
          val keyOk = r.toOption.forall(_.forall(_.getAs[String]("tx_minute") == key))
          lookups.add(LookupRec(n, key, s, e, rows,
            r.left.toOption.map(_.toString).orElse(if (keyOk) None else Some("wrong key")),
            timedOut, s >= tA, files))
          n += 1
        } else Thread.sleep(20)
      } catch { case e: Throwable => readerError.set(e.toString) }
      finally dog.close()
    }, "perfbench-reader")

    generator.start(); reader.start()
    generator.join(); reader.join()
    // a failed stream is a failed run, reported with whatever it made visible
    val streamError = try { query.processAllAvailable(); None }
      catch { case e: Exception => Some(e.toString.take(500)) }
    val drained = Clock.now
    val liveMb = HeapWatch.liveMb() // with the stream's state still loaded
    val progress = query.recentProgress.toSeq
    query.stop()
    // listed once no write is in flight: the listing does not skip the
    // temporary directories of a running write
    val filesPerHour = table.hourPrefixFileCounts(spark)
    poller.close()
    probe.foreach(_.detach())

    // which micro-batch read each landed file, from the file source's log
    val offsetOfFile = new SourceLog(s"$checkpoint/sources/0").upTo(Long.MaxValue)
    // stream batch b read source log offsets (start, end]
    val batchOfOffset = progress.filter(_.sources(0).endOffset != null).flatMap { p =>
      val from = Option(p.sources(0).startOffset).map(SourceLog.offset).getOrElse(-1L)
      ((from + 1) to SourceLog.offset(p.sources(0).endOffset)).map(_ -> p.batchId)
    }.toMap
    val upsertEnd = TimedTable.calls.asScala.groupBy(_._1).map { case (v, cs) => v -> cs.map(_._3).max }
    val watermark = progress.map(p => p.batchId ->
      Option(p.eventTime.get("watermark")).map(w => Instant.parse(w).toEpochMilli).getOrElse(0L)).toMap
    def batchOf(i: Int): Option[Long] =
      Option(polls(i)).flatMap(_.file).flatMap(offsetOfFile.get).flatMap(batchOfOffset.get)
    def visible(i: Int): Option[Double] = batchOf(i).flatMap(upsertEnd.get)

    // the generator's own tally: re-sent duplicates removed, and late rows
    // removed when at or behind the watermark their micro-batch filters late
    // rows with (the previous batch's, with several stateful operators)
    val seen = mutable.HashSet[String]()
    val tally = mutable.HashMap[String, (Long, Long)]()
    var admitted = 0L; var droppedLate = 0L; var lateGenerated = 0L
    (0 until traffic.polls).foreach { i =>
      val wm = batchOf(i).flatMap(b => watermark.get(b - 1)).getOrElse(0L)
      traffic.txs(i).foreach { t =>
        if (t.late && !seen.contains(t.hash)) lateGenerated += 1
        if (t.time * 1000 <= wm) { if (seen.add(t.hash)) droppedLate += 1 }
        else if (seen.add(t.hash)) {
          admitted += 1
          val k = Traffic.MinuteFmt.format(Instant.ofEpochSecond(t.time))
          val (c, f) = tally.getOrElse(k, (0L, 0L))
          tally(k) = (c + 1, f + t.fee)
        }
      }
    }
    val got = table.readLatest(spark).collect().map { r =>
      r.getAs[String]("tx_minute") -> (r.getAs[Long]("total_nb_trx_1min"),
        r.getAs[Long]("total_fee_1min"), r.getAs[Double]("avg_fee_1min"))
    }.toMap
    val minutes = (tally.keySet ++ got.keySet).toSeq.sorted
    val mismatches = minutes.filter { k =>
      (tally.get(k), got.get(k)) match {
        case (Some((c, f)), Some((gc, gf, ga))) => c != gc || f != gf || ga != f.toDouble / c
        case _ => true
      }
    }
    val lookupSeq = lookups.asScala.toSeq.sortBy(_.start)
    val lookupFailures = lookupSeq.filter(l => l.error.nonEmpty || l.timedOut || l.rows != 1)

    val measuredPolls = traffic.warmup until (traffic.warmup + traffic.measured)
    val burstPolls = (traffic.warmup + traffic.measured) until traffic.polls
    val freshness = measuredPolls.map(i => visible(i).map(v => (v - due(i)) / 1e3))
    val burstVisible = burstPolls.map(visible)
    val makespan =
      if (burstVisible.forall(_.nonEmpty)) Some((burstVisible.flatten.max - burstAt) / 1e3) else None
    val burstTxs = burstPolls.map(i => traffic.txs(i).length.toLong).sum
    val backlog = (0 until traffic.warmup + traffic.measured).count(i => visible(i).forall(_ > tB))

    val base = Map[String, Any](
      "polls" -> polls.toSeq.map(p => Map("i" -> p.i, "due_ms" -> p.due, "poll_s" -> (p.end - p.start) / 1e3,
        "lag_s" -> (p.start - p.due) / 1e3, "error" -> p.error, "landed" -> p.file.nonEmpty,
        "batch" -> batchOf(p.i), "txs" -> traffic.txs(p.i).length)),
      "freshness_s" -> freshness,
      "lookups" -> lookupSeq.filter(_.measured).map(l => (l.end - l.start) / 1e3),
      "lookups_all" -> lookupSeq.size,
      "reader_error" -> Option(readerError.get()),
      "stream_error" -> streamError,
      "lookup_failures" -> lookupFailures.map(l => s"${l.key}: rows=${l.rows} ${l.error.getOrElse("")}"),
      "compactions" -> compactions.asScala.toSeq.map(c => Map("s" -> (c.end - c.start) / 1e3, "error" -> c.error)),
      "burst_makespan_s" -> makespan,
      "heap_live_mb" -> liveMb,
      "burst_txs" -> burstTxs,
      "backlog_polls" -> backlog,
      "drain_s" -> (drained - tB) / 1e3,
      "check_minutes" -> minutes.size,
      "check_mismatches" -> mismatches.take(20).map(k => s"$k: want=${tally.get(k)} got=${got.get(k)}"),
      "check_mismatch_count" -> mismatches.size,
      "admitted" -> admitted, "dropped_late" -> droppedLate, "late_generated" -> lateGenerated,
      "dropped_txs" -> poller.droppedTxs,
      "files_per_hour" -> filesPerHour.map(_._2))
    if (!traced) base
    else {
      val txsOfBatch = (0 until traffic.polls).flatMap(i => batchOf(i).map(_ -> traffic.txs(i).length.toLong))
        .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sum }
      base ++ layers(probe.get, progress, polls.toSeq, lookupSeq, compactions.asScala.toSeq,
        txsOfBatch, t0, tA, tB, drained, dir, cpus, burstTxs, makespan)
    }
  }

  /** Per-layer numbers and spans of a traced run. */
  private def layers(probe: SparkProbe, progress: Seq[StreamingQueryProgress],
                     polls: Seq[PollRec], lookups: Seq[LookupRec], compactions: Seq[CompactRec],
                     txsOfBatch: Map[Long, Long], t0: Double, tA: Double, tB: Double,
                     drained: Double, dir: String, cpus: Int, burstTxs: Long,
                     makespan: Option[Double]): Map[String, Any] = {
    val spans = new Spans
    val root = spans.add("workload", "workload", 0L, t0, drained)
    polls.filter(_ != null).foreach(p => spans.add(s"poll-${p.i}", "poll", root, p.start, p.end))
    val batchSpan = mutable.Map[Long, (Long, Double, Double)]()
    progress.foreach { p =>
      val s = Instant.parse(p.timestamp).toEpochMilli.toDouble
      val e = s + Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
      batchSpan(p.batchId) = (spans.add(s"batch-${p.batchId}", "micro_batch", root, s, e), s, e)
    }
    val upsertSpans = TimedTable.calls.asScala.toSeq.map { case (v, s, e) =>
      val parent = batchSpan.get(v).map(_._1).getOrElse(root)
      (v, spans.add(s"batch-$v", "upsert", parent, s, e), s, e)
    }
    val lookupSpan = lookups.map(l => s"lookup|${l.n}" ->
      spans.add(s"lookup-${l.n}", "lookup", root, l.start, l.end)).toMap
    val compactSpan = compactions.map(c => "compact|0" ->
      spans.add("compact-0", "compact", root, c.start, c.end)).toMap
    val jobs = probe.jobSeq
    jobs.foreach { j =>
      val end = if (j.end.isNaN) j.start else j.end
      val parent =
        if (j.batchId >= 0)
          upsertSpans.find(u => u._1 == j.batchId && j.start >= u._3 && j.start <= u._4).map(_._2)
            .orElse(batchSpan.get(j.batchId).map(_._1))
        else lookupSpan.get(j.group).orElse(compactSpan.get(j.group))
      val op = if (j.batchId >= 0) s"batch-${j.batchId}" else j.group
      parent.foreach(p => spans.add(op, "spark_job", p, j.start, end))
    }
    spans.writeJsonl(s"$dir/spans.jsonl")

    def med(xs: Iterable[Double]): Double = Spans.median(xs.toSeq)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble / 1e3).getOrElse(0.0)
    def stamp(p: StreamingQueryProgress): Double = Instant.parse(p.timestamp).toEpochMilli.toDouble
    val phaseA = progress.filter(p => stamp(p) >= tA && stamp(p) < tB && p.numInputRows > 0)
    def op(p: StreamingQueryProgress, name: String) = p.stateOperators.find(_.operatorName == name)
    val dedupName = "dedupeWithinWatermark"
    val aggName = "stateStoreSave"
    val offered = progress.map(p => txsOfBatch.getOrElse(p.batchId, 0L)).sum
    val admittedRows = progress.flatMap(p => op(p, dedupName)).map(_.numRowsUpdated).sum
    val measuredPolls = polls.filter(p => p != null && p.due >= tA && p.due < tB)
    val lookupJobs = jobs.filter(_.group.startsWith("lookup|"))
    val measuredLookups = lookups.filter(_.measured)
    val opSpans = progress.map(p => (stamp(p), stamp(p) + dur(p, "triggerExecution") * 1e3)) ++
      lookups.map(l => (l.start, l.end)) ++ compactions.map(c => (c.start, c.end))
    val jobIv = jobs.map(j => (j.start, if (j.end.isNaN) j.start else j.end))
    val driverSelf = opSpans.map { case (s, e) =>
      e - s - Spans.unionMs(jobIv.map(j => (math.max(j._1, s), math.min(j._2, e))))
    }.sum / 1e3

    val l = mutable.LinkedHashMap[String, Double]()
    l("ingest.poll_s") = med(measuredPolls.map(p => (p.end - p.start) / 1e3))
    l("ingest.generator_lag_s") = med(measuredPolls.map(p => (p.start - p.due) / 1e3))
    l("ingest.burst_generator_lag_s") =
      polls.filter(p => p != null && p.due >= tB).map(p => (p.start - p.due) / 1e3).maxOption.getOrElse(0.0)
    l("stream.batch_s") = med(phaseA.map(dur(_, "triggerExecution")))
    l("stream.add_batch_s") = med(phaseA.map(dur(_, "addBatch")))
    l("stream.planning_s") = med(phaseA.map(dur(_, "queryPlanning")))
    l("stream.wal_commit_s") = med(phaseA.map(dur(_, "walCommit")))
    l("stream.commit_offsets_s") = med(phaseA.map(dur(_, "commitOffsets")))
    l("stream.latest_offset_s") = med(phaseA.map(dur(_, "latestOffset")))
    l("stream.rows_per_batch") = med(phaseA.map(p => txsOfBatch.getOrElse(p.batchId, 0L).toDouble))
    l("stream.batches") = progress.size
    l("state.dedup_rows") = progress.flatMap(op(_, dedupName)).map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0)
    l("state.dedup_mem_bytes") = progress.flatMap(op(_, dedupName)).map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0)
    l("state.dedup_commit_s") = med(phaseA.flatMap(op(_, dedupName)).map(_.commitTimeMs / 1e3))
    l("state.dedup_dropped_late") = progress.flatMap(op(_, dedupName)).map(_.numRowsDroppedByWatermark.toDouble).sum
    l("state.agg_rows") = progress.flatMap(op(_, aggName)).map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0)
    l("state.agg_commit_s") = med(phaseA.flatMap(op(_, aggName)).map(_.commitTimeMs / 1e3))
    l("state.dedup_admit_ratio") = if (offered > 0) admittedRows.toDouble / offered else 0.0
    l("store.upsert_s") = med(TimedTable.calls.asScala.filter(c => c._2 >= tA && c._2 < tB).map(c => (c._3 - c._2) / 1e3))
    l("store.compact_s") = compactions.map(c => (c.end - c.start) / 1e3).sum
    l("serve.files_per_lookup") = med(measuredLookups.map(_.filesInHour.toDouble))
    l("serve.rows_scanned_per_lookup") =
      if (lookups.isEmpty) 0.0 else lookupJobs.map(_.recordsRead).sum.toDouble / lookups.size
    l("catalyst.plan_s") = probe.planSeconds(t0, drained) + progress.map(dur(_, "queryPlanning")).sum
    l("driver.self_s") = driverSelf
    l ++= probe.counters(jobs, drained - t0, cpus)
    Map("layers" -> l, "self_s" -> spans.selfSeconds, "spans" -> spans.toSeq.size,
      "burst_capacity_tx_per_s" -> makespan.map(burstTxs / _))
  }
}

/** The file stream source's log: landed file name -> source log offset,
  * read incrementally (entries are written before their batch runs). */
class SourceLog(dir: String) {
  private val files = mutable.Map[String, Long]()
  private var read = -1L

  def upTo(offset: Long): Map[String, Long] = synchronized {
    val p = Paths.get(dir)
    if (offset > read) {
      val logs = SourceLog.names(p).filter(n => n.matches("[0-9]+(\\.compact)?"))
        .map(n => n.takeWhile(_.isDigit).toLong -> n).filter(x => x._1 > read && x._1 <= offset)
        .toSeq.sortBy(_._1)
      logs.foreach { case (o, n) =>
        Files.readAllLines(p.resolve(n), UTF_8).asScala.drop(1).filter(_.trim.nonEmpty).foreach { line =>
          val e = Json.mapper.readTree(line)
          val path = e.get("path").asText()
          files(path.substring(path.lastIndexOf('/') + 1)) = e.get("batchId").asLong()
        }
        read = math.max(read, o)
      }
    }
    files.toMap
  }
}

object SourceLog {
  /** File names in `dir`, none when it does not exist. */
  def names(dir: java.nio.file.Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val st = Files.list(dir)
      try st.iterator().asScala.map(_.getFileName.toString).toList finally st.close()
    }

  /** `{"logOffset":N}` -> N */
  def offset(json: String): Long = Json.mapper.readTree(json).get("logOffset").asLong()
}
