package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same axis as Spark's listener and progress timestamps. */
object Clock {
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def now: Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6
  def jvmStartMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  /** Seconds since the JVM started. */
  def sinceJvmStartS: Double = (now - jvmStartMs) / 1e3
}

/** Jackson with its Scala module (both ship in the Spark jars). NaN is
  * written as the bare `NaN` token, which the Python side reads as missing. */
object Json {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()
  def apply(v: Any): String = mapper.writeValueAsString(v)
  def write(path: String, v: Any): Unit = mapper.writeValue(new File(path), v)
}

/** `key=value` command-line arguments. */
class Args(args: Seq[String]) {
  private val kv = args.map { a =>
    val i = a.indexOf('='); require(i > 0, s"argument '$a' is not key=value")
    a.substring(0, i) -> a.substring(i + 1)
  }.toMap
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing argument $k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def bool(k: String): Boolean = apply(k) == "1"
}

/** The session every workload runs on: the same options the repository's
  * own mains set, sized to the machine. */
object Sessions {
  def build(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Builds the session and runs one tiny action to pay session and
    * code-generation bring-up. Returns the session and the seconds from JVM
    * start until it was up. */
  def setUp(cpus: Int): (SparkSession, Double) = {
    val spark = build(cpus)
    spark.range(1000).selectExpr("sum(id)").collect()
    (spark, Clock.sinceJvmStartS)
  }
}

/** Cancels the running Spark jobs of an operation that outlives its
  * deadline, and keeps cancelling until the operation returns. */
class Watchdog(spark: SparkSession) extends AutoCloseable {
  @volatile private var current: (String, Double, Double) = null // group, start, limit ms
  @volatile private var fired = false
  private val thread = new Thread(() => {
    try while (true) {
      val c = current
      if (c != null && Clock.now - c._2 > c._3) {
        fired = true
        spark.sparkContext.cancelJobsWithTag(c._1)
      }
      Thread.sleep(200)
    } catch { case _: InterruptedException => }
  }, "perfbench-watchdog")
  thread.setDaemon(true)
  thread.start()

  /** Runs `body` under job group `group` (which `body` may change) and job
    * tag `group`; returns (result or error, timed out). */
  def run[T](group: String, limitMs: Double)(body: => T): (Either[Throwable, T], Boolean) = {
    val sc = spark.sparkContext
    fired = false
    sc.setJobGroup(group, group, interruptOnCancel = true)
    sc.setInterruptOnCancel(true)
    sc.addJobTag(group)
    current = (group, Clock.now, limitMs)
    val r = try Right(body) catch { case e: Throwable => Left(e) }
    current = null
    sc.removeJobTag(group)
    sc.clearJobGroup()
    (r, fired)
  }

  override def close(): Unit = { thread.interrupt(); thread.join(1000) }
}

/** The largest heap occupancy left after any garbage collection since
  * `install()`: the program's peak retained heap. */
object HeapWatch {
  import java.lang.management.MemoryType
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var peak = 0L
  def peakMb: Double = peak / (1024.0 * 1024.0)

  /** Heap in use after full collections: what the program retains. */
  def liveMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      override def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}

/** Self-description of the JVM side of a run. */
object RunInfo {
  def peakRssKb: Long = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) -1L
    else Files.readAllLines(p).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  def describe(spark: SparkSession, cpus: Int): Map[String, Any] = Map(
    "local" -> s"local[$cpus]",
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "spark" -> spark.version,
    "scala" -> scala.util.Properties.versionNumberString)
}

/** In-memory spans, recorded only by the traced run. */
case class Span(id: Long, op: String, name: String, parent: Long, start: Double, end: Double)

class Spans {
  private val ids = new AtomicLong(0L)
  private val all = new ConcurrentLinkedQueue[Span]()
  def add(op: String, name: String, parent: Long, start: Double, end: Double): Long = {
    val id = ids.incrementAndGet()
    all.add(Span(id, op, name, parent, start, end)); id
  }
  def toSeq: Seq[Span] = all.asScala.toSeq

  def writeJsonl(path: String): Unit = {
    val lines = toSeq.sortBy(_.start).map(s => Json(Map("id" -> s.id, "op" -> s.op,
      "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end)))
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }

  /** Self time per span name: a span's duration minus the part of its
    * interval its children cover, summed per name, in seconds. */
  def selfSeconds: Map[String, Double] = {
    val spans = toSeq
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Spans.unionMs(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
        (s.end - s.start - covered) / 1e3
      }.sum
    }
  }
}

object Spans {
  /** Total length of the union of intervals, in the intervals' unit. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Per-job record assembled from listener events. */
class JobRec(val id: Int, val group: String, val batchId: Long, val start: Double,
             val stageIds: Seq[Int]) {
  @volatile var end: Double = Double.NaN
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var taskDurMs = 0.0
  var runMs = 0.0
  var cpuNs = 0.0
  var gcMs = 0.0
  var schedDelayMs = 0.0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakMem = 0L
  var recordsRead = 0L
}

/** The traced run's Spark listener and query-execution listener: per-job
  * scheduler and executor counters, keyed by job group, and Catalyst
  * planning phases per executed query. */
class SparkProbe(spark: SparkSession) {
  import org.apache.spark.scheduler._
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.util.QueryExecutionListener

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  /** (first phase start ms, planning ms summed over phases) per executed query */
  val plans = new ConcurrentLinkedQueue[(Double, Double)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
      val rec = new JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L), e.time.toDouble, e.stageIds)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, rec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach(r => r.synchronized { r.stages += 1 })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
        val info = e.taskInfo; val m = e.taskMetrics
        r.synchronized {
          r.tasks += 1
          if (info.failed || info.killed) r.failedTasks += 1
          r.taskDurMs += info.duration
          if (m != null) {
            val getting = if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
            r.runMs += m.executorRunTime
            r.cpuNs += m.executorCpuTime
            r.gcMs += m.jvmGCTime
            r.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime - getting)
            r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            r.spill += m.diskBytesSpilled
            r.peakMem = math.max(r.peakMem, m.peakExecutionMemory)
            r.recordsRead += m.inputMetrics.recordsRead
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty)
        plans.add((ph.values.map(_.startTimeMs).min.toDouble, ph.values.map(_.durationMs).sum.toDouble))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def jobSeq: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.start)

  /** Catalyst planning seconds of queries whose planning began in [from, to). */
  def planSeconds(from: Double, to: Double): Double =
    plans.asScala.filter(p => p._1 >= from - 1 && p._1 < to).map(_._2).sum / 1e3

  /** The scheduler, executor, shuffle and memory counters over `js`. */
  def counters(js: Seq[JobRec], wallMs: Double, cpus: Int): mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    m("spark.jobs") = js.size
    m("spark.stages") = js.map(_.stages).sum
    m("spark.tasks") = js.map(_.tasks).sum
    m("spark.failed_tasks") = js.map(_.failedTasks).sum
    m("spark.sched_delay_s") = js.map(_.schedDelayMs).sum / 1e3
    m("spark.task_run_s") = js.map(_.runMs).sum / 1e3
    m("spark.task_cpu_s") = js.map(_.cpuNs).sum / 1e9
    m("spark.gc_s") = js.map(_.gcMs).sum / 1e3
    m("spark.core_busy_share") = if (wallMs > 0) js.map(_.taskDurMs).sum / (wallMs * cpus) else 0.0
    m("spark.shuffle_write_bytes") = js.map(_.shuffleWrite).sum.toDouble
    m("spark.shuffle_read_bytes") = js.map(_.shuffleRead).sum.toDouble
    m("spark.spill_bytes") = js.map(_.spill).sum.toDouble
    m("spark.peak_exec_mem_bytes") = js.map(_.peakMem).foldLeft(0L)(math.max).toDouble
    m
  }
}
