package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Execution-structure observability (r13 opt, guide §1/§7): run selected
  * `SparkEntry.queries` twice (cold + warm) and report the WARM run's job /
  * stage / task counts and shuffle bytes — the objective per-query shape
  * numbers wall-clock timing at bench scale is too noisy to give. The warm
  * rep isolates plan structure from codegen/JIT compilation.
  *
  * Usage: runMain graft.JobStats <sfDir> <name1,name2,...>
  */
object JobStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.lift(1).map(_.split(",").toSet)
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicLong; val stages = new AtomicLong
    val tasks = new AtomicLong; val shufRead = new AtomicLong
    val shufWrite = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    for ((n, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if names.forall(_.contains(n))) {
      fn(spark, sfDir).count() // cold rep: codegen + JIT, not reported
      spark.catalog.clearCache()
      // settle the async listener bus BEFORE the reset too — late task-end
      // events from the cold rep would otherwise inflate the warm counts
      Thread.sleep(300)
      Seq(jobs, stages, tasks, shufRead, shufWrite).foreach(_.set(0L))
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val secs = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // listener bus is async (and private) — a short settle beats reading
      // racy counters; task-end events land within milliseconds locally
      Thread.sleep(300)
      println(f"STATS $n%-28s warm=$secs%6.2fs jobs=${jobs.get}%3d " +
        f"stages=${stages.get}%4d tasks=${tasks.get}%5d " +
        f"shufR=${shufRead.get}%9d shufW=${shufWrite.get}%9d")
    }
    spark.stop()
  }
}
