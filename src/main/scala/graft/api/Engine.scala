package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.batch.{DeepAR, Forecaster, SplitSpec}
import graft.monitor.{Alarm, MonitoringJob, ThresholdUpdate}
import graft.store.KeyedParquetTable
import graft.streaming.{Pipeline, Sinks, SourceAdapters}

/** The user-facing surface tying the engine together (SURVEY.md §7.1): a
  * user of the reference system maps its moving parts 1:1 onto these calls.
  *
  * {{{
  * val engine = Engine(spark, "/data/warehouse")
  * // resident streaming pipeline (poller → dedup → 1-min agg → keyed table)
  * val q = engine.startIngestion(engine.envelopesFromDirectory("/data/polls"))
  * // reads
  * engine.aggregates.readLatest(spark)          // online view
  * engine.aggregates.getRecord(spark, minute)   // point lookup
  * // batch ML loop
  * engine.exportTrainingData("/data/deepar")
  * val m = engine.monitor(forecaster, threshold = 0.24)
  * }}}
  */
case class Engine(spark: SparkSession, warehouse: String,
                  predictionLength: Int = 5, numValidationWindows: Int = 4,
                  targetCol: String = "avg_fee_1min") {
  implicit private val s: SparkSession = spark

  /** The keyed, versioned aggregate table (the feature-group analog). */
  val aggregates: KeyedParquetTable =
    new KeyedParquetTable(s"$warehouse/aggregates", "tx_minute")

  // ---- ingestion (streaming) ------------------------------------------

  def envelopesFromDirectory(dir: String, maxFilesPerTrigger: Int = 1): DataFrame =
    SourceAdapters.fixtureDirectory(spark, dir, maxFilesPerTrigger)

  def syntheticEnvelopes(envelopesPerSec: Int, txsPerEnvelope: Int = 10): DataFrame =
    SourceAdapters.syntheticRate(spark, envelopesPerSec, txsPerEnvelope)

  /** Start the resident pipeline: unnest → dedup → windowed agg → upsert. */
  def startIngestion(rawEnvelopes: DataFrame,
                     trigger: Trigger = Trigger.ProcessingTime("15 seconds")): StreamingQuery =
    Pipeline.writer(Pipeline.aggregates(rawEnvelopes), aggregates,
      s"$warehouse/checkpoints/ingestion", trigger).start()

  /** Start the raw-archive leg (Firehose→S3 analog). */
  def startArchive(rawEnvelopes: DataFrame): StreamingQuery =
    Sinks.rawArchive(rawEnvelopes, s"$warehouse/archive",
      s"$warehouse/checkpoints/archive").start()

  /** Hourly small-file compaction of the aggregate table. */
  def compact(targetFileBytes: Long = 512L * 1024 * 1024): Unit =
    aggregates.compact(spark, targetFileBytes)

  // ---- batch ML loop ---------------------------------------------------

  /** Latest-wins aggregate series, time-ordered (the training input). */
  def series(): DataFrame = aggregates.readLatest(spark).orderBy("tx_minute")

  /** Write DeepAR train/validation/test files; returns the split bounds. */
  def exportTrainingData(outDir: String): SplitSpec.Bounds =
    DeepAR.writeSplits(aggregates.readLatest(spark), "tx_minute", targetCol,
      outDir, predictionLength, numValidationWindows)

  /** Holdout-forecast-score monitoring pass (hourly in the reference). */
  def monitor(forecaster: Forecaster, threshold: Double,
              confidence: Int = 90): MonitoringJob.Metrics = {
    val m = MonitoringJob.run(aggregates.readLatest(spark), "tx_minute", targetCol,
      forecaster, threshold, predictionLength, confidence)
    MonitoringJob.record(m, System.currentTimeMillis() / 1000, s"$warehouse/metrics")
    m
  }

  /** k-consecutive-breach alarm over the recorded metrics table. */
  def alarms(threshold: Double, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions._
    val metrics = spark.read.parquet(s"$warehouse/metrics")
      .withColumn("ts", timestamp_seconds(col("ts_epoch")))
    Alarm.consecutiveBreaches(metrics, "ts", "mean_wql", threshold, k)
  }

  /** Post-approval threshold tightening. */
  def nextThreshold(wql: Double, current: Double, rate: Double = 0.5): Double =
    ThresholdUpdate.next(wql, current, rate)
}
