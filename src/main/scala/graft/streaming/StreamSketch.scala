package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Sketches

/** Streaming KMV sketch maintenance — the sketch-algebra instance of the
  * [[StreamView]] epoch discipline, and the eighth §2.8 replay.
  *
  * Each micro-batch lands its per-day bottom-k PARTIAL sketches
  * ([[graft.ops.Sketches.kmvSketchBy]] — one ≤ k-element array per day
  * touched, kilobytes) as an epoch dir; the served state value-merges the
  * surviving epochs per day ([[graft.ops.Sketches.kmvMergeSketches]]
  * algebra). The view table IS the state — zero stream state rows, same
  * as the additive view.
  *
  * The contrast with [[StreamView]] is WHY the merge algebra matters:
  * additive (n, sum) partials are NOT idempotent — a replayed batch
  * double-counts, so exactly-once leans on the epoch overwrite. KMV
  * value-merge is idempotent (distinct-union-min-k), so a replayed or
  * double-landed partial is algebraically harmless — the overwrite is
  * kept for tidiness, but correctness never depends on it. That is the
  * difference between "sum-merge" and "min-merge" families stated by
  * o16/o17/o29, now exercised under a real multi-microbatch replay: a
  * day's events span several batches and the per-batch partials must
  * merge to exactly the direct per-day sketch.
  *
  * Scale shape: per batch one bounded-buffer aggregation (map-side
  * combined; the exchange carries one k-array per day per partition) and
  * one metadata-sized append; the serve collapses epoch×day arrays with
  * one more bounded aggregation. Nothing data-sized is ever broadcast or
  * collected.
  */
object StreamSketch {

  /** Replay `events` day-chunked through the sketch-maintenance pipeline
    * and return the served per-day sketch stats (part, n_kept, kth, est).
    * Asserts a real multi-micro-batch run — cross-batch partial merging is
    * the point. */
  def run(spark: SparkSession, events: DataFrame, workDir: String,
          k: Int = 256, maxFilesPerTrigger: Int = 4): DataFrame =
    Replay.scoped(spark) {
    val evs = events.select(col("event_id"), col("ts"))
    Replay.writeDayChunked(evs, workDir, "ts")
    val viewPath = s"$workDir/sketch"

    val nBatches = spark.sparkContext.longAccumulator("sketch_batches")
    Replay.drain(
      Replay.parquetSource(spark, evs.schema, workDir, maxFilesPerTrigger).writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          nBatches.add(1)
          val partial = Sketches.kmvSketchBy(batch,
            date_format(col("ts"), "yyyy-MM-dd"), col("event_id"), k)
          StreamView.writeEpoch(partial, viewPath, id)
        },
      workDir)
    require(nBatches.value > 1,
      s"replay collapsed into ${nBatches.value} micro-batch(es); the " +
        "cross-batch partial merge is the point of the streaming form")
    spark.read.parquet(viewPath).drop("__b")
      .select(col("part"), explode(col("vals")).as("h"))
      .groupBy(col("part"))
      .agg(graft.expressions.MinKAggregate.minkDistinct(col("h"), k).as("vals"))
      .select(col("part"),
        size(col("vals")).cast("long").as("n_kept"),
        element_at(col("vals"), size(col("vals"))).as("kth"),
        Sketches.kmvEstimate(col("vals"), k).as("est"))
  }
}
