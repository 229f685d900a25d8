package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** The fixture-replay harness every §2.8 streaming replay runs on: render
  * a batch relation into ordered fixture files, stream them back through a
  * bounded file source, drain the query to completion under
  * `Trigger.AvailableNow` with its checkpoint under the work dir, and read
  * the sink back. Operators supply only their transformation; the trigger
  * and checkpoint policy that exactly-once rests on lives here alone.
  *
  * Layout under a replay's `workDir`: `data/` (fixture files), `ckpt/`
  * (checkpoint), `sink/` (parquet append sink).
  */
object Replay {

  /** Spark 4.1 wraps every streaming-checkpoint file write in
    * `ChecksumCheckpointFileManager`
    * (`spark.sql.streaming.checkpoint.fileChecksum.enabled`, default true):
    * each offsets/commit/state-delta file gets a companion `.checksum` file
    * and every create funnels through a blocking future pool. On the
    * local-FS replay fixtures this doubles the per-batch file creates, and
    * with no Hadoop native IO every create pays a forked `chmod` shell
    * (`RawLocalFileSystem.setPermission`). Measured on e2e_stream_join at
    * sf0.1/32c: 12.3–18.7 s with checksums vs 7.4–7.9 s without — the
    * state-store commit path was >80% of every batch's addBatch time, at
    * ~0 CPU.
    *
    * Scoped (set + restore) rather than session-global: the checksum is a
    * corruption-detection feature for long-lived production checkpoints
    * on remote stores, and scoping keeps the trade local to the replays.
    * Results are unaffected either way — the checkpoint contents are
    * identical modulo the companion checksum files. */
  private val FastCheckpoints =
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false"

  /** Run `f` with the replay conf (fast checkpoints plus `conf`) set on the
    * session, restoring every previous value afterwards. */
  def scoped[A](spark: SparkSession, conf: (String, String)*)(f: => A): A = {
    val settings = FastCheckpoints +: conf
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Render `chunked` (a relation with an integral `chunk` column) into
    * `dir/data` in `format`: one shuffle and one write job, then each chunk
    * in ascending order becomes file(s) `chunk-<i>-<j>` with ascending
    * modification times — the file source replays oldest-first, so arrival
    * order follows chunk order. The `chunk` column never reaches the files.
    * Returns the chunk count. */
  def writeChunks(chunked: DataFrame, dir: String, format: String): Int = {
    val stage = new Path(dir, "_stage")
    chunked.repartition(col("chunk"))
      .write.partitionBy("chunk").format(format).save(stage.toString)
    val fs = new Path(dir).getFileSystem(
      chunked.sparkSession.sparkContext.hadoopConfiguration)
    val data = new Path(dir, "data")
    fs.mkdirs(data)
    val ext = if (format == "text") "txt" else format
    val chunks = fs.listStatus(stage).map(_.getPath)
      .filter(_.getName.startsWith("chunk="))
      .sortBy(p => p.getName.stripPrefix("chunk=").toLong) // bounded by #chunks
    chunks.zipWithIndex.foreach { case (cdir, i) =>
      fs.listStatus(cdir).map(_.getPath).filter(_.getName.startsWith("part-"))
        .zipWithIndex.foreach { case (part, j) =>
          val dest = new Path(data, f"chunk-$i%05d-$j.$ext")
          fs.rename(part, dest)
          fs.setTimes(dest, 1600000000000L + i * 60000L, -1)
        }
    }
    fs.delete(stage, true)
    chunks.length
  }

  /** Render `df` into day-chunked parquet fixture files (event time
    * `tsCol`) under `dir/data` — arrival order tracks event time, the
    * watermark-safety precondition of every replay.
    * `daysPerChunk > 1` coarsens the chunking (replay wall time is
    * trigger-count-bound, not row-bound) — every ordering and
    * eviction-safety argument that holds for day chunks holds a fortiori
    * for larger ones (fewer, strictly later batch boundaries); only ops
    * whose correctness bounds the original→copy ARRIVAL gap from above
    * (StreamDedupReplay's 48 h vs ≤1 day) must keep daysPerChunk = 1.
    * `arrivalCol`: chunk on a SEPARATE arrival-time column instead of the
    * event-time column — the out-of-order fixture shape (rows whose replay
    * position trails their event time); the column is consumed by the
    * chunking and never reaches the data files.
    * Returns the chunk count. */
  def writeDayChunked(df: DataFrame, dir: String, tsCol: String,
                      daysPerChunk: Int = 1,
                      arrivalCol: Option[String] = None): Int = {
    val chunkSrc = arrivalCol.getOrElse(tsCol)
    writeChunks(
      df.withColumn("chunk", expr(s"unix_timestamp($chunkSrc) div ${86400L * daysPerChunk}"))
        .drop(arrivalCol.toSeq: _*),
      dir, "parquet")
  }

  /** The rendered parquet fixtures as a stream, `maxFilesPerTrigger` files
    * per micro-batch. */
  def parquetSource(spark: SparkSession, schema: StructType, workDir: String,
                    maxFilesPerTrigger: Int): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema(schema).parquet(s"$workDir/data")

  /** Run `writer` to completion: checkpoint under `workDir`, AvailableNow
    * trigger, block until every fixture file is consumed. */
  def drain(writer: DataStreamWriter[Row], workDir: String): Unit =
    writer
      .option("checkpointLocation", s"$workDir/ckpt")
      .trigger(Trigger.AvailableNow)
      .start()
      .awaitTermination()

  /** Drain `out` into the append-mode parquet sink under `workDir` and
    * return the sink's final row set. */
  def appendParquet(out: DataFrame, workDir: String): DataFrame = {
    drain(out.writeStream.format("parquet")
      .option("path", s"$workDir/sink")
      .outputMode("append"), workDir)
    out.sparkSession.read.parquet(s"$workDir/sink")
  }
}
