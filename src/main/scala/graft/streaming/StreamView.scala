package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Incremental

/** Streaming ADDITIVE view maintenance — the streaming form of o23's
  * incremental materialized view, and the seventh §2.8 replay.
  *
  * The resident windowed aggregate (e2e_stream_agg) holds its open windows
  * in STREAM state and seals them with a watermark — the right shape when a
  * key's lifetime is one window. An all-time per-key aggregate ("events per
  * user, ever") has unbounded key lifetime: windowed state would grow
  * forever. This operator keeps ZERO stream state instead — each
  * micro-batch appends its mergeable (n, exact-decimal-sum) PARTIAL
  * ([[graft.ops.Incremental.partial]]) as an epoch dir of the view table;
  * the additive merge algebra makes the table itself the state.
  *
  * Exactly-once without sinks or transactions:
  *   - a batch OVERWRITES its own `__b=<batchId>` epoch, so a replayed
  *     (crash-recovered) batch re-lands instead of double-counting;
  *   - cadence compaction ([[compactMerge]]) merges only epochs
  *     `<= batchId - 1` — those batches are checkpoint-COMMITTED (the file
  *     source commits batch N before starting N+1), so no replayable epoch
  *     is ever consumed. Merged rows land in a NEGATIVE, strictly
  *     decreasing epoch (the [[StreamNearDup.compactEpochs]] convention)
  *     that can never collide with a batchId.
  *
  * ==Manifest commit (r10 verdict task 6)==
  *
  * The r10 design had a crash window between the compaction rewrite and the
  * consumed-dir deletes where a raw directory listing would double-count
  * the merged span. It is closed the way a table format closes it: an
  * ATOMIC, generation-numbered manifest is the source of truth for which
  * epoch dirs are live, and every read resolves through it.
  *
  *   - Manifest `_manifest.g<gen>` records `(merged, upTo)`; readers take
  *     the highest generation. The live set is
  *     `{merged} ∪ { positive epochs > upTo }` — with no manifest,
  *     `upTo = -1` and no merged epoch, i.e. "all batch epochs".
  *   - Commit order: (1) [[stageMerge]] writes the merged rows into their
  *     new NEGATIVE epoch dir — negative dirs are invisible until a
  *     manifest references them, so a crash here leaves an ignored
  *     orphan; (2) [[commitManifest]] writes `_manifest.g<gen+1>.tmp` and
  *     RENAMEs it into place (the single atomic step — before it the old
  *     live set serves, after it the new one); (3) [[cleanupAfterCommit]]
  *     deletes consumed dirs and stale manifests — a crash anywhere in
  *     (3) leaves garbage the manifest already excludes, swept by the
  *     next compaction.
  *   - Orphan merged dirs from a crashed (1) are deterministic re-targets:
  *     the next compaction over the same live set computes the same new
  *     epoch and [[writeEpoch]] overwrites the orphan before committing.
  *
  * StreamViewSpec injects a crash between every pair of steps and asserts
  * the served view never double-counts or drops a row.
  *
  * Scale shape: per batch one narrow partial-agg (map-side combined to at
  * most |keys| rows) and one metadata-sized append; compaction shuffles
  * view rows, never event rows; the manifest is one small file whose
  * rename is the commit — no reader ever lists-and-guesses.
  */
object StreamView {

  private val ManifestPrefix = "_manifest.g"

  private[graft] case class Manifest(gen: Long, merged: Option[Long], upTo: Long)

  private[graft] def latestManifest(fs: FileSystem, root: Path): Option[Manifest] = {
    if (!fs.exists(root)) return None
    val files = fs.listStatus(root).map(_.getPath.getName)
      .filter(n => n.startsWith(ManifestPrefix) && !n.endsWith(".tmp"))
    if (files.isEmpty) None
    else {
      val name = files.maxBy(_.stripPrefix(ManifestPrefix).toLong)
      val in = fs.open(new Path(root, name))
      val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val kv = content.linesIterator.map(_.split("=", 2)).collect {
        case Array(k, v) => k -> v
      }.toMap
      Some(Manifest(name.stripPrefix(ManifestPrefix).toLong,
        kv.get("merged").filter(_ != "none").map(_.toLong),
        kv("upTo").toLong))
    }
  }

  /** Live epoch ids under the manifest rule: `{merged} ∪ {positives >
    * upTo}`. Orphan negative dirs (a crashed stage) and leftover consumed
    * dirs (a crashed cleanup) are excluded by construction. */
  private[graft] def liveEpochs(fs: FileSystem, root: Path): Seq[Long] = {
    if (!fs.exists(root)) return Seq.empty
    val onDisk = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__b="))
      .map(_.getPath.getName.stripPrefix("__b=").toLong).toSeq
    val man = latestManifest(fs, root)
    val upTo = man.map(_.upTo).getOrElse(-1L)
    val merged = man.flatMap(_.merged)
    onDisk.filter(e => (e >= 0 && e > upTo) || merged.contains(e))
  }

  /** The served view relation: manifest-resolved live epochs, one keyed
    * merge. Every read of the view table goes through here. */
  def served(spark: SparkSession, path: String, keyNames: Seq[String]): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = liveEpochs(fs, root).map(e => new Path(root, s"__b=$e").toString)
    require(dirs.nonEmpty, s"no live epochs under $path")
    Incremental.merge(
      Seq(spark.read.option("basePath", path).parquet(dirs: _*).drop("__b")),
      keyNames)
  }

  private[graft] def writeEpoch(df: DataFrame, path: String, epoch: Long): Unit = {
    val dir = new Path(path, s"__b=$epoch")
    val fs = dir.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) fs.delete(dir, true)
    df.withColumn("__b", lit(epoch))
      .write.mode(SaveMode.Append).partitionBy("__b").parquet(path)
  }

  /** Step 1: write the merged rows of every LIVE epoch `<= upTo` into a
    * new negative epoch dir (not yet referenced by any manifest — invisible
    * to readers). Returns (newEpoch, consumedEpochs), or None when fewer
    * than two live epochs qualify. */
  private[graft] def stageMerge(spark: SparkSession, path: String,
                                    keyNames: Seq[String],
                                    upTo: Long): Option[(Long, Seq[Long])] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val consumable = liveEpochs(fs, root).filter(_ <= upTo)
    if (consumable.size <= 1) None
    else {
      val newEpoch = math.min(-1L, consumable.min - 1L)
      val dirs = consumable.map(e => new Path(root, s"__b=$e").toString)
      val merged = Incremental.merge(
        Seq(spark.read.option("basePath", path).parquet(dirs: _*).drop("__b")),
        keyNames)
      writeEpoch(merged, path, newEpoch)
      Some((newEpoch, consumable))
    }
  }

  /** Step 2 — THE commit: write the next-generation manifest to a temp
    * file and atomically rename it into place. */
  private[graft] def commitManifest(spark: SparkSession, path: String,
                                        merged: Long, upTo: Long): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = latestManifest(fs, root).map(_.gen).getOrElse(0L) + 1L
    val tmp = new Path(root, s"$ManifestPrefix$gen.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"merged=$merged\nupTo=$upTo\n".getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(tmp, new Path(root, s"$ManifestPrefix$gen")),
      s"manifest rename failed for generation $gen")
  }

  /** Step 3: delete the consumed epoch dirs and all superseded manifests.
    * Pure garbage collection — the commit already excluded them. */
  private[graft] def cleanupAfterCommit(spark: SparkSession, path: String,
                                            consumed: Seq[Long]): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    consumed.foreach(e => fs.delete(new Path(root, s"__b=$e"), true))
    val latest = latestManifest(fs, root).map(_.gen).getOrElse(0L)
    fs.listStatus(root).map(_.getPath).foreach { p =>
      val n = p.getName
      if (n.startsWith(ManifestPrefix) &&
          (n.endsWith(".tmp") ||
            n.stripPrefix(ManifestPrefix).toLong < latest))
        fs.delete(p, false)
    }
  }

  /** Orphan sweep (the table-format VACUUM): delete every epoch dir the
    * latest manifest EXCLUDES and every stale/tmp manifest. This is the
    * garbage class a crash inside [[cleanupAfterCommit]] leaves behind
    * permanently otherwise — later compactions delete only their own
    * consumed set, and an excluded dir is never consumed again, so without
    * a vacuum the dead bytes accumulate forever. Safe under the manifest
    * rule: every read resolves through [[liveEpochs]], so anything this
    * deletes is by construction invisible (crashed-stage negative orphans
    * included — recovery re-stages over the same live set and overwrites).
    * Must run serially with compaction, same contract as [[compactMerge]]
    * (a vacuum between stage and commit would delete the staged dir).
    *
    * @return number of paths deleted. */
  def vacuum(spark: SparkSession, path: String): Int = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    val live = liveEpochs(fs, root).toSet
    val latestGen = latestManifest(fs, root).map(_.gen).getOrElse(0L)
    var n = 0
    fs.listStatus(root).map(_.getPath).foreach { p =>
      val name = p.getName
      val deadEpoch = name.startsWith("__b=") &&
        !live.contains(name.stripPrefix("__b=").toLong)
      val deadManifest = name.startsWith(ManifestPrefix) &&
        (name.endsWith(".tmp") ||
          name.stripPrefix(ManifestPrefix).toLong < latestGen)
      if (deadEpoch || deadManifest) { fs.delete(p, true); n += 1 }
    }
    n
  }

  /** Merge every LIVE epoch dir with id <= `upTo` (committed batches and
    * prior maintenance epochs) into one negative maintenance epoch under
    * the three-step manifest-commit protocol above. Must run serially with
    * the writer (holds inside foreachBatch). */
  def compactMerge(spark: SparkSession, path: String, keyNames: Seq[String],
                   upTo: Long): Unit =
    stageMerge(spark, path, keyNames, upTo).foreach { case (newEpoch, consumed) =>
      commitManifest(spark, path, newEpoch, upTo)
      cleanupAfterCommit(spark, path, consumed)
    }

  /** Replay `events` day-chunked through the additive-view pipeline and
    * return the served view (user_id, n, s). Asserts the replay really ran
    * multiple micro-batches — a single-batch run would pass vacuously. */
  def run(spark: SparkSession, events: DataFrame, workDir: String,
          maxFilesPerTrigger: Int = 4, compactEvery: Int = 3): DataFrame =
    Replay.scoped(spark) {
    val evs = events.select(col("user_id"), col("value"), col("ts"))
    Replay.writeDayChunked(evs, workDir, "ts")
    val viewPath = s"$workDir/view"

    val nBatches = spark.sparkContext.longAccumulator("view_batches")
    Replay.drain(
      Replay.parquetSource(spark, evs.schema, workDir, maxFilesPerTrigger).writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          nBatches.add(1)
          val partial = Incremental.partial(batch, Seq(col("user_id")), col("value"))
          writeEpoch(partial, viewPath, id)
          if (compactEvery > 0 && id % compactEvery == compactEvery - 1)
            compactMerge(batch.sparkSession, viewPath, Seq("user_id"), id - 1)
        },
      workDir)
    require(nBatches.value > 1,
      s"replay collapsed into ${nBatches.value} micro-batch(es); the " +
        "cross-batch merge is the point of the streaming form")
    served(spark, viewPath, Seq("user_id"))
  }
}
