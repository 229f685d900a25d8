package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** S6/S7/S8 — a keyed, versioned table on parquet: the Spark-native
  * re-expression of the reference's SageMaker Feature Group (record id
  * `tx_minute`, event-time versioning, online latest-wins reads + offline
  * full-history reads; ref: lib/sagemaker/feature-store.ts:174-194,
  * agg-fg-schema.json:31-32).
  *
  * Design: an append-only versioned log partitioned y/m/d/h like the offline
  * store (feature-store.ts:187-191). Appends are cheap (no read-modify-write
  * of the whole table — at 100 TB a rewrite-on-upsert is a non-starter);
  * readers choose semantics:
  *   - [[readAll]] — every version (the reference's Athena `SELECT *`, which
  *     quietly returns duplicate minutes, preprocess.py:77-87)
  *   - [[readLatest]] — latest event_time per key (online get_record
  *     semantics, read_feature_store.ipynb)
  * With a Delta-style table the upsert would be a MERGE; on plain parquet the
  * same semantics come from append + latest-wins-on-read + periodic
  * [[compact]] which also collapses versions per partition.
  */
class KeyedParquetTable(val path: String, val keyCol: String,
                        val versionCol: String = "event_time") extends Serializable {

  private val partCols = Seq("year", "month", "day", "hour")

  /** Partition columns derived from the key (the reference keys by a
    * "yyyy-MM-dd HH:mm:ss" minute string and lays out y/m/d/h prefixes). */
  private def withPartitionCols(df: DataFrame): DataFrame =
    df.withColumn("year", substring(col(keyCol), 1, 4))
      .withColumn("month", substring(col(keyCol), 6, 2))
      .withColumn("day", substring(col(keyCol), 9, 2))
      .withColumn("hour", substring(col(keyCol), 12, 2))

  /** Partition-column repartition with a PINNED task count. Without the
    * explicit count, AQE coalesces the (metadata-sized) aggregate shuffle
    * to ONE partition and a single task then serially opens one parquet
    * writer per hour dir — measured 13 s vs 3.9 s for the same 720-dir
    * write at sf0.1 (the m7 single-task-wedge lesson applied to writes).
    * Hashing by the partition columns still lands each dir's rows in
    * exactly one task, so the one-file-per-directory layout is unchanged. */
  private def byPartitionDirs(df: DataFrame, extra: Seq[String] = Nil): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    df.repartition(n, (partCols ++ extra).map(col): _*)
  }

  /** S6 — upsert a batch: append new versions; readers resolve latest-wins.
    * Used directly as a `foreachBatch` sink for streaming update-mode aggs.
    * @param version monotonic sequence (e.g. the streaming batchId) breaking
    *   ties when two upserts of the same key share an `event_time` second —
    *   the reference's "last put_record wins" needs a total order. */
  def upsert(batch: DataFrame, version: Long = 0L, bulk: Boolean = false): Unit = {
    val p = withPartitionCols(batch.withColumn("__v", lit(version)))
    // bulk (backfill) loads: co-locate each hour partition into one task so
    // the append writes one file per directory instead of one per task —
    // streaming micro-batches skip this (few open windows, extra shuffle
    // not worth it; compact() collapses their small files on cadence)
    val arranged = if (bulk) byPartitionDirs(p) else p
    arranged.write.partitionBy(partCols: _*).mode(SaveMode.Append).parquet(path)
  }

  /** All raw reads go through mergeSchema: tombstone files ([[deleteKeys]])
    * carry a `__del` column that pre-deletion files lack, and a
    * footer-sampled schema that missed it would silently RESURRECT deleted
    * keys (the latest-wins winner would lose its flag). A table format
    * carries the schema in the manifest; on plain parquet the merged read
    * is the equivalent, paid in footer metadata only. */
  private def readRaw(spark: SparkSession): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  private def readData(spark: SparkSession): DataFrame = readRaw(spark).drop(partCols: _*)

  /** Latest-wins resolution: per key, the row with the highest `versionCol`,
    * then the highest upsert sequence `__v`. */
  private def latestOnly(df: DataFrame, keepVersion: Boolean = false,
                         dropTombstones: Boolean = true): DataFrame = {
    val versioned = if (df.columns.contains("__v")) df else df.withColumn("__v", lit(0L))
    // Writers that don't stamp an event-time version column still get a
    // total order from the upsert sequence alone.
    val ord =
      if (versioned.columns.contains(versionCol))
        Seq(col(versionCol).desc, col("__v").desc)
      else Seq(col("__v").desc)
    val w = Window.partitionBy(col(keyCol)).orderBy(ord: _*)
    val resolved = versioned.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    // a winning tombstone means the key is deleted from the SERVED state;
    // maintenance passes (compact) keep the row so a replayed old upsert
    // can never out-version a vanished delete
    val served =
      if (dropTombstones && resolved.columns.contains("__del"))
        resolved.filter(!coalesce(col("__del"), lit(false))).drop("__del")
      else resolved
    if (keepVersion) served else served.drop("__v")
  }

  /** MERGE … WHEN MATCHED DELETE analog: append TOMBSTONE versions for the
    * keys in `keys` (any DataFrame with the key column). A tombstone is a
    * full-schema null row flagged `__del = true` at upsert sequence
    * `version`; latest-wins resolution selects it like any version, the
    * serving reads ([[readLatest]]/[[getRecord]]/[[readAsOf]]) filter it
    * out, and history ([[readAll]], as-of BEFORE the delete) retains the
    * pre-delete rows — delete-then-reinsert at a later version resurrects
    * the key, the full CDC lifecycle. [[compact]] and [[truncateHistory]]
    * preserve winning tombstones (dropping one would let a replayed old
    * batch win against a vanished delete). */
  def deleteKeys(spark: SparkSession, keys: DataFrame, version: Long): Unit = {
    val dataSchema = readRaw(spark).drop(Seq("__v", "__del") ++ partCols: _*).schema
    val keyField = dataSchema(keyCol)
    val row = dataSchema.fields.map { f =>
      if (f.name == keyCol) col(keyCol).cast(keyField.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    upsert(keys.select(col(keyCol)).distinct().select(row: _*)
      .withColumn("__del", lit(true)), version)
  }

  def exists(spark: SparkSession): Boolean =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new Path(path))

  /** S7 — offline full-history scan (all versions, duplicates included). */
  def readAll(spark: SparkSession): DataFrame = readData(spark).drop("__v")

  /** S8/online — latest version per key (version col, then upsert sequence). */
  def readLatest(spark: SparkSession): DataFrame = latestOnly(readData(spark))

  /** Time travel: the table state AS OF upsert sequence `version`
    * (inclusive) — latest-wins resolution over only the versions committed
    * at or before it. Because the log is append-only, every historical
    * state remains reconstructable until [[compact]] collapses superseded
    * versions; this is the parquet-log analog of Delta/Iceberg
    * `VERSION AS OF`. The `__v` filter lands in PushedFilters (plain
    * long column), so a scan for an old version reads row groups whose
    * `__v` stats overlap it, not the whole history. Output carries the
    * originating upsert sequence as `version`. */
  def readAsOf(spark: SparkSession, version: Long): DataFrame = {
    latestOnly(readData(spark).filter(col("__v") <= version), keepVersion = true)
      .withColumnRenamed("__v", "version")
  }

  /** S8 — point lookup of the latest record for one key. Partition pruning:
    * the key prefix maps directly to y/m/d/h partition values, so the scan
    * touches exactly one hour partition. */
  def getRecord(spark: SparkSession, key: String): DataFrame = {
    val pruned = readRaw(spark)
      .filter(col("year") === key.substring(0, 4) &&
        col("month") === key.substring(5, 7) &&
        col("day") === key.substring(8, 10) &&
        col("hour") === key.substring(11, 13))
      .drop(partCols: _*)
    latestOnly(pruned.filter(col(keyCol) === key))
  }

  /** Retention truncation — the VACUUM half of the [[readAsOf]] time-travel
    * story: physically drop history older than upsert sequence `keepFrom`
    * while preserving BIT-IDENTICAL `readAsOf(w)` for every w ≥ `keepFrom`
    * (and `readLatest`/`getRecord`). Per key it keeps the as-of-`keepFrom`
    * winning row (with its original `__v`, so version attribution
    * survives) plus every row with `__v > keepFrom`; any other old row can
    * never win an as-of ≥ `keepFrom` read, because the latest-wins ordering
    * is static — dropping it is observationally safe. States before
    * `keepFrom` become unreconstructable, which is the point (bounded
    * storage / retention compliance). Same concurrency contract as
    * [[compact]]: run only when no writer is appending to the affected
    * partitions. No partition can come out empty — every key retains at
    * least its winner — so the dynamic overwrite rewrites exactly the
    * directories that exist. */
  def truncateHistory(spark: SparkSession, keepFrom: Long): Unit = {
    val versioned = readData(spark)
    // Rewrite ONLY the hour partitions that actually drop rows (r11
    // verdict task 5): truncation removes exactly the superseded
    // pre-keepFrom versions, so a partition is affected iff some key in
    // it has ≥2 rows at __v ≤ keepFrom — and every version of a key
    // lives in that key's own hour dir (the partition values derive from
    // the key), so the test is partition-local and EXACT, not
    // conservative. The detection pass is one scan with the __v bound in
    // PushedFilters plus a narrow count; the common retention cadence —
    // truncate more often than history accumulates — then costs a scan,
    // not a 100% table rewrite (o25's fixture: zero affected partitions,
    // formerly a full rewrite).
    val affected = withPartitionCols(versioned.filter(col("__v") <= keepFrom))
      .groupBy(col("year"), col("month"), col("day"), col("hour"), col(keyCol))
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1)
      .select(col("year"), col("month"), col("day"), col("hour"))
      .distinct().collect() // bounded by #hour partitions, never rows
    if (affected.isEmpty) return
    val partsDf = broadcast(spark.createDataFrame(affected.toSeq.map(r =>
        (r.getString(0), r.getString(1), r.getString(2), r.getString(3))))
      .toDF("year", "month", "day", "hour"))
    // winners are computed over the affected partitions only — correct
    // because the per-key window never crosses an hour-dir boundary
    val scoped = withPartitionCols(versioned)
      .join(partsDf, partCols)
      .drop(partCols: _*)
    val oldWinners = latestOnly(scoped.filter(col("__v") <= keepFrom),
      keepVersion = true, dropTombstones = false)
    val keep = oldWinners.unionByName(scoped.filter(col("__v") > keepFrom))
    byPartitionDirs(withPartitionCols(keep))
      .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*).parquet(path)
  }

  /** S9/O6 — per-partition compaction, the reference's hourly Glue job
    * (ref: resources/glue/FeatureStoreAggregateParquet.py:35-112): for each
    * y/m/d/h prefix with more than one file, rewrite to
    * ceil(bytes / targetFileBytes) files. Also collapses superseded versions
    * (latest-wins) — the parquet analog of a Delta OPTIMIZE + vacuum.
    *
    * Runs as ONE distributed pass regardless of how many prefixes need work:
    * the sizing plan (prefix → target file count, from the driver-side file
    * listing) is broadcast-joined onto the scan — dynamic partition pruning
    * skips prefixes that are already compact — each partition's survivors are
    * salted into its ceil(bytes/target) output files, and a single dynamic
    * partition overwrite rewrites exactly the planned prefixes. The previous
    * shape (one read+write job per prefix) serialized hundreds of tiny Spark
    * jobs; at 100 TB the single salted pass is also what bounds task counts. */
  private def fileSystem(spark: SparkSession) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Hour partition directories. Names starting with `_` or `.` are
    * skipped as in Spark's partition discovery — a running write's
    * `_temporary/…` tree is not a partition. */
  private def hourDirs(spark: SparkSession): Seq[Path] = {
    val fs = fileSystem(spark)
    val root = new Path(path)
    def leafDirs(p: Path, depth: Int): Seq[Path] =
      if (depth == 0) Seq(p)
      else fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .flatMap(s => leafDirs(s.getPath, depth - 1))
    if (!fs.exists(root)) Seq.empty else leafDirs(root, 4)
  }

  /** Partition values (year, month, day, hour) of an hour directory, parsed
    * from its last 4 `k=v` path segments. */
  private def partValues(dir: Path): Seq[String] =
    Seq.iterate(dir, 4)(_.getParent).map(_.getName.split("=", 2)(1)).reverse

  /** S9 observability — "yyyy-MM-dd HH" prefix → parquet file count, from a
    * driver-side METADATA listing (bounded by #hour partitions, never rows).
    * The compaction gate and the o6 file-count oracle both read this. */
  def hourPrefixFileCounts(spark: SparkSession): Seq[(String, Int)] = {
    val fs = fileSystem(spark)
    hourDirs(spark).map { dir =>
      val s = partValues(dir)
      (s"${s(0)}-${s(1)}-${s(2)} ${s(3)}",
        fs.listStatus(dir).count(f => f.isFile && f.getPath.getName.endsWith(".parquet")))
    }
  }

  /** Concurrency contract: the pass plans from a driver-side listing and
    * then dynamically OVERWRITES the planned hour partitions — an upsert
    * appending to a planned prefix between the listing and the overwrite
    * commit would be silently deleted. Run compaction only on hours the
    * writer has moved past: `excludeHourPrefixes` (format "yyyy-MM-dd HH")
    * drops the open hour(s) from the plan — a streaming caller passes the
    * hours its watermark still admits (the reference's hourly Glue job has
    * the same contract: it compacts *previous* hours on a cadence). */
  def compact(spark: SparkSession, targetFileBytes: Long = 512L * 1024 * 1024,
              excludeHourPrefixes: Set[String] = Set.empty): Unit = {
    val fs = fileSystem(spark)
    // discover hour prefixes with >1 file (FeatureStoreAggregateParquet.py:52-58)
    val plan = hourDirs(spark).flatMap { dir =>
      val files = fs.listStatus(dir).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      val segs0 = partValues(dir)
      if (files.length <= 1 ||
          excludeHourPrefixes.contains(s"${segs0(0)}-${segs0(1)}-${segs0(2)} ${segs0(3)}")) None
      else {
        val n = math.max(1, math.ceil(files.map(_.getLen).sum.toDouble / targetFileBytes).toInt)
        Some((segs0(0), segs0(1), segs0(2), segs0(3), n))
      }
    }
    if (plan.isEmpty) return
    val planDf = spark.createDataFrame(plan).toDF("year", "month", "day", "hour", "__n")
    // Scan ONLY the planned hour dirs (basePath keeps the partition
    // columns): on a mostly-compact table the former full-table read paid
    // listing + mergeSchema footers for every file just to join 95% of
    // them away — the planned-dirs read scales with the work, not the
    // table. The join still attaches per-prefix target counts.
    val planDirs = plan.map { case (y, m, d, h, _) =>
      s"$path/year=$y/month=$m/day=$d/hour=$h" }
    val todo = spark.read.option("mergeSchema", "true")
      .option("basePath", path).parquet(planDirs: _*)
      .join(broadcast(planDf), partCols)
      .drop(partCols: _*)
    // keep each survivor's original __v: resetting it would let a replayed
    // foreachBatch (same batchId, higher __v than 0) win over the newer
    // compacted value
    val compacted = latestOnly(todo, keepVersion = true, dropTombstones = false)
    // re-derive partition values from the key (string-typed, matching the
    // upsert layout — month=01, not the scan's int-inferred month=1, so the
    // dynamic overwrite replaces the original directories)
    val ready = withPartitionCols(compacted)
      .withColumn("__salt", pmod(xxhash64(col(keyCol)), col("__n")))
    byPartitionDirs(ready, extra = Seq("__salt"))
      .drop("__salt", "__n")
      .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*).parquet(path)
  }
}
