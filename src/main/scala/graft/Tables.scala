package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the project's test tables (see TESTDATA.md), and [[read]],
  * the one parquet reader that resolves a schema without a Spark job.
  *
  * Parquet scans: Catalyst pushes filters/column pruning into the scan, so
  * callers should select/filter on the returned DataFrame directly — no
  * pre-materialization here. At 100 TB these would be partitioned/bucketed
  * tables; the loader API stays the same.
  *
  * Schema resolution: a bare `spark.read.parquet` starts a schema-inference
  * job every time a query is built. [[read]] instead reads the schema from
  * a parquet footer on the driver and then reads with
  * `spark.read.schema(s).parquet(path)`. It does what Spark's non-merging
  * inference does, so the schema equals `spark.read.parquet(path).schema`:
  * the first data file in path order (any path with a `_`- or `.`-prefixed
  * component below the table root is skipped, as Spark's file index skips
  * `_SUCCESS`, `_temporary/` and `.crc` files), Spark's own footer
  * conversion under the session's SQL confs, every field made nullable.
  * Under `spark.sql.parquet.mergeSchema` every data file's footer is read
  * and merged, again on the driver. A directory with partition
  * subdirectories (`k=v`) is refused: its partition columns are in no
  * footer.
  *
  * Schema cache: the resolved schema is kept, as a catalog would, and
  * reused only while everything it depends on is unchanged:
  *   - the path;
  *   - each data file's name, length and modification time (one listing
  *     per read, no Spark job);
  *   - the session's parquet confs and case sensitivity (`inferenceConfs`).
  * So a table rewritten at the same path never gets a stale schema, and the
  * same table name in two directories gets one schema per directory. The
  * cache keeps one entry per path and holds no session. Only the schema is
  * cached; every scan still runs inside the query that uses it.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The session confs that can change what parquet schema inference
    * returns: every parquet conf (`nanosAsLong`, `binaryAsString`,
    * `mergeSchema`, ...) and case sensitivity, which the merge uses. */
  private def inferenceConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }

  /** What a table's inferred schema depends on besides its path. */
  private final case class Fingerprint(files: Seq[(String, Long, Long)], confs: Map[String, String])

  private val schemas = new ConcurrentHashMap[String, (Fingerprint, StructType)]()

  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** The data files under `p` (`p` itself for a single-file table), in path
    * order, never descending into a hidden directory. `listStatus`, not
    * `listFiles`: the located statuses of `listFiles` load each local
    * file's permissions through a shell command. */
  private def dataFiles(fs: FileSystem, p: Path): Seq[FileStatus] = {
    def walk(d: Path): Seq[FileStatus] =
      fs.listStatus(d).toSeq.filterNot(f => hidden(f.getPath.getName)).flatMap { f =>
        if (f.isDirectory) {
          require(!f.getPath.getName.contains("="),
            s"${f.getPath}: partitioned parquet is not supported; its partition columns are in no footer")
          walk(f.getPath)
        } else Seq(f)
      }
    walk(p).sortBy(_.getPath.toString)
  }

  private def footerSchema(conf: Configuration, f: FileStatus,
      converter: ParquetToSparkSchemaConverter): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf),
      HadoopReadOptions.builder(conf).withMetadataFilter(SKIP_ROW_GROUPS).build())
    try ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, reader.getFooter), converter)
    finally reader.close()
  }

  /** The schema `spark.read.parquet(path)` would infer, from footers read
    * on the driver. */
  private def resolve(spark: SparkSession, path: String, files: Seq[FileStatus]): StructType = {
    val sql = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    val converter = new ParquetToSparkSchemaConverter(sql)
    val footers = if (sql.isParquetSchemaMergingEnabled) files else files.take(1)
    if (footers.isEmpty)
      throw new IllegalArgumentException(s"$path: no parquet data file to read a schema from")
    val merged = footers.map(footerSchema(conf, _, converter))
      .reduceLeft(GraftBridge.merge(_, _, sql.caseSensitiveAnalysis))
    GraftBridge.nullable(merged)
  }

  /** The resolved (and cached) schema behind [[read]]. */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val files = dataFiles(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    val fp = Fingerprint(files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)),
      inferenceConfs(spark))
    schemas.get(path) match {
      case (`fp`, schema) => schema
      case _ =>
        val schema = resolve(spark, path, files)
        schemas.put(path, (fp, schema))
        schema
    }
  }

  /** Read the parquet table at `path` with its schema resolved on the
    * driver (see the object doc): building the DataFrame starts no Spark
    * job. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** events.parquet's `ts` physical encoding has changed across testdata
    * regenerations (TIMESTAMP(NANOS) → timestamp[us]); adapt to whatever the
    * file actually stores instead of assuming one writer forever:
    *   - LongType (TIMESTAMP(NANOS) surfaced via `nanosAsLong`): truncate
    *     nanos→micros with integer `div` — ns epochs exceed double's exact
    *     range, so fp division would corrupt them. Matches DuckDB ns→us cast.
    *   - TimestampNTZType (timestamp[us], no UTC flag): cast once to
    *     session-TZ TimestampType. All engine sessions pin
    *     spark.sql.session.timeZone=UTC, so the cast is micros-identity and
    *     matches the NTZ-native DuckDB oracle.
    *   - TimestampType (timestamp[us], adjusted to UTC): use directly.
    * Anything else is a loud error, not a 39-query silent blackout. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other =>
        throw new IllegalStateException(
          s"$dir/events.parquet: unsupported physical type for ts: $other " +
            "(expected TIMESTAMP(NANOS)-as-long, timestamp[us] NTZ, or timestamp[us] UTC)")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
