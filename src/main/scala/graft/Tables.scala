package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the project's test tables (see TESTDATA.md).
  *
  * Parquet scans: Catalyst pushes filters/column pruning into the scan, so
  * callers should select/filter on the returned DataFrame directly — no
  * pre-materialization here. At 100 TB these would be partitioned/bucketed
  * tables; the loader API stays the same.
  *
  * Schema cache: a bare `spark.read.parquet` starts a schema-inference job
  * every time a query is built. `load` resolves a table's schema once, as a
  * catalog would, and then reads with `spark.read.schema(s).parquet(path)`.
  * Only the schema is cached; every scan still runs inside the query that
  * uses it. A cached schema is reused only while everything inference
  * depends on is unchanged:
  *   - the path;
  *   - each leaf file's name, length and modification time (one listing
  *     per load, no Spark job);
  *   - the session's parquet inference confs (`InferenceConfs`).
  * So a table rewritten at the same path never gets a stale schema, and the
  * same table name in two directories gets one schema per directory. The
  * cache keeps one entry per path and holds no session.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The session confs that change what parquet schema inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  /** What a table's inferred schema depends on besides its path. */
  private final case class Fingerprint(files: Seq[(String, Long, Long)], confs: Seq[Option[String]])

  private val schemas = new ConcurrentHashMap[String, (Fingerprint, StructType)]()

  /** Name, length and modification time of each leaf file under `p` (`p`
    * itself for a single-file table). `listStatus`, not `listFiles`: the
    * located statuses of `listFiles` load each local file's permissions
    * through a shell command. */
  private def leafFiles(fs: FileSystem, p: Path): Seq[(String, Long, Long)] =
    fs.listStatus(p).toSeq.flatMap { f =>
      if (f.isDirectory) leafFiles(fs, f.getPath)
      else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
    }

  private def fingerprint(spark: SparkSession, path: String): Fingerprint = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Fingerprint(leafFiles(fs, p).sorted, InferenceConfs.map(spark.conf.getOption))
  }

  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val fp = fingerprint(spark, path)
    schemas.get(path) match {
      case (`fp`, schema) => schema
      case _ =>
        val schema = spark.read.parquet(path).schema
        schemas.put(path, (fp, schema))
        schema
    }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

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
