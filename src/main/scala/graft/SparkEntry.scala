package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.batch.MinuteAggregate
import graft.queries.Registry

/** Driver contract: the flagship [[entry]] query, and two views of the query
  * registry ([[graft.queries.Registry]]), which declares each query once
  * beside its DuckDB oracle and its kind. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A1 — the reference's resident per-minute aggregation
    * (ref: resources/flink/main.py:105-120) in batch form. */
  def entry(spark: SparkSession): DataFrame =
    MinuteAggregate(Tables.events(spark, "/root/testdata/sf0.001"), "ts", "value")

  /** Each query's build, by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.build).toMap

  /** Each query's DuckDB oracle SQL, by name. */
  val oracleSql: Map[String, String] = Registry.all.map(q => q.name -> q.oracle).toMap
}
