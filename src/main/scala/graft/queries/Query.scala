package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How Bench times a query. */
sealed trait Kind

object Kind {
  /** A query: Bench times its median over repeated runs, inside query
    * throughput. */
  case object Throughput extends Kind

  /** A round trip rather than a query: a streaming replay (fixture render +
    * multi-micro-batch run, dominated by trigger/checkpoint overhead
    * independent of data size), store maintenance (upserts + compaction /
    * history / retention + listing, write-once bucketing), or an on-disk
    * index or codebook build. Bench times it once under "maintenance",
    * outside query throughput. */
  case object Maintenance extends Kind
}

/** One registered query. `build(spark, dataDir)` returns its result over the
  * fixture tables in `dataDir`; `oracle` is the DuckDB SQL over the same
  * tables that must return the same rows. The two are kept numerically
  * identical by (a) routing double reductions through exact DECIMAL
  * accumulators ([[graft.ops.Exact]]) and (b) mirroring per-row double
  * arithmetic expression-for-expression. */
final case class Query(name: String, kind: Kind,
                       build: (SparkSession, String) => DataFrame, oracle: String)

/** Every query, one family module per name prefix. */
object Registry {
  val all: Seq[Query] = unique(Seq(
    SqlQueries.all, AnalyticsQueries.all, MonitorQueries.all,
    OperatorQueries.all, IngestQueries.all, JoinQueries.all,
    DataPrepQueries.all, TextQueries.all, DedupQueries.all,
    CompositeQueries.all, SimilarityQueries.all, GraphQueries.all,
    MultimodalQueries.all, StreamingQueries.all).flatten)

  /** `qs` unchanged; fails when a name is declared twice, which a `Map`
    * literal would drop without an error. */
  def unique(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query names declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }
}
