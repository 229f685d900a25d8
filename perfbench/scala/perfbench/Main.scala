package perfbench

import graft.SparkEntry

/** Entry point of the benchmark's JVM side.
  *   list out=FILE              the query registry and its oracle SQL, as JSON
  *   batch key=value...         a batch workload (see [[Batch]])
  *   ingest key=value...        the live workload (see [[IngestServe]]) */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = new Args(argv.toSeq.drop(1))
    HeapWatch.install()
    argv.headOption match {
      case Some("list") =>
        Json.write(a("out"), Map("queries" -> SparkEntry.queries.keys.toSeq.sorted,
          "oracle_sql" -> SparkEntry.oracleSql))
      case Some("batch") => Batch.run(a)
      case Some("ingest") => IngestServe.run(a)
      case other => sys.error(s"unknown mode $other (list|batch|ingest)")
    }
  }
}
