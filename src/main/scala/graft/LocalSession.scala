package graft

import org.apache.spark.sql.SparkSession

/** The one place a main builds its Spark session: `local[cpus]` with as
  * many shuffle partitions as cores, UTC session time and no UI. A main
  * that needs another runtime SQL conf sets it on the returned session. */
object LocalSession {
  def apply(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
