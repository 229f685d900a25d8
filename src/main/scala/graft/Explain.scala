package graft

/** Plan observability: print the formatted physical plan of selected
  * `SparkEntry.queries` entries without executing them — the iterate-on-
  * the-plan loop ("explain until it's the plan you'd want, not the first
  * one that passed") as a one-liner.
  *
  * Usage: runMain graft.Explain <sfDir> <name1,name2,...>
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.lift(1).map(_.split(",").toSet)
    // SPARK_GRAFT_CPUS: session parallelism (fanOut's identity threshold is
    // numShufflePartitions — the at-scale proof must plan at the bench's 32,
    // not the explain default 4). SPARK_GRAFT_MAXPB: scan split size — on
    // ScaleGen's multi-file layout a small cap stands in for the many-
    // hundreds-of-splits scans a real 100 TB table supplies.
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.conf.set("spark.sql.files.maxPartitionBytes",
      sys.env.getOrElse("SPARK_GRAFT_MAXPB", "134217728"))
    spark.sparkContext.setLogLevel("ERROR")
    for ((n, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if names.forall(_.contains(n))) {
      println(s"\n=== $n ===")
      try fn(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"FAILED to plan: ${e.getMessage}") }
    }
    spark.stop()
  }
}
