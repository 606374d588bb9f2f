package graft

/** Dev-only single-query runner:
  * `sbt "Test/runMain graft.RunQuery q75_cube_orders /root/testdata/sf0.001"`
  * Prints the result (and row count) of one registered SparkEntry query —
  * the fast loop for checking a new query before a full Verify pass.
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: RunQuery <query_name> [sf_dir]\nknown queries:\n  " +
        SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
      sys.exit(2)
    }
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = GraftSession.local(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("ERROR")
    // cache: show/count/explain otherwise recompute the query three times
    val df = SparkEntry.queries(name)(spark, dir).cache()
    df.show(50, truncate = false)
    println(s"rows = ${df.count()}")
    df.explain("formatted")
    // optional third arg: dump the result for an external oracle compare
    if (args.length > 2)
      df.coalesce(1).write.mode("overwrite").parquet(args(2))
    spark.stop()
  }
}
