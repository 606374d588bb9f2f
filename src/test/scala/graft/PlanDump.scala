package graft

import java.nio.file.{Files, Paths}

/** Dev-only plan + exclusive-timing dump for specific registered queries:
  * `sbt "Test/runMain graft.PlanDump sfDir outDir reps q1 q2 ..."` —
  * writes each query's `.explain("formatted")` to `outDir/<name>.txt`
  * and prints per-rep wall seconds measured with the noop sink (forces
  * every column, unlike count(), per the optimization guide §1.4).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val reps = args(2).toInt
    val names = args.drop(3)
    val spark = GraftSession.local(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    // session warmup so the first query doesn't absorb codegen cold-start
    spark.range(1 << 20).selectExpr("sum(id)")
      .write.format("noop").mode("overwrite").save()
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      Files.writeString(Paths.get(s"$outDir/$name.txt"),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      spark.sparkContext.setJobDescription(name)
      // a failed rep's (typically short) wall time must NOT enter the
      // reported min — it would skew before/after comparisons
      val times = (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable => println(s"ERR $name: $e"); false }
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }
      spark.sparkContext.setJobDescription(null)
      if (times.isEmpty) println(s"TIME $name FAILED (no successful rep)")
      else println(f"TIME $name min=${times.min}%.3f " +
        times.map(t => f"$t%.2f").mkString(" "))
    }
    spark.stop()
  }
}
