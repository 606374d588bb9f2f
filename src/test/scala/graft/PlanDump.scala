package graft

import java.nio.file.{Files, Paths}

/** Dev-only plan + exclusive-timing dump for specific registered queries:
  * `sbt "Test/runMain graft.PlanDump sfDir outDir reps q18 q268_... ..."` —
  * writes each query's `.explain("formatted")` to `outDir/<key>.txt`
  * and prints per-rep wall seconds measured with the noop sink (forces
  * every column, unlike count(), per the optimization guide §1.4).
  * A name is a full registry key or a short id such as `q18`.
  */
object PlanDump {

  /** Each name as its registry key: a full key stays as it is; otherwise
    * the name must equal the part before `_` of exactly one key (the
    * rule the benchmark's workload lists resolve by). Every missing or
    * ambiguous name is reported at once. */
  def resolve(keys: Set[String], names: Seq[String]): Either[String, Seq[String]] = {
    val byShort = keys.groupBy(_.takeWhile(_ != '_'))
    val resolved = names.map { n =>
      if (keys(n)) Right(n)
      else byShort.getOrElse(n, Set.empty).toSeq match {
        case Seq(k) => Right(k)
        case Seq() => Left(s"$n: not in SparkEntry.queries")
        case many => Left(s"$n: ambiguous (${many.sorted.mkString(", ")})")
      }
    }
    val problems = resolved.collect { case Left(p) => p }
    if (problems.nonEmpty) Left(problems.mkString("; "))
    else Right(resolved.collect { case Right(k) => k })
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val reps = args(2).toInt
    val names = resolve(SparkEntry.queries.keySet, args.toSeq.drop(3))
      .fold(p => { System.err.println(s"PlanDump: $p"); sys.exit(2) }, identity)
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
