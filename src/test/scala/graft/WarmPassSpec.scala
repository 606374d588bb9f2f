package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A warm session repeats no work for the benchmark's `dashboard`
  * queries: once their tables' schemas are known the builders run no
  * Spark job, and once a pass has run, the next one compiles no
  * generated class (the codegen cache bound in build.sbt holds the
  * working set). */
class WarmPassSpec extends SparkSpec {

  /** The `dashboard` workload's queries (perfbench `Workloads`). */
  private lazy val dashboard = PlanDump.resolve(SparkEntry.queries.keySet,
    Seq("q18", "q12", "q37", "q04", "q73", "q41", "q35", "q268", "q266", "q06"))
    .fold(sys.error, identity)

  private def build(key: String) = SparkEntry.queries(key)(spark, sf0001)

  test("relational builders run no Spark job on their second call (q18, q268)") {
    for (key <- dashboard.filter(k => k.startsWith("q18_") || k.startsWith("q268_"))) {
      build(key)
      val (jobs, _) = countingJobs(build(key))
      assert(jobs == 0, s"$key: the second builder call ran $jobs jobs")
    }
  }

  test("a second dashboard pass compiles no generated class") {
    def pass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      dashboard.foreach(k => build(k).write.format("noop").mode("overwrite").save())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = pass()
    val second = pass()
    assert(second == 0, s"second pass compiled $second classes (first: $first)")
  }
}
