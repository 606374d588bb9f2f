package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Cross-run staged artifacts (co-purchase edges, minhash/winnow
    // fingerprints, LR weights, stream stages, ...) are keyed on the
    // corpus identity and REUSED across bench invocations; clearing the
    // stage root up front makes every bench run pay each stage build
    // exactly once, inside the first timed query that needs it —
    // measurement honesty, not a code path change (consumers rebuild
    // transparently via Stage.directory).
    locally {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(Stage.root))
    }
    // NOTE (measured, round 14): byte-sized AQE coalescing
    // (parallelismFirst=false + a 64m advisory) was tried here to kill
    // the small-task storms of the round-13 scaling block and REVERTED:
    // at sf0.1 it coalesces every post-shuffle frame to ~1 partition and
    // serializes genuinely CPU-bound reduce work — full bench 239 s ->
    // 307 s, the fixed-work shuffle probe alone 0.42 s -> 1.26 s while
    // the cpu/scan probes stayed flat. The guide §2.2 advice targets
    // clusters with far more partitions than cores; at local[$cpus] with
    // shuffle.partitions=$cpus the default parallelism-first behavior is
    // the right one, and the anti-scaling tail is fixed where it
    // belongs, in the operators (see OPTIMIZATION_r14.md).
    val spark = GraftSession.local(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    def secs(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // Warmup: pay JVM/codegen/parquet-footer cold-start once, outside the
    // per-query timings (otherwise the alphabetically-first query absorbs
    // ~4s of session warmup and the numbers misattribute it).
    spark.range(1 << 20).selectExpr("sum(id)").write.format("noop")
      .mode("overwrite").save()
    Seq("lineitem", "orders", "customer", "nation", "region", "part",
      "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").limit(1)
        .write.format("noop").mode("overwrite").save()
    }
    // Fixed-work calibration probes, timed warm: a pure-CPU aggregate
    // and a small full-table parquet scan. Identical work every round,
    // so cross-round ratios on these two separate host/environment
    // drift from code regressions (round 4's uniform ~1.5x vs round 3
    // could not be adjudicated from the artifacts alone). Best of 3,
    // same estimator as the queries.
    val calibCpu = (1 to 3).map(_ => secs(
      // double accumulator: a long sum of 2^26 squares overflows ANSI
      spark.range(1L << 26).selectExpr("sum(cast(id as double) * id)")
        .write.format("noop").mode("overwrite").save())).min
    val calibScan = (1 to 3).map(_ => secs(
      spark.read.parquet(s"$sfDir/orders.parquet")
        .selectExpr("sum(hash(*))").write.format("noop")
        .mode("overwrite").save())).min
    // Fixed-work SHUFFLE probe: the cpu/scan probes are too light and
    // shuffle-free to see degraded parallel or disk throughput (this
    // round a pure-projection query ran 5x slower while both stayed
    // flat), so exchange-heavy drift needs its own yardstick.
    val calibShuffle = (1 to 3).map(_ => secs(
      spark.range(1L << 24).selectExpr("id % 65536 as k", "id")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("id"))
        .write.format("noop").mode("overwrite").save())).min
    // ML training is benchmarked separately from engine ops (RF fit time
    // says nothing about query-plan quality and would dominate the total).
    val exclude = Set("q33_ml_importances", "q81_ml_predict_one")
    // Every rep carries its status: a failed rep's (typically short)
    // wall time never enters the min, and a query with no successful rep
    // leaves per_query and the total for the failures line.
    val runs = (SparkEntry.queries -- exclude).toSeq.sortBy(_._1).map { case (name, fn) =>
      // best of 3 runs: this sandbox shows 2-3x run-to-run noise from the
      // shared host; min is the standard noise-resistant point estimate.
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        // noop-format write forces every expression/column (a bare count()
        // would let Catalyst prune projections and under-measure).
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Right((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name: $e"); Left(e)
        }
      }
      (name, reps.collect { case Right(t) => t }, reps.collect { case Left(e) => e })
    }
    val results = runs.collect { case (k, ts, _) if ts.nonEmpty => (k, ts.min, ts.max) }
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // rep spread = max/min across the successful reps, the per-query
    // noise dial: a query whose min moved between rounds while its spread
    // was tight is a plan change; wide spreads mean the host was noisy.
    val spreads = results.map { case (k, v, mx) =>
      s"\"" + k + "\":" + (if (v > 0) math.round(mx / v * 100.0) / 100.0 else 1.0)
    }.mkString("{", ",", "}")
    val failed = runs.collect { case (k, ts, es) if ts.isEmpty =>
      s"\"$k\":\"${es.head.getClass.getName}\"" }.mkString("{", ",", "}")
    val failedReps = runs.collect { case (k, ts, es) if ts.nonEmpty && es.nonEmpty =>
      s"\"$k\":${es.size}" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Per-query detail on its own line FIRST; the final stdout line is a
    // SHORT total-only record — the driver parses the tail of stdout, and
    // a single line carrying ~80 per-query entries overflows its capture
    // (BENCH_r03 came back "parsed": null that way).
    println(s"""{"metric":"per_query","unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    println(s"""{"metric":"rep_spread","unit":"ratio_max_over_min","queries":$spreads}""")
    println(s"""{"metric":"calibration","unit":"sec","cpu_sum_sq_2e26":$calibCpu,"orders_scan_hash":$calibScan,"shuffle_sum_2e24":$calibShuffle}""")
    println(s"""{"metric":"failures","queries":$failed,"failed_reps":$failedReps}""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"sf":"$sfDir"}""")
    spark.stop()
  }
}
