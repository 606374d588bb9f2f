package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites — one JVM (Test/fork), one
  * session; suites must not stop() it. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Base class: import spark.implicits._ via `spark`. */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` and counts the Spark jobs it started: jobs are tagged
    * with a fresh job group, so stragglers of earlier work never count,
    * and listener events are asynchronous, so the bus gets 500 ms to
    * drain before the count is read. */
  def countingJobs[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val group = s"countingJobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      val out = body
      Thread.sleep(500)
      (jobs.get, out)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
