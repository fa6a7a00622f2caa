package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (mirrors the driver's Verify
  * session config: UTC, small shuffle-partition count).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  val sfTest = "/root/testdata/sf0.001"

  /** Spark jobs and generated-class compiles that `f` causes. Jobs are
    * counted on a job group of their own, so a straggling job of an
    * earlier spec cannot leak into the count.
    */
  protected def costOf(f: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val group = s"cost-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val compiled =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    sc.addSparkListener(listener)
    try {
      val c0 = compiled.getCount
      sc.setJobGroup(group, group)
      try f finally sc.clearJobGroup()
      val compiles = compiled.getCount - c0
      org.apache.spark.ListenerBusDrain(sc)
      (jobs.get(), compiles)
    } finally sc.removeSparkListener(listener)
  }
}
