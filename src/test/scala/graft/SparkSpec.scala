package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Shared local session for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Spark jobs started while `f` runs. A marker job run after `f` flushes
    * the listener queue, which delivers events in order. */
  protected def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "jobsOf marker"))
          flushed.countDown()
        else started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobDescription("jobsOf marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(flushed.await(60, TimeUnit.SECONDS), "listener queue did not flush")
      started.get
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  /** The `Bench`/`Verify` session settings at 4 cores, so a plan a spec
    * pins is the plan the bench times. */
  lazy val session: SparkSession = GraftSession.local(4)
}
