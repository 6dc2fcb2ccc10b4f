package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base — one local session per suite (lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs, counted with a listener. A
    * sentinel job after `body` drains the listener bus: events arrive in
    * order, so once the sentinel is seen every earlier job has been. */
  protected def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "sentinel"))
          sentinel.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("sentinel", "drain the listener bus")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // GraftSession builder so the extension-injected functions are live
    // in every suite (getOrCreate reuses one session per JVM)
    val s = GraftSession.builder("local[4]", shufflePartitions = 4)
      .appName("graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
