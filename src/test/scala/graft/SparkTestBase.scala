package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Shared local session for specs (one per suite, lazily created). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs that `body` starts on this thread, counted up to a fence
    * job: listener events arrive in order, so once the fence is seen every
    * job of `body` has been counted. */
  def jobsIn(body: => Any): Int = {
    val sc = spark.sparkContext
    val tag = "graft.test.jobsIn"
    val n = new AtomicInteger
    val fence = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tag)) match {
          case Some("body") => n.incrementAndGet()
          case Some("fence") => fence.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      body
      sc.setLocalProperty(tag, "fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fence.await(60, TimeUnit.SECONDS), "fence job never reached the listener")
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    n.get
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = builder.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def builder = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // static conf, applied at SparkContext creation: exercises the
    // production plugin path (graft.GraftExtensions) across every suite
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
}
