package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — Spark startup
  * dominates test wall time otherwise).
  */
object TestSpark {
  lazy val spark: SparkSession = Session.engine(4, appName = "graft-test")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf = "/root/testdata/sf0.001"

  /** `f`'s result with the Spark jobs and tasks started while it ran. */
  def jobsAndTasks[T](f: => T): (T, Int, Int) = {
    val jobs, tasks = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
    }
    GraftBridge.awaitListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = f
      GraftBridge.awaitListeners(spark)
      (out, jobs.get, tasks.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `f`'s result with the broadcasts created while it ran: broadcast ids
    * are handed out in order, so it is the gap between the ids of a marker
    * broadcast made before and one made after, less the second marker.
    */
  def broadcasts[T](f: => T): (T, Long) = {
    def marker(): Long = {
      val b = spark.sparkContext.broadcast(())
      try b.id finally b.destroy()
    }
    val before = marker()
    val out = f
    (out, marker() - before - 1)
  }
}
