package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Session.builder("4").appName("graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir: String = TestSpark.sfDir

  /** The Spark jobs started while `body` runs, with its result. The
    * listener bus is drained before and after, so the count holds exactly
    * the jobs `body` started (specs run one at a time).
    */
  def jobsDuring[T](body: => T): (Int, T) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftSqlBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      GraftSqlBridge.drainListenerBus(spark)
      (jobs.get(), out)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The ids of the persistent RDDs `body` added, with its result — what
    * a build leaves resident (specs run one at a time).
    */
  def persistedDuring[T](body: => T): (Set[Int], T) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val out = body
    (spark.sparkContext.getPersistentRDDs.keySet.toSet -- before, out)
  }
}
