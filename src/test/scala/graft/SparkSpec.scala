package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // legacy nanos-era fixture support; Tables.load adapts per era
      .config("spark.ui.enabled", "false")
      // Codegen class cache sized to the suite (round 18, from the round-17
      // bench find): the 523-test suite generates thousands of unique
      // codegen units in ONE shared session against a default cache of 100
      // entries, so the suite re-ran Janino continuously and no generated
      // class ever went JIT-hot — the same thrash mechanism measured in the
      // bench (2.8k recompiles/pass at cache=100, ~0 at 10000). VERDICT r17
      // #2 requires the suite to finish inside the driver's window; this is
      // the largest single lever and changes no test semantics.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
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
}
