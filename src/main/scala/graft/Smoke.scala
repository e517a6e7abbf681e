package graft

/** Smoke driver mirroring the round driver's t1 check: run the flagship
  * `SparkEntry.entry` and assert rows > 0.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.show(20, truncate = false)
    val n = df.count()
    println(s"SMOKE rows=$n ${if (n > 0) "OK" else "FAIL"}")
    spark.stop()
  }
}
