package graft

/** Prints physical plans for representative queries — the SURVEY.md §4
  * audit loop: filter pushdown reaches the parquet scan, small dims
  * broadcast, no accidental cartesian products, wide WholeStageCodegen
  * spans. Run: sbt "runMain graft.PlanAudit [query ...]".
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = Session.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n===== $name =====")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
