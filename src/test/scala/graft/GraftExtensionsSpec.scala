package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  // getOrCreate returns any existing default session and would ignore
  // extensions — clear them so a fresh session (reusing the context)
  // gets the injections, then restore
  private def withExtensionsSession[A](f: SparkSession => A): A = {
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try f(spark)
    finally {
      prior.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }

  test("vec_dot / vec_norm usable from SQL via SparkSessionExtensions") {
    withExtensionsSession { spark =>
      val row = spark.sql(
      """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       vec_norm(array(3.0D, 4.0D)) AS n""".stripMargin).collect().head
      assert(row.getDouble(0) == 11.0)
      assert(row.getDouble(1) == 5.0)
      // float arrays implicitly cast to double at analysis (the natural
      // usage on the fixture's array<float> embedding column)
      val f = spark.sql(
        """SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
          |               array(3.0D, 4.0D)) AS d,
          |       vec_norm(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS n""".stripMargin)
        .collect().head
      assert(f.getDouble(0) == 11.0)
      assert(f.getDouble(1) == 5.0)
      // null ELEMENTS yield null, not garbage doubles
      val nulls = spark.sql(
        """SELECT vec_dot(array(1.0D, NULL), array(3.0D, 4.0D)) AS d,
          |       vec_norm(array(NULL, 4.0D)) AS n""".stripMargin).collect().head
      assert(nulls.isNullAt(0) && nulls.isNullAt(1))
      // non-array input is rejected at analysis, not at runtime
      intercept[Exception](spark.sql("SELECT vec_norm('not a vector')").collect())
    }
  }

  test("row_number() <= k plans through the injected TopKPerGroupExec") {
    withExtensionsSession { spark =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{col, row_number}
      import spark.implicits._
      val df = Seq(("a", 1L, 5.0), ("a", 2L, 9.0), ("a", 3L, 7.0), ("a", 4L, 9.0),
          ("b", 5L, 1.0), ("c", 6L, 3.0), ("c", 7L, 2.0))
        .toDF("g", "id", "v")
        .withColumn("rn", row_number().over(
          Window.partitionBy("g").orderBy(col("v").desc, col("id"))))
        .filter(col("rn") <= 2)
      val plan = df.queryExecution.sparkPlan
      assert(plan.collect { case e: graft.plans.TopKPerGroupExec => e }.nonEmpty, plan.toString)
      // per group: v descending, ties by id ascending, first two kept
      val want = Set(("a", 2L, 9.0, 1), ("a", 4L, 9.0, 2),
        ("b", 5L, 1.0, 1), ("c", 6L, 3.0, 1), ("c", 7L, 2.0, 2))
      val got = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      assert(got == want)
    }
  }
}
