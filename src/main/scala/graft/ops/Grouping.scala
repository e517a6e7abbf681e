package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Helpers._

/** Grouping extensions + set operators (SURVEY.md §2 group G).
  *
  * rollup/cube expand to grouping sets inside a single aggregate — one
  * shuffle, not one per grouping level. `approx_count_distinct` is HLL++
  * (constant memory per group) — the scale path when exact distinct counts
  * would blow the hash map at 100 TB.
  */
object Grouping {

  /** ROLLUP over (status, priority) with exact-decimal revenue. */
  def rollupRevenue(orders: DataFrame): DataFrame =
    orders.rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** CUBE over (returnflag, linestatus). */
  def cubeQuantity(lineitem: DataFrame): DataFrame =
    lineitem.cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Exact distinct customers per order status. */
  def distinctCounts(orders: DataFrame): DataFrame =
    orders.groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy("o_orderstatus")

  /** HLL++ distinct counts in the q_hll_rollup exact-bound-report
    * pattern: exact distinct count, the declared kσ·rsd relative-error
    * bound, and whether the HLL++ estimate lands inside it. The estimate itself stays OUT of the output, so the
    * DuckDB oracle pins the exact counts and `within_bound = TRUE` — an
    * out-of-bound sketch becomes a hash mismatch, not an unverifiable
    * rows-only row. One aggregate computes both counts side by side.
    */
  def approxDistinctReport(orders: DataFrame, rsd: Double = 0.01,
                           kSigma: Double = 3.0): DataFrame = {
    val bound = BigDecimal(kSigma * rsd)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    orders.groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_exact"),
        approx_count_distinct(col("o_custkey"), rsd).as("n_approx"))
      .select(col("o_orderstatus"), col("n_exact"),
        lit(bound).as("rel_err_bound"),
        (abs(col("n_approx") - col("n_exact")) <= lit(bound) * col("n_exact"))
          .as("within_bound"))
      .orderBy("o_orderstatus")
  }

  /** Generated oracle for [[approxDistinctReport]]. */
  def approxDistinctReportOracleSql(rsd: Double = 0.01, kSigma: Double = 3.0): String = {
    val bound = BigDecimal(kSigma * rsd)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    s"""SELECT o_orderstatus, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact,
       |       CAST($bound AS DOUBLE) AS rel_err_bound, TRUE AS within_bound
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Pivot — status columns per priority row. Explicit pivot values keep
    * the plan static (no extra distinct-values job, mandatory at scale);
    * coalesce(0) aligns empty cells with the oracle's CASE-sum form.
    */
  def pivotStatusCounts(orders: DataFrame): DataFrame =
    orders.groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy("o_orderpriority")

  /** Exact interpolated percentiles per group (Spark `percentile` ==
    * DuckDB `quantile_cont` semantics). The 100 TB variant is the
    * `percentile_approx` t-digest sketch, checked by
    * [[approxPercentileReport]].
    */
  def percentiles(orders: DataFrame): DataFrame =
    orders.groupBy("o_orderstatus")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"))
      .orderBy("o_orderstatus")

  /** Sketch-based percentiles (t-digest `percentile_approx`, constant
    * memory per group), oracle-anchored: exact interpolated percentiles
    * next to RANK-accuracy checks on the t-digest
    * values. `percentile_approx(p, acc)` guarantees the returned element's
    * rank is within n/acc of the p-th rank; the check verifies the rank
    * INTERVAL of the approx value ([count(< v)+1, count(<= v)] — ties give
    * an interval) intersects [p·n − n/acc − 1, p·n + n/acc + 1]. Only the
    * exact percentiles and the booleans are emitted, so the oracle pins
    * quantile_cont + TRUE — a rank-inaccurate sketch is a hash mismatch.
    * Plan: one grouped sketch aggregate, broadcast back onto the scan
    * (groups are the 3 order statuses), one counting aggregate.
    */
  def approxPercentileReport(orders: DataFrame, accuracy: Int = 10000): DataFrame = {
    val ap = orders.groupBy("o_orderstatus")
      .agg(expr(s"percentile_approx(o_totalprice, 0.5, $accuracy)").as("ap50"),
        expr(s"percentile_approx(o_totalprice, 0.9, $accuracy)").as("ap90"))
    val counted = orders.select("o_orderstatus", "o_totalprice")
      .join(broadcast(ap), Seq("o_orderstatus"))
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        sum(when(col("o_totalprice") < col("ap50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("o_totalprice") <= col("ap50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("o_totalprice") < col("ap90"), 1L).otherwise(0L)).as("lt90"),
        sum(when(col("o_totalprice") <= col("ap90"), 1L).otherwise(0L)).as("le90"))
    def rankOk(p: Double, lt: String, le: String) = {
      val err = col("n").cast("double") / accuracy + 1.0
      val target = col("n").cast("double") * p
      ((col(lt) + 1).cast("double") <= target + err) &&
        (col(le).cast("double") >= target - err)
    }
    counted.select(col("o_orderstatus"), col("n"), col("p50"), col("p90"),
        rankOk(0.5, "lt50", "le50").as("p50_rank_ok"),
        rankOk(0.9, "lt90", "le90").as("p90_rank_ok"))
      .orderBy("o_orderstatus")
  }

  /** Generated oracle for [[approxPercentileReport]]. */
  def approxPercentileReportOracleSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
      |       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
      |       TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Equal-width histogram over a numeric column — the distribution audit
    * next to [[percentiles]]. Two-pass, like `Windows.priceBuckets`: a
    * single-row min/max aggregate, then a row-local bucket assignment and
    * one groupBy — no sort, no window, bounded output (`nBins` rows). The
    * max value is clamped into the last bin (the standard closed-top
    * convention, mirrored by the oracle).
    */
  def histogram(df: DataFrame, valueCol: String, nBins: Int = 10): DataFrame = {
    require(nBins > 0)
    val bounds = df.agg(min(col(valueCol)).cast("double").as("lo"),
      max(col(valueCol)).cast("double").as("hi")).head()
    if (bounds.isNullAt(0)) {
      val spark = df.sparkSession
      import spark.implicits._
      return Seq.empty[(Long, Double, Double, Long)]
        .toDF("bucket", "bucket_lo", "bucket_hi", "n")
    }
    val (lo, hi) = (bounds.getDouble(0), bounds.getDouble(1))
    val width = if (hi > lo) (hi - lo) / nBins else 1.0
    val bucket = least(
      floor((col(valueCol).cast("double") - lit(lo)) / lit(width)).cast("long"),
      lit(nBins - 1L))
    df.select(bucket.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"),
        round(lit(lo) + col("bucket") * lit(width), 6).as("bucket_lo"),
        round(lit(lo) + (col("bucket") + 1) * lit(width), 6).as("bucket_hi"),
        col("n"))
      .orderBy("bucket")
  }

  /** INTERSECT — customer nations that also host suppliers. */
  def intersectNations(customer: DataFrame, supplier: DataFrame): DataFrame =
    customer.select(col("c_nationkey").as("nationkey"))
      .intersect(supplier.select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")

  /** EXCEPT — customers who ordered, minus those who ever ordered URGENT. */
  def exceptUrgent(orders: DataFrame): DataFrame =
    orders.select(col("o_custkey").as("custkey"))
      .except(orders.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey")))
      .orderBy("custkey")

  /** GROUPING SETS via SQL text (also exercises the A3 surface — the
    * reference's `BigQueryClient.run(sql)` analog is `spark.sql`;
    * reference bqfetch/bqfetch.py:85-93).
    */
  def groupingSets(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    orders.createOrReplaceTempView("_graft_orders")
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM _graft_orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  /** UNION ALL + re-aggregation (reference D5 `pd.concat` analog — bag
    * semantics, no implicit dedup; reference bqfetch/bqfetch.py:358).
    */
  def unionAllCounts(orders: DataFrame): DataFrame = {
    val a = orders.filter(col("o_orderstatus") === "O")
    val b = orders.filter(col("o_orderstatus") =!= "O")
    a.unionByName(b)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }
}
