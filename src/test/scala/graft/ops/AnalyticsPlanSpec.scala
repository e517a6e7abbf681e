package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Plan-shape audit for the round-10 analytics operators: the 100 TB
  * claims (pushed date windows, broadcast dims, 1-row-only BNLJ, custom
  * bounded-heap ranking instead of window sorts, boundary-bucket-only
  * window input) pinned on `sparkPlan` so a regression shows up as a
  * test failure, not a bench surprise.
  */
class AnalyticsPlanSpec extends SparkSpec {

  private def planOf(name: String) =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.sparkPlan

  test("q_triangles: date window pushed to the lineitem scan, no cartesian, BNLJ only for the 1-row census") {
    val plan = planOf("q_triangles")
    assert(plan.collect { case j: CartesianProductExec => j }.isEmpty, plan.toString)
    // the scan sits behind the census' localCheckpoint — assert the push
    // on the edge-derivation frame directly
    val edges = Graph.basketEdges(graft.core.Tables.lineitem(spark, sfDir))
      .queryExecution.sparkPlan
    val pushed = edges.collect { case s: FileSourceScanExec => s }
      .flatMap(_.metadata.get("PushedFilters"))
      .exists(_.contains("l_shipdate"))
    assert(pushed, s"ship-date window must reach the parquet scan:\n$edges")
    // the census/total cross joins are the ONLY nested-loop sites and both
    // build 1-row aggregates
    plan.collect { case j: BroadcastNestedLoopJoinExec => j }.foreach { j =>
      assert(j.buildSide.toString.contains("Right") || j.buildSide.toString.contains("Left"))
    }
  }

  test("q_assoc_rules: part dim broadcast, no cartesian, basket total as the only BNLJ") {
    val plan = planOf("q_assoc_rules")
    assert(plan.collect { case j: CartesianProductExec => j }.isEmpty, plan.toString)
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.size <= 1,
      s"only the 1-row basket-total cross join may nested-loop:\n$plan")
    // the dim join sits inside the materialized basket table (a checkpoint
    // scan in the query's plan) — assert the broadcast on the derivation directly
    val bb = Affinity.brandBaskets(graft.core.Tables.lineitem(spark, sfDir),
      graft.core.Tables.part(spark, sfDir)).queryExecution.sparkPlan
    assert(bb.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"part dim must broadcast:\n$bb")
  }

  test("q_item_neighbors / q_keyterms: custom bounded-heap top-k in the plan, no window sort for ranking") {
    // q_item_neighbors reads the certify-once result memo since r14 (its
    // registered plan is a checkpoint scan), so the rank-operator pin is
    // asserted on the BUILD plan — the same derivation the memo runs once
    import org.apache.spark.sql.functions.{col, lit}
    val itemBuild = Affinity.itemNeighbors(Affinity.basketItems(
        graft.core.Tables.lineitem(spark, sfDir)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp"))),
      topK = 3, minPairs = 1, pruneItems = false).queryExecution.sparkPlan
    for ((name, plan) <- Seq("q_item_neighbors(build)" -> itemBuild,
        "q_keyterms" -> planOf("q_keyterms"))) {
      assert(plan.collect { case t: graft.plans.TopKPerGroupExec => t }.nonEmpty,
        s"$name must rank through TopKPerGroupExec:\n$plan")
      assert(plan.collect { case w: WindowExec => w }.isEmpty,
        s"$name must not fall back to a window sort:\n$plan")
    }
  }

  test("q_item_neighbors: ship-date window pushed to the scan (derivation frame — the query caches it)") {
    import org.apache.spark.sql.functions.{col, lit}
    val src = Affinity.basketItems(graft.core.Tables.lineitem(spark, sfDir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp")))
      .queryExecution.sparkPlan
    val pushed = src.collect { case s: FileSourceScanExec => s }
      .flatMap(_.metadata.get("PushedFilters"))
      .exists(_.contains("l_shipdate"))
    assert(pushed, s"the one-year neighbor window must reach the parquet scan:\n$src")
  }

  test("q_budget_select: the only window runs over the FILTERED boundary bucket, never the corpus") {
    val plan = planOf("q_budget_select")
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.size <= 1, s"one boundary-bucket window at most:\n$plan")
    windows.foreach { w =>
      // the bucket column is inlined by collapse-project: the filter shows
      // as an equality on the FLOOR(score·100) expression
      val hasBucketFilter = w.collect {
        case f: FilterExec if f.condition.toString.contains("FLOOR") => f
      }.nonEmpty
      assert(hasBucketFilter,
        s"the window's input must be the single coarse-bucket filter:\n$plan")
    }
  }

  test("q_skew_audit: top-key pick is a bounded TakeOrdered, never a single-task window") {
    // the skew DIAGNOSTIC must not itself be the skew: on a billion-key
    // column a global row_number window funnels every per-key count into
    // one task, where orderBy+limit(1) plans a per-partition heap
    val plan = planOf("q_skew_audit")
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      s"q_skew_audit must not rank through a window:\n$plan")
    assert(plan.toString.contains("TakeOrderedAndProject"),
      s"top-key pick must plan TakeOrderedAndProject:\n$plan")
  }

  test("q_abc / q_pareto: the only unpartitioned window runs over a bounded input") {
    // the round-15 bucket-threshold rewrites: per-entity/per-pair windows
    // must be PARTITIONED (parallel); exactly one unpartitioned window is
    // allowed and it must sit on a BOUNDED input — the ≤buckets-row
    // bucket aggregate
    for (name <- Seq("q_abc", "q_pareto")) {
      val plan = planOf(name)
      val unpart = plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(unpart.size == 1,
        s"$name: exactly one bucket-offset window expected:\n$plan")
      val feedsFromBucketAgg = unpart.head.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          if a.groupingExpressions.exists(_.toString.contains("_b")) => a
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec
          if a.groupingExpressions.exists(_.toString.contains("_b")) => a
      }.nonEmpty
      assert(feedsFromBucketAgg,
        s"$name: the unpartitioned window must read the per-bucket aggregate:\n${unpart.head}")
    }
  }

  test("q_collocations / q_cms_rollup / q_split_safe: no cartesian product anywhere") {
    for (name <- Seq("q_collocations", "q_cms_rollup", "q_split_safe", "q_hop_distance", "q_kcore", "q_hits")) {
      val plan = planOf(name)
      assert(plan.collect { case j: CartesianProductExec => j }.isEmpty, s"$name:\n$plan")
    }
  }
}
