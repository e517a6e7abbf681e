package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` and `private[spark]` API, each
  * member a thin delegation to Spark's own helpers: Column ⇄ Expression
  * conversion for graft's native codegen expressions
  * (graft.functions.VectorExpressions), plan ⇒ DataFrame for custom plan
  * nodes, driver-side scan-split planning, and the session, cache and
  * listener-bus probes the specs use. This is the only
  * `org.apache.spark.sql`-packaged code in the project. Checkpoint
  * lifetime is not here: `graft.ops.Checkpoints` owns it through public
  * API alone.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a Catalyst logical plan back into a public DataFrame — the hook a
    * custom whole-operator node (graft.plans.TopKPerGroupPlan) needs to
    * enter a query from the DataFrame API. Delegates to
    * `classic.Dataset.ofRows`, which runs the normal analyzer/optimizer/
    * planner pipeline on the plan.
    */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Planned scan task count of a physical plan WITHOUT instantiating RDD
    * lineage — the driver-side check behind
    * `graft.ops.Helpers.spreadForCompute`.
    *
    * `df.rdd.getNumPartitions` answers the same question but builds the
    * whole RDD DAG on the driver (and, under AQE with exchanges below,
    * `AdaptiveSparkPlanExec.doExecute` would even materialize query
    * stages). This instead replays Spark's own file-split planning
    * (`FilePartition.maxSplitBytes` + `PartitionedFileUtil.splitFiles` +
    * `FilePartition.getFilePartitions` — exactly what
    * `FileSourceScanExec.createReadRDD` does) over the scan's file
    * listing: pure driver-side arithmetic over already-listed file sizes.
    *
    * Returns None when the width is not a narrow function of file splits —
    * any shuffle in the plan (post-exchange width is config-sized, never
    * under-split relative to it), a bucketed scan, or a non-file leaf
    * (local relation, DSv2). Callers treat None as "already wide enough".
    */
  def plannedScanSplits(df: Dataset[_]): Option[Int] = {
    import org.apache.spark.sql.execution.{FileSourceScanLike, PartitionedFileUtil}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    if (plan.exists(_.isInstanceOf[ShuffleExchangeLike])) None
    else {
      val leaves = plan.collectLeaves()
      val scans = leaves.collect { case f: FileSourceScanLike => f }
      if (scans.length != leaves.length || scans.isEmpty ||
          scans.exists(_.bucketedScan)) None
      else Some(scans.map { scan =>
        // selectedPartitions, not dynamicallySelectedPartitions: runtime
        // (DPP) filters haven't arrived pre-execution, and the dynamic
        // variant is protected — static pruning is the planning-time truth
        val listing = scan.selectedPartitions
        val maxSplit = FilePartition.maxSplitBytes(session, listing)
        val splits = listing.filePartitionIterator.flatMap { lp =>
          lp.files.flatMap { f =>
            val splitable = scan.relation.fileFormat.isSplitable(
              session, scan.relation.options, f.getPath)
            PartitionedFileUtil.splitFiles(f, f.getPath, splitable, maxSplit, lp.values)
          }
        }.toSeq
        FilePartition.getFilePartitions(session, splits, maxSplit).length
      }.sum)
    }
  }

  /** Whether the session's shared CacheManager holds NO live SQL cache
    * entries — specs assert an operator leaves no cache entry behind.
    */
  def sqlCacheIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** Drop every SQL cache entry (test isolation for cache-hygiene specs). */
  def clearSqlCache(spark: SparkSession): Unit =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.clearCache()

  /** Block until the listener bus has delivered every event posted so far
    * (`LiveListenerBus.waitUntilEmpty` is `private[spark]`), so a listener
    * has seen every job started before the call — specs count jobs with it.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Stable per-session identity as a plain String (holds no session
    * reference) — `SparkSession.sessionUUID` is `private[sql]`, and
    * graft.core.Tables needs it as a retention key that cannot itself keep
    * the session alive.
    */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID
}
