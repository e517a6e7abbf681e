package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared expression helpers for deterministic, oracle-comparable output.
  *
  * Floating-point SUM/AVG over a shuffled dataset is order-dependent, so a
  * raw double aggregate can differ between Spark and DuckDB (and between two
  * Spark runs). We sum in exact decimal arithmetic and convert the final
  * value to double: `CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)` on both
  * engines gives bit-identical results regardless of partitioning/order.
  */
object Helpers {
  /** Order-independent exact sum of a double column, emitted as double.
    * Pick `scale` >= the decimal digits of the underlying values: a value
    * landing exactly halfway at the cast scale rounds differently across
    * engines (Spark HALF_UP vs DuckDB banker's-adjacent) — e.g. products of
    * three 2-decimal factors need scale 6, raw 2-decimal columns need 4.
    */
  def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Order-independent exact mean of a double column, emitted as double.
    * The division happens in DOUBLE (exact-decimal sum first, then cast) so
    * both engines divide the identical numerator — decimal-division scale
    * rules differ between engines, double division does not.
    * DuckDB equivalent: CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) / COUNT(x).
    */
  def davg(c: Column): Column =
    sum(c.cast(DecimalType(18, 4))).cast("double") / count(c)

  /** Spread a frame across the session's cores before per-row-expensive
    * work when the source scan under-splits AND carries enough data for
    * the exchange to pay for itself.
    *
    * A fixture-scale parquet file sits far below
    * `spark.sql.files.maxPartitionBytes` (128 MB) — often in ONE row
    * group, which even finer byte-splits cannot divide — so Spark plans a
    * single scan task and any compute-dense stage FUSED with that scan (a
    * decimal-heavy partial aggregate, shingling, per-doc regex ratios)
    * runs single-threaded no matter how many cores the session has
    * (q_corr_matrix read 4.1 s at local[32] with 31 idle cores). At
    * 100 TB the same scan yields thousands of splits and widening is pure
    * overhead, so the spread is doubly conditional:
    *   - planned partitions < scheduler slots (a wide scan passes through
    *     untouched — the no-op path real scale always takes), and
    *   - plan-statistics size >= `minBytes` (measured: round-robining a
    *     0.6 MB documents file cost more than the serialization it saved
    *     — shuffling full text is only worth it once the serial stage is
    *     seconds, not the exchange's fixed ~0.5 s).
    * Both checks are driver-side plan inspections, not jobs — the split
    * count comes from `GraftSqlBridge.plannedScanSplits` (a replay of
    * Spark's own file-split planning over the listed file sizes), NOT from
    * `df.rdd.getNumPartitions`, which would instantiate the full RDD
    * lineage on the driver per call. Frames whose width is not a narrow
    * function of file splits (any shuffle below, bucketed scan, non-file
    * leaf) report None and pass through untouched — post-exchange width is
    * config-sized and never under-split relative to the scheduler.
    */
  def spreadForCompute(df: DataFrame, minBytes: Long = 2L << 20): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    val underSplit = org.apache.spark.sql.GraftSqlBridge
      .plannedScanSplits(df).exists(_ < slots)
    if (underSplit &&
        df.queryExecution.optimizedPlan.stats.sizeInBytes >= minBytes)
      df.repartition(slots)
    else df
  }

  /** Shuffle width for a DATA-PROPORTIONAL exchange, derived from the
    * input's plan-statistics size: ~`bytesPerPart` of (on-disk-scale)
    * input per task, floored at the session's scheduler slots and capped
    * at a sanity ceiling. Round-10 sf10x survival attributed the two
    * super-linear rows (q_join_salted 25.2×, q_winnowing 12.9×) to their
    * shuffles being forced through the harness's fixed
    * shuffle.partitions=32 — at 256 they read 7.8× and 2.4× for 10× data.
    * This derives that width from the input instead of the deployment
    * knob: at fixture scale the byte term is far below one slot-width so
    * the session default wins (plans unchanged — the sf0.1 suite is
    * task-launch-bound and wider shuffles measured −12.8%); past ~100×
    * the width grows linearly with the data. Driver-side plan inspection
    * only (`optimizedPlan.stats`), no job. The 4 MB default is on-disk
    * parquet scale — roughly 15-25 MB of in-memory rows per task, far
    * under executor spill thresholds even after a skew-salting explode.
    */
  def shuffleWidthFor(df: DataFrame, bytesPerPart: Long = 4L << 20): Int = {
    require(bytesPerPart > 0)
    val slots = df.sparkSession.sparkContext.defaultParallelism
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // Plans with no computable statistics — LogicalRDD leaves
    // (localCheckpoint results), streaming sources — report the
    // `spark.sql.defaultSizeInBytes` sentinel (Long.MaxValue unless
    // overridden), not a size. Round-12 (from round-11 review): without
    // this check the byData term saturated at the 32769 cap, so a TINY
    // checkpointed input would have been shuffled into ~32K partitions.
    // Round-13 (from round-12 review): the root-size test alone is not
    // enough — a Project/Filter ABOVE a stats-free leaf multiplies the
    // sentinel by a selectivity/column ratio, landing below it while still
    // meaningless — so unknownness is ALSO detected structurally: any leaf
    // whose own stats report the sentinel poisons every derived size.
    // Unknown size ⇒ fall back to the slot floor, the same width a
    // stats-free session default would pick.
    val sentinel = BigInt(df.sparkSession.conf
      .get("spark.sql.defaultSizeInBytes", Long.MaxValue.toString))
    val statsFreeLeaf = df.queryExecution.optimizedPlan.collectLeaves()
      .exists(_.stats.sizeInBytes >= sentinel)
    if (size >= sentinel || statsFreeLeaf) slots
    else {
      val byData = (size / bytesPerPart).min(BigInt(1 << 15)).toInt + 1
      math.max(slots, byData)
    }
  }

  /** Filter by an expensive predicate evaluated EXACTLY ONCE per row.
    *
    * `df.filter(pred)` hands Catalyst a conjunction it will split into
    * independent predicates (and substitute through any projection), and
    * codegen's subexpression elimination is unsafe across short-circuit
    * branches — so a predicate whose conjuncts share an expensive
    * subexpression (the Gopher gate: tokenization appears in 5 of 7
    * conjuncts) re-scans the text once PER CONJUNCT. Measured at the 100×
    * corpus: ~26 s as a plain filter vs ~10 s evaluated once per row.
    *
    * Mechanics: the predicate is projected as a column next to a
    * non-deterministic barrier column, and the filter references BOTH —
    * `PushPredicateThroughNonJoin` only pushes a filter through a project
    * whose fields are all deterministic, and the reference keeps the
    * barrier from being pruned away (an unreferenced non-deterministic
    * column is dropped by ColumnPruning, which would re-enable the push).
    * `monotonically_increasing_id() >= 0` is vacuously true, so semantics
    * are exactly `df.filter(pred)`; everything still pipelines inside one
    * WholeStageCodegen span (scan → project-with-CSE → filter), nothing
    * is materialized. The price: predicates no longer push INTO the scan
    * — callers apply this to compute-dense gates whose conjuncts cannot
    * push anyway (regex over text), never to pushable range/equality
    * predicates.
    */
  def filterOnce(df: DataFrame, pred: Column): DataFrame = {
    val kept = df.columns
    // helper names must not collide with input columns (a frame already
    // carrying "_pred_once" would make the projection ambiguous and break
    // the final re-select) — suffix until both names are free
    val taken = kept.toSet
    def fresh(base: String): String =
      Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
        .find(!taken(_)).get
    val predCol = fresh("_pred_once")
    val barrierCol = fresh("_pred_barrier")
    df.select(col("*"), pred.as(predCol),
        monotonically_increasing_id().as(barrierCol))
      .filter(col(predCol) && col(barrierCol) >= 0)
      .select(kept.map(col): _*)
  }
}
