package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

class StatsSpec extends SparkSpec {

  test("corrMatrix: perfect linear dependence = ±1, constant column = null, matches local Pearson") {
    val spark2 = spark
    import spark2.implicits._
    val xs = Seq(1.0, 2.0, 3.0, 4.0, 5.0)
    val df = xs.map(x => (x, 2.0 * x + 1.0, -3.0 * x, 7.0, x * x))
      .toDF("x", "lin", "neg", "const", "sq")
    val out = Stats.corrMatrix(df, Seq("x", "lin", "neg", "const", "sq"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(math.abs(out(("x", "lin")).getDouble(3) - 1.0) < 1e-12)
    assert(math.abs(out(("x", "neg")).getDouble(3) + 1.0) < 1e-12)
    assert(out(("x", "const")).isNullAt(3), "constant column has no correlation")
    // local reference for the nonlinear pair
    val ys = xs.map(x => x * x)
    val n = xs.length.toDouble
    val r = (n * xs.zip(ys).map { case (a, b) => a * b }.sum - xs.sum * ys.sum) /
      math.sqrt((n * xs.map(a => a * a).sum - xs.sum * xs.sum) *
        (n * ys.map(b => b * b).sum - ys.sum * ys.sum))
    assert(math.abs(out(("x", "sq")).getDouble(3) - r) < 1e-12)
    assert(out.values.forall(_.getLong(2) == 5L))
  }

  test("corrMatrix: one aggregate pass and one scan; only the compute-spread exchange beyond it") {
    val df = graft.core.Tables.lineitem(spark, sfDir)
    val plan = Stats.corrMatrix(df, Seq("l_quantity", "l_extendedprice", "l_discount"))
      .queryExecution.executedPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def collectAll[T](pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] =
      plan.collect(pf) ++ (plan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.collect(pf)
        case _ => Nil
      })
    // one scan (no per-pair re-read), one partial+final aggregate pass.
    // Exchanges: the single-partition gather for the global aggregate, plus
    // at most one round-robin spread when the scan under-splits
    // (Helpers.spreadForCompute) — and nothing else.
    val scans = collectAll { case s: FileSourceScanExec => s }
    assert(scans.size <= 1, s"corrMatrix must scan once:\n$plan")
    val shuffles = collectAll { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 2, s"corrMatrix must be one aggregation pass (+ optional spread):\n$plan")
    assert(shuffles.count(!_.shuffleOrigin.toString.startsWith("REPARTITION")) <= 1,
      s"only the compute-spread may add an exchange beyond the aggregate gather:\n$plan")
  }

  test("spreadForCompute: widens an under-split scan to the scheduler's slots; size-gated; wide no-op") {
    val slots = spark.sparkContext.defaultParallelism
    val narrow = graft.core.Tables.lineitem(spark, sfDir) // one parquet split at fixture scale
    assert(narrow.rdd.getNumPartitions < slots, "fixture precondition: scan under-splits")
    assert(Helpers.spreadForCompute(narrow, minBytes = 0L).rdd.getNumPartitions == slots)
    // the smoke-SF file sits under the default 2 MB floor: the size gate
    // must refuse the exchange (shuffling a tiny corpus costs more than
    // the serialization it saves — measured on the curation family)
    assert(Helpers.spreadForCompute(narrow) eq narrow, "size gate must skip a tiny scan")
    val wide = narrow.repartition(slots * 2)
    assert(Helpers.spreadForCompute(wide, minBytes = 0L) eq wide,
      "already-wide frame must pass through untouched")
  }

  test("shuffleWidthFor: data-proportional on sized plans; slot fallback on the no-stats sentinel") {
    val slots = spark.sparkContext.defaultParallelism
    val scan = graft.core.Tables.lineitem(spark, sfDir)
    // a file scan carries real size stats: at 1 byte/part the byData term
    // dominates the slot floor (and is capped, not unbounded)
    val wide = Helpers.shuffleWidthFor(scan, bytesPerPart = 1L)
    assert(wide > slots && wide <= (1 << 15) + 1, s"expected data-driven width, got $wide")
    // at the default 4 MB/part a fixture-scale input stays at the slot floor
    assert(Helpers.shuffleWidthFor(scan) == slots)
    // round-12 (from round-11 review): a stats-free LogicalRDD leaf (a
    // frame built over an external RDD; Spark-4 localCheckpoint now carries
    // origin stats, external RDDs still don't) reports the
    // spark.sql.defaultSizeInBytes sentinel (Long.MaxValue), not a size —
    // before the sentinel check a TINY such frame saturated byData at the
    // 32769 cap and would have been shuffled into ~32K partitions. Unknown
    // stats must fall back to the slot floor.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val rdd = spark.sparkContext.parallelize(Seq(Row(1L, 1L), Row(2L, 2L)), 1)
    val statless = spark.createDataFrame(rdd, StructType(
      Seq(StructField("id", LongType), StructField("pad", LongType))))
    val size = statless.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size >= BigInt(Long.MaxValue), // precondition: this leaf really is stats-free
      s"external-RDD frame now reports real stats ($size) — rework the sentinel fixture")
    assert(Helpers.shuffleWidthFor(statless, bytesPerPart = 1L) == slots,
      "sentinel-sized plan must take the slot fallback, not the 32K cap")
    // round-13 (from round-12 review): a Project/Filter ABOVE a stats-free
    // leaf multiplies the sentinel by a selectivity/column ratio, landing
    // below it while still meaningless — the structural leaf check must
    // catch the derived plan too
    // projecting one of two equal-width columns halves the propagated size:
    // the root lands at ~sentinel/2, below the raw sentinel test
    val derived = statless.filter(col("id") > 0).select((col("id") * 2).as("id2"))
    val dsize = derived.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(dsize < BigInt(Long.MaxValue), // precondition: root size alone would NOT trip the sentinel
      s"derived plan still reports the raw sentinel ($dsize) — fixture no longer exercises the leaf check")
    assert(Helpers.shuffleWidthFor(derived, bytesPerPart = 1L) == slots,
      "plan derived from a stats-free leaf must take the slot fallback")
  }

  test("iqrOutliers: hand-computed fences on a small group; clean group reports zero") {
    val spark2 = spark
    import spark2.implicits._
    // group a: values 1..9 plus outlier 100 -> Q1=3.25, Q3=7.75, IQR=4.5,
    // fences [-3.5, 14.5] -> exactly one outlier
    val a = (1 to 9).map(v => ("a", v.toDouble)) :+ (("a", 100.0))
    val b = (1 to 4).map(v => ("b", v.toDouble))
    val df = (a ++ b).toDF("g", "v")
    val out = Stats.iqrOutliers(df, "v", "g").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("a")._3 == 1L && out("a")._4 == 10L, s"one planted outlier: ${out("a")}")
    assert(out("b")._3 == 0L && out("b")._4 == 4L)
    // interpolated quartiles for 1..9,100: Q1 at rank 3.25 -> 3.25
    assert(math.abs(out("a")._1 - 3.25) < 1e-9)
  }

  test("winsorizedStats: closed form — tail clamps to the fences, means exact") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.types.DecimalType
    // group 'a': 1,2,3,4,100 with [0.0, 0.8] fences: p0 = 1, p80 at rank
    // (n-1)*0.8 = 3.2 -> 4 + 0.2*(100-4) = 23.2; clamp 100 -> 23.20;
    // raw mean 22, winsorized (1+2+3+4+23.2)/5 = 6.64, one clamped row
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 100.0))
      .toDF("g", "v0").select(col("g"), col("v0").cast(DecimalType(15, 2)).as("v"))
    val r = Stats.winsorizedStats(df, "v", "g", lo = 0.0, hi = 0.8).collect().head
    assert(r.getString(0) == "a" && r.getLong(1) == 5L && r.getLong(2) == 1L)
    assert(r.getDouble(3) == 22.0, s"raw mean: ${r.getDouble(3)}")
    assert(r.getDouble(4) == 6.64, s"winsorized mean: ${r.getDouble(4)}")
    assert(r.getDouble(5) == 1.0 && r.getDouble(6) == 23.2)
    // bit-identical under repartitioning (the exact-decimal-sum contract)
    val b = Stats.winsorizedStats(df.repartition(7), "v", "g", 0.0, 0.8).collect().head
    assert(r.toSeq == b.toSeq)
    intercept[IllegalArgumentException](Stats.winsorizedStats(df, "v", "g", 0.9, 0.1))
  }

  test("madOutliers: closed-form median/MAD, the hub outlier flags, inliers don't") {
    val spark2 = spark
    import spark2.implicits._
    // values 1..9 plus one gross outlier: median = 5.5, |dev| sorted
    // (.5,.5,1.5,1.5,2.5,2.5,3.5,3.5,4.5,94.5) => MAD = 2.5;
    // fence 3 * 1.4826 * 2.5 = 11.1195 flags exactly the 100.0
    val df = ((1 to 9).map(_.toDouble) :+ 100.0).map(("g", _)).toDF("g", "v")
    val out = Stats.madOutliers(df, "v", "g").collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_rows") == 10L)
    assert(r.getAs[Long]("n_outliers") == 1L)
    assert(r.getAs[Double]("median") == 5.5)
    assert(r.getAs[Double]("mad") == 2.5)
    // a plain 3-sigma z-score would MISS this outlier's masking sibling:
    // MAD's fence is immune to the outlier inflating the spread estimate —
    // with a second group of all-equal values, any deviation flags
    val df2 = Seq(("h", 1.0), ("h", 1.0), ("h", 1.0), ("h", 2.0)).toDF("g", "v")
    val r2 = Stats.madOutliers(df2, "v", "g").collect().head
    assert(r2.getAs[Double]("mad") == 0.0 && r2.getAs[Long]("n_outliers") == 1L,
      "zero MAD: every deviation from the median flags")
    intercept[IllegalArgumentException](Stats.madOutliers(df, "v", "g", k = 0.0))
  }

  test("psiDrift: baseline period scores 0; identical mix scores 0; a category swap drifts; absent category stays finite") {
    val spark2 = spark
    import spark2.implicits._
    val rows =
      Seq.fill(50)((1L, "a")) ++ Seq.fill(50)((1L, "b")) ++ // baseline: 50/50
      Seq.fill(50)((2L, "a")) ++ Seq.fill(50)((2L, "b")) ++ // same mix
      Seq.fill(100)((3L, "a"))                              // b vanished
    val df = rows.toDF("p", "cat")
    val out = Stats.psiDrift(df, "cat", col("p")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Double]("psi") == 0.0 && !out(1L).getAs[Boolean]("drifted"),
      "the baseline compared to itself is exactly 0")
    assert(out(2L).getAs[Double]("psi") == 0.0, "identical mix = no drift")
    val p3 = out(3L)
    assert(p3.getAs[Double]("psi") > 0.25 && p3.getAs[Boolean]("drifted"),
      s"a vanished category is gross drift: $p3")
    assert(!p3.getAs[Double]("psi").isInfinite && !p3.getAs[Double]("psi").isNaN,
      "Laplace smoothing keeps absent categories finite")
    assert(out.values.forall(_.getAs[Long]("n_rows") == 100L))
    // hand-check period 3 against the smoothed closed form:
    // p_a=101/102, p_b=1/102 vs b_a=51/102, b_b=51/102
    val (pa, pb, ba) = (101.0 / 102, 1.0 / 102, 51.0 / 102)
    def t9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val want = BigDecimal((t9((pa - ba) * math.log(pa / ba)) +
      t9((pb - ba) * math.log(pb / ba))).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(p3.getAs[Double]("psi") == want)
  }

  test("giniByGroup: 0 for equal shares, (n-1)/n for total concentration, deterministic ties") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      ("eq", 1L, 5.0), ("eq", 2L, 5.0), ("eq", 3L, 5.0), ("eq", 4L, 5.0),
      ("conc", 1L, 0.0), ("conc", 2L, 0.0), ("conc", 3L, 0.0), ("conc", 4L, 10.0),
      ("zero", 1L, 0.0), ("zero", 2L, 0.0)
    ).toDF("grp", "id", "v")
    val out = Stats.giniByGroup(df, "v", "grp", "id").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("eq").getAs[Double]("gini") == 0.0)
    assert(out("eq").getAs[Long]("n_entities") == 4L)
    assert(out("eq").getAs[Double]("total_value") == 20.0)
    // one entity holds everything: G = (n-1)/n = 0.75
    assert(out("conc").getAs[Double]("gini") == 0.75)
    // all-zero group: defined as 0, not a division error
    assert(out("zero").getAs[Double]("gini") == 0.0)
  }

  test("benfordAudit: digit extraction (incl. sub-1 values), exclusions, grid completion") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(123.45, 0.00123, -5.0, 0.0, 999.0, 1.5, 20.0).toDF("v")
    val out = Stats.benfordAudit(df, "v").collect()
    assert(out.length == 9, "always a complete 1..9 grid")
    val byDigit = out.map(r => r.getString(0) -> r).toMap
    // kept values: 123.45, 0.00123, 999.0, 1.5, 20.0 (zero/negative excluded)
    assert(byDigit("1").getAs[Long]("n_values") == 3L) // 123.45, 0.00123, 1.5
    assert(byDigit("2").getAs[Long]("n_values") == 1L)
    assert(byDigit("9").getAs[Long]("n_values") == 1L)
    assert(byDigit("3").getAs[Long]("n_values") == 0L)
    assert(byDigit("1").getAs[Double]("obs_share") == 0.6)
    // expected shares are the rounded Benford masses and sum to ~1
    assert(byDigit("1").getAs[Double]("exp_share") == 0.30103)
    val expSum = out.map(_.getAs[Double]("exp_share")).sum
    assert(math.abs(expSum - 1.0) < 1e-4)
    // zero-count digit's chi2 term is exactly t*p (from identical operands)
    val t = 5.0
    val p3 = byDigit("3").getAs[Double]("exp_share")
    assert(byDigit("3").getAs[Double]("chi2_term") ==
      BigDecimal(t * p3).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("acf: alternating series -> known r_k, constant series -> null, n_pairs = n-k") {
    val spark2 = spark
    import spark2.implicits._
    val alt = (1 to 8).map(d => (d, if (d % 2 == 0) 10.0 else 0.0)).toDF("day", "v")
    val out = Stats.acf(alt, col("day"), col("v"), maxLag = 3).collect()
      .map(r => r.getLong(0) -> r).toMap
    // mean 5, deviations ±5: r1 = -175/200, r2 = 150/200, r3 = -125/200
    assert(out(1L).getAs[Double]("r") == -0.875)
    assert(out(2L).getAs[Double]("r") == 0.75)
    assert(out(3L).getAs[Double]("r") == -0.625)
    assert((1 to 3).forall(k => out(k.toLong).getAs[Long]("n_pairs") == 8L - k))
    val const = (1 to 6).map(d => (d, 7.0)).toDF("day", "v")
    val cOut = Stats.acf(const, col("day"), col("v"), maxLag = 2).collect()
    assert(cOut.forall(_.isNullAt(2)), "zero-variance series has no defined ACF")
  }

  test("paretoFrontier: definitional dominance, duplicate multiplicity, equal-x collapse") {
    val spark2 = spark
    import spark2.implicits._
    // minimize x, maximize y
    val df = Seq((1.0, 1), (2.0, 3), (3.0, 2), (2.0, 3), (1.0, 0))
      .toDF("x", "y")
    val out = Stats.paretoFrontier(df, "x", "y").collect()
      .map(r => (r.getDouble(0), r.getInt(1), r.getLong(2)))
    // (3,2) dominated by (2,3); (1,0) dominated by (1,1); (2,3) kept with n=2
    assert(out.toSeq == Seq((1.0, 1, 1L), (2.0, 3, 2L)))
  }

  /** The naive single-window skyline — the obviously-correct form
    * `Stats.paretoFrontier`'s bucketed plan is spec-checked against. */
  private def paretoFrontierNaive(df: DataFrame, xCol: String,
                                  yCol: String): DataFrame = {
    val pts = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("n_rows"))
    val w = Window.orderBy(col("x").asc, col("y").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    pts.withColumn("_prevMax", max(col("y")).over(w))
      .filter(col("_prevMax").isNull || col("y") > col("_prevMax"))
      .select(col("x"), col("y"), col("n_rows"))
      .orderBy("x")
  }

  test("paretoFrontier: bucketed plan ≡ naive window ≡ NOT EXISTS on multi-partition fixtures") {
    val spark2 = spark
    import spark2.implicits._
    def sameAs(df: org.apache.spark.sql.DataFrame, xc: String, yc: String,
               buckets: Int): Unit = {
      val fast = Stats.paretoFrontier(df, xc, yc, buckets).collect().toSeq
      val naive = paretoFrontierNaive(df, xc, yc).collect().toSeq
      assert(fast == naive, s"buckets=$buckets fast=$fast naive=$naive")
      // definitional check: nothing in the output is dominated, nothing
      // outside it is non-dominated
      val pts = df.filter(col(xc).isNotNull && col(yc).isNotNull)
        .groupBy(col(xc).as("x"), col(yc).as("y")).count()
        .collect().map(r => (r.getDouble(0), r.getInt(1))).toSet
      val frontier = pts.filter { case (x, y) => !pts.exists { case (x2, y2) =>
        x2 <= x && y2 >= y && (x2 < x || y2 > y) } }
      assert(fast.map(r => (r.getDouble(0), r.getInt(1))).toSet == frontier)
    }
    val rnd = new scala.util.Random(11)
    val random = Seq.fill(500)((rnd.nextInt(40).toDouble, rnd.nextInt(40)))
      .toDF("x", "y").repartition(7)
    for (b <- Seq(1, 3, 10000)) sameAs(random, "x", "y", b)
    // staircase: EVERYTHING is on the frontier
    val stairs = (1 to 100).map(i => (i.toDouble, 1000 - i)).toDF("x", "y").repartition(5)
    sameAs(stairs, "x", "y", 7)
    // degenerate domains: all x equal (one bucket), all y equal, one point
    sameAs(Seq((1.0, 1), (1.0, 2), (1.0, 3)).toDF("x", "y"), "x", "y", 100)
    sameAs(Seq((1.0, 5), (2.0, 5), (3.0, 5)).toDF("x", "y"), "x", "y", 100)
    sameAs(Seq((4.0, 4)).toDF("x", "y"), "x", "y", 100)
    // null rows are excluded on both paths
    sameAs(Seq((1.0, Some(1)), (0.5, None), (2.0, Some(3))).toDF("x", "y"), "x", "y", 16)
  }

  /** The ranked single-window form — the obviously-correct shape
    * `Stats.abcClasses`' bucket-threshold plan (at its default 0.8 / 0.95
    * shares) is spec-checked against, and the shape the oracle replays. */
  private def abcClassesNaive(entities: DataFrame, valueCol: String,
                              idCol: String): DataFrame = {
    val v = col(valueCol).cast(DecimalType(20, 6))
    val tot = entities.agg(sum(v).as("_tot"))
    val ranked = entities.select(col(idCol), col(valueCol))
      .withColumn("_v", v)
      .withColumn("_cum", sum(col("_v")).over(
        Window.orderBy(col(valueCol).desc, col(idCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
      .withColumn("_share",
        round(col("_cum").cast("double") / col("_tot").cast("double"), 9))
      .withColumn("abc_class",
        when(col("_share") <= 0.8, "A")
          .when(col("_share") <= 0.95, "B").otherwise("C"))
    ranked.groupBy("abc_class")
      .agg(count(lit(1)).as("n_entities"),
        round(sum(col("_v")).cast("double"), 2).as("class_value"),
        round(sum(col("_v")).cast("double")
          / max(col("_tot")).cast("double"), 6).as("class_share"))
      .orderBy("abc_class")
  }

  test("abcClasses: bucket-threshold closed form ≡ naive ranked window, degenerate shapes included") {
    val spark2 = spark
    import spark2.implicits._
    def sameAs(df: org.apache.spark.sql.DataFrame, buckets: Int): Unit = {
      val fast = Stats.abcClasses(df, "v", "id", buckets = buckets).collect().toSeq
      val naive = abcClassesNaive(df, "v", "id").collect().toSeq
      assert(fast == naive, s"buckets=$buckets\nfast=$fast\nnaive=$naive")
    }
    val rnd = new scala.util.Random(13)
    // heavy ties ACROSS the class boundaries: few distinct values, many
    // entities per value — the closed-form split must cut inside a group
    val ties = (1 to 300).map(i => (i.toLong, (rnd.nextInt(4) + 1).toDouble))
      .toDF("id", "v").repartition(9)
    for (b <- Seq(1, 2, 50, 10000)) sameAs(ties, b)
    // spread values, exact boundary landing (80/15/5 by construction)
    sameAs(Seq((1L, 80.0), (2L, 15.0), (3L, 5.0)).toDF("id", "v"), 10)
    // single value for the whole corpus (one bucket, one group)
    sameAs((1 to 50).map(i => (i.toLong, 2.5)).toDF("id", "v"), 100)
    // zero-valued tail and a null entity (both land in C, value 0)
    sameAs((Seq((1L, Some(10.0)), (2L, Some(0.0)), (3L, Some(0.0)),
      (4L, Option.empty[Double]))).toDF("id", "v"), 8)
    // zipf-ish spread across many buckets
    val zipf = (1 to 500).map(i => (i.toLong, 1000.0 / i)).toDF("id", "v").repartition(7)
    for (b <- Seq(3, 10000)) sameAs(zipf, b)
    // extreme value-to-total ratio (r16, from the r15 ADVICE): a group
    // whose value is ~1e-18 of the corpus total (DECIMAL(20,6) micro
    // values under a 14-digit head) — the regime where the old
    // double-derived boundary estimate's error (~(tot/v)·2^-53) escaped
    // any fixed probe window; the binary search on the exact sOf must
    // still agree with the ranked form bit-for-bit
    val micro = ((1L, 1e12) +: (2 to 12).map(i => (i.toLong, 1e-6)))
      .toDF("id", "v").repartition(3)
    for (b <- Seq(1, 7, 10000)) sameAs(micro, b)
    // same regime with the boundary inside the micro group's share band
    val microMid = ((1L, 5e10) +: (2 to 40).map(i => (i.toLong, 1e-6)))
      .toDF("id", "v")
    sameAs(microMid, 100)
    // negative values fail loudly, naming the operator
    val e = intercept[Exception] {
      Stats.abcClasses(Seq((1L, -1.0)).toDF("id", "v"), "v", "id").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("abcClasses")), s"$e")
  }

  test("mannWhitneyU: hand-computed U, tie-corrected z, path equality, degenerate guards") {
    val spark2 = spark
    import spark2.implicits._
    // disjoint cohorts: A = {1,2,3} < B = {4,5,6} -> U_A = 0, U_B = 9,
    // z = -4.5/sqrt(3·3·7/12) = -1.964 (just past 1.96)
    val d1 = (Seq(1, 2, 3).map((true, _)) ++ Seq(4, 5, 6).map((false, _))).toDF("g", "v")
    val r1 = Stats.mannWhitneyU(d1, col("g"), "v").collect().head
    assert(r1.getAs[Double]("u_a") == 0.0 && r1.getAs[Double]("u_b") == 9.0)
    assert(r1.getAs[Double]("z") == -1.964 && r1.getAs[Boolean]("significant"))
    // ties: A = {1,1}, B = {1,2} -> tie-averaged rank 2 for the 1s,
    // U_A = 1, sigma^2 = (4/12)·(5 - 24/12) = 1, z = -1
    val d2 = Seq((true, 1), (true, 1), (false, 1), (false, 2)).toDF("g", "v")
    val r2 = Stats.mannWhitneyU(d2, col("g"), "v").collect().head
    assert(r2.getAs[Double]("u_a") == 1.0 && r2.getAs[Double]("z") == -1.0)
    assert(!r2.getAs[Boolean]("significant"))
    // one bucket (one within-bucket window) equals the default bucket
    // composition
    val rnd = new scala.util.Random(17)
    val big = Seq.fill(2000)((rnd.nextBoolean(), rnd.nextInt(300))).toDF("g", "v")
      .repartition(7)
    assert(Stats.mannWhitneyU(big, col("g"), "v", buckets = 1).collect().toSeq ==
      Stats.mannWhitneyU(big, col("g"), "v").collect().toSeq)
    // degenerate: empty cohort and all-tied values -> null z, false flag
    val oneSide = Seq((true, 1), (true, 2)).toDF("g", "v")
    val r3 = Stats.mannWhitneyU(oneSide, col("g"), "v").collect().head
    assert(r3.isNullAt(r3.fieldIndex("z")) && !r3.getAs[Boolean]("significant"))
    val allTied = Seq((true, 7), (false, 7), (false, 7)).toDF("g", "v")
    val r4 = Stats.mannWhitneyU(allTied, col("g"), "v").collect().head
    assert(r4.isNullAt(r4.fieldIndex("z")) && !r4.getAs[Boolean]("significant"))
  }

  test("mannWhitneyUBy/ksTestBy: each slice replays the ungrouped test; degenerate slices null out") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(23)
    // three slices with different shapes + one degenerate (single-cohort)
    // slice + a null dimension row (must be excluded)
    val rows = Seq.fill(900) {
      val s = Seq("s1", "s2", "s3")(rnd.nextInt(3))
      (Some(s), rnd.nextBoolean(), rnd.nextInt(40))
    } ++ Seq.fill(5)((Some("s4"), true, rnd.nextInt(10))) ++
      Seq((Option.empty[String], true, 1))
    val df = rows.toDF("dim", "g", "v").repartition(7)
    def key(r: org.apache.spark.sql.Row) = r.getString(0)
    val mwBy = Stats.mannWhitneyUBy(df, "dim", col("g"), "v").collect()
    val ksBy = Stats.ksTestBy(df, "dim", col("g"), "v").collect()
    assert(mwBy.map(key).toSeq == Seq("s1", "s2", "s3", "s4"))
    assert(ksBy.map(key).toSeq == Seq("s1", "s2", "s3", "s4"))
    // slice-by-slice parity with the ungrouped operators
    for (s <- Seq("s1", "s2", "s3", "s4")) {
      val slice = df.filter(col("dim") === s)
      val mw = Stats.mannWhitneyU(slice, col("g"), "v").collect().head
      val mwG = mwBy.find(key(_) == s).get
      assert(mwG.toSeq.drop(1) == mw.toSeq, s"MW slice $s: $mwG vs $mw")
      val ks = Stats.ksTest(slice, col("g"), "v").collect().head
      val ksG = ksBy.find(key(_) == s).get
      assert(ksG.toSeq.drop(1) == ks.toSeq, s"KS slice $s: $ksG vs $ks")
    }
    // the single-cohort slice is the degenerate row: null z / d, false flag
    val s4 = mwBy.find(key(_) == "s4").get
    assert(s4.isNullAt(s4.fieldIndex("z")) && !s4.getAs[Boolean]("significant"))
    // the partitioned engine is bucket-count invariant
    assert(Stats.mannWhitneyUBy(df, "dim", col("g"), "v", buckets = 1)
      .collect().toSeq == mwBy.toSeq)
    assert(Stats.ksTestBy(df, "dim", col("g"), "v", buckets = 1)
      .collect().toSeq == ksBy.toSeq)
  }

  test("kruskalWallis: hand-computed H, tie correction, degenerate guards, path equality") {
    val spark2 = spark
    import spark2.implicits._
    // three disjoint groups {1,2,3},{4,5,6},{7,8,9}: all ranks distinct,
    // R = (6, 15, 24), H = 12/90·(12+75+192) − 30 = 7.2; df=2,
    // Wilson-Hilferty crit = 2·(1 − 1/9 + 1.645·√(1/4.5))³ ≈ 5.94 → significant
    val d1 = (Seq(1, 2, 3).map(("a", _)) ++ Seq(4, 5, 6).map(("b", _)) ++
      Seq(7, 8, 9).map(("c", _))).toDF("g", "v")
    val r1 = Stats.kruskalWallis(d1, "g", "v").collect().head
    assert(r1.getAs[Long]("n") == 9 && r1.getAs[Long]("n_groups") == 3)
    assert(r1.getAs[Double]("h") == 7.2, s"got ${r1.getAs[Double]("h")}")
    assert(r1.getAs[Double]("h_crit") > 5.9 && r1.getAs[Double]("h_crit") < 6.0)
    assert(r1.getAs[Boolean]("significant"))
    // identical groups: H = 0 after tie correction, never significant
    val d2 = (Seq(1, 2).map(("a", _)) ++ Seq(1, 2).map(("b", _))).toDF("g", "v")
    val r2 = Stats.kruskalWallis(d2, "g", "v").collect().head
    assert(r2.getAs[Double]("h") == 0.0 && !r2.getAs[Boolean]("significant"))
    // degenerate: single group / all values tied -> null h, false flag
    val one = Seq(("a", 1), ("a", 2)).toDF("g", "v")
    val r3 = Stats.kruskalWallis(one, "g", "v").collect().head
    assert(r3.isNullAt(r3.fieldIndex("h")) && !r3.getAs[Boolean]("significant"))
    val tied = Seq(("a", 5), ("b", 5), ("c", 5)).toDF("g", "v")
    val r4 = Stats.kruskalWallis(tied, "g", "v").collect().head
    assert(r4.isNullAt(r4.fieldIndex("h")) && !r4.getAs[Boolean]("significant"))
    // two-group KW ≡ the Mann-Whitney decision on the same data (H = z²
    // asymptotically; here just check bucket-count invariance)
    val rnd = new scala.util.Random(29)
    val big = Seq.fill(2500)((Seq("a", "b", "c")(rnd.nextInt(3)), rnd.nextInt(200)))
      .toDF("g", "v").repartition(7)
    assert(Stats.kruskalWallis(big, "g", "v", buckets = 1).collect().toSeq ==
      Stats.kruskalWallis(big, "g", "v").collect().toSeq)
  }

  test("spearmanCorr: ±1 on monotone data, hand tie case, degenerate guards, path equality") {
    val spark2 = spark
    import spark2.implicits._
    // strictly increasing monotone (nonlinear): ρ = 1 exactly
    val mono = (1 to 20).map(i => (i.toDouble, (i * i).toDouble)).toDF("x", "y")
    val r1 = Stats.spearmanCorr(mono, "x", "y").collect().head
    assert(r1.getAs[Double]("rho") == 1.0)
    // the Fisher z is undefined at |ρ| = 1 -> null z, false flag
    assert(r1.isNullAt(r1.fieldIndex("z")) && !r1.getAs[Boolean]("significant"))
    // strictly decreasing: ρ = -1
    val anti = (1 to 20).map(i => (i.toDouble, -i.toDouble)).toDF("x", "y")
    assert(Stats.spearmanCorr(anti, "x", "y").collect().head.getAs[Double]("rho") == -1.0)
    // hand tie case: x = (1,2,2,3), y = (1,2,3,4): 2rx = (2,5,5,8),
    // 2ry = (2,4,6,8) -> num = 4·118 − 20·20 = 72, varX = 72, varY = 80,
    // rho = 72/√(72·80) = √0.9 ≈ 0.948683
    val ties = Seq((1, 1), (2, 2), (2, 3), (3, 4)).toDF("x", "y")
    val rt = Stats.spearmanCorr(ties, "x", "y").collect().head
    assert(math.abs(rt.getAs[Double]("rho") - 0.948683) < 1e-6, s"$rt")
    // constant column -> zero variance -> null rho
    val const = (1 to 5).map(i => (i, 7)).toDF("x", "y")
    val rc = Stats.spearmanCorr(const, "x", "y").collect().head
    assert(rc.isNullAt(rc.fieldIndex("rho")) && !rc.getAs[Boolean]("significant"))
    // independent noise: |rho| small, one bucket ≡ the default buckets
    val rnd = new scala.util.Random(31)
    val big = Seq.fill(3000)((rnd.nextInt(500), rnd.nextInt(500))).toDF("x", "y")
      .repartition(5)
    val a = Stats.spearmanCorr(big, "x", "y").collect().toSeq
    assert(Stats.spearmanCorr(big, "x", "y", buckets = 1).collect().toSeq == a)
    assert(math.abs(a.head.getAs[Double]("rho")) < 0.1)
  }

  test("ksTest: exact D from cross-multiplied ECDFs, path equality, null-value exclusion") {
    val spark2 = spark
    import spark2.implicits._
    // fully separated cohorts: D = 1; threshold 1.358·sqrt(20/100) = 0.6073
    val d1 = ((1 to 10).map(i => (true, i)) ++ (11 to 20).map(i => (false, i)))
      .toDF("g", "v")
    val r1 = Stats.ksTest(d1, col("g"), "v").collect().head
    assert(r1.getAs[Double]("d") == 1.0)
    assert(r1.getAs[Double]("threshold") == 0.607316)
    assert(r1.getAs[Boolean]("significant"))
    // identical cohorts: D = 0, not significant
    val d2 = ((1 to 5).map(i => (true, i)) ++ (1 to 5).map(i => (false, i))).toDF("g", "v")
    val r2 = Stats.ksTest(d2, col("g"), "v").collect().head
    assert(r2.getAs[Double]("d") == 0.0 && !r2.getAs[Boolean]("significant"))
    // null values drop on both engines' semantics; one bucket ≡ default
    val rnd = new scala.util.Random(19)
    val big = (Seq.fill(2000)((rnd.nextBoolean(), Some(rnd.nextInt(300)))) ++
      Seq((true, Option.empty[Int]))).toDF("g", "v").repartition(5)
    assert(Stats.ksTest(big, col("g"), "v", buckets = 1).collect().toSeq ==
      Stats.ksTest(big, col("g"), "v").collect().toSeq)
  }

  test("chiSquareIndependence: zero under independence, n·min-dim under perfect association") {
    val spark2 = spark
    import spark2.implicits._
    val indep = (for { a <- Seq("x", "y"); b <- Seq("p", "q"); _ <- 1 to 10 }
      yield (a, b)).toDF("a", "b")
    val r1 = Stats.chiSquareIndependence(indep, "a", "b").collect().head
    assert(r1.getAs[Double]("chi2") == 0.0 && r1.getAs[Double]("cramers_v") == 0.0)
    assert(r1.getAs[Long]("dof") == 1L && r1.getAs[Long]("n_rows") == 40L)
    val assoc = (Seq.fill(10)(("x", "p")) ++ Seq.fill(10)(("y", "q"))).toDF("a", "b")
    val r2 = Stats.chiSquareIndependence(assoc, "a", "b").collect().head
    assert(r2.getAs[Double]("chi2") == 20.0, "chi2 = n under perfect 2x2 association")
    assert(r2.getAs[Double]("cramers_v") == 1.0)
    // cardinality contract fails loudly
    val wide = (1 to 100).map(i => (s"a$i", s"b$i")).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      Stats.chiSquareIndependence(wide, "a", "b", maxCells = 50)
    }
    assert(e.getMessage.contains("chiSquareIndependence"))
  }

  test("theilIndex: zero at equality, hand value for {1,3}, negative fails loudly") {
    val spark2 = spark
    import spark2.implicits._
    val equal = Seq(("g", 5.0), ("g", 5.0), ("g", 5.0)).toDF("grp", "v")
    val r1 = Stats.theilIndex(equal, "v", "grp").collect().head
    assert(r1.getAs[Double]("theil") == 0.0 && r1.getAs[Long]("n_entities") == 3L)
    // {1,3}: T = (0.5·ln0.5 + 1.5·ln1.5)/2 = 0.130812
    val two = Seq(("g", 1.0), ("g", 3.0)).toDF("grp", "v")
    assert(Stats.theilIndex(two, "v", "grp").collect().head
      .getAs[Double]("theil") == 0.130812)
    // zero/null excluded from n; negative raises naming the operator
    val withZero = Seq(("g", 1.0), ("g", 3.0), ("g", 0.0)).toDF("grp", "v")
    assert(Stats.theilIndex(withZero, "v", "grp").collect().head
      .getAs[Long]("n_entities") == 2L)
    val e = intercept[Exception] {
      Stats.theilIndex(Seq(("g", -1.0)).toDF("grp", "v"), "v", "grp").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("theilIndex")), s"$e")
  }

  test("holtForecast: a perfectly linear series forecasts the line exactly") {
    val spark2 = spark
    import spark2.implicits._
    val df = (1 to 6).map(t => (t, 2.0 * t)).toDF("day", "v")
    val out = Stats.holtForecast(df, col("day"), col("v"), horizon = 3).collect()
    assert(out.length == 3)
    out.foreach { r =>
      val h = r.getLong(0)
      assert(r.getAs[Double]("forecast") == 12.0 + 2.0 * h, s"h=$h")
      assert(r.getAs[Double]("level") == 12.0)
      assert(r.getAs[Double]("trend") == 2.0)
    }
  }

  test("quantileNormalize: identical group distributions are a fixed point; buckets balance") {
    val spark2 = spark
    import spark2.implicits._
    val vals = (1 to 40).map(_.toDouble)
    val df = (vals.map(v => ("a", v.toLong, v)) ++ vals.map(v => ("b", v.toLong + 100, v)))
      .toDF("grp", "id", "v")
    val out = Stats.quantileNormalize(df, "v", "grp", "id", nBuckets = 4).collect()
    assert(out.length == 8)
    out.foreach { r =>
      assert(r.getAs[Long]("n_rows") == 10L)
      assert(r.getAs[Double]("mean_raw") == r.getAs[Double]("norm_value"),
        "identical distributions must map to themselves")
    }
    // shifted group: the normalized value is the cross-group bucket mean
    val df2 = (vals.map(v => ("a", v.toLong, v)) ++ vals.map(v => ("b", v.toLong + 100, v + 100.0)))
      .toDF("grp", "id", "v")
    val out2 = Stats.quantileNormalize(df2, "v", "grp", "id", nBuckets = 4).collect()
      .map(r => (r.getString(0), r.getAs[Long]("bucket")) -> r).toMap
    // bucket 1: a-mean 5.5, b-mean 105.5 -> norm 55.5 for both
    assert(out2(("a", 1L)).getAs[Double]("norm_value") == 55.5)
    assert(out2(("b", 1L)).getAs[Double]("norm_value") == 55.5)
  }

  test("abcClasses: boundary shares classify exactly; classes partition the entities") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, 80.0), (2L, 15.0), (3L, 5.0)).toDF("id", "v")
    val out = Stats.abcClasses(df, "v", "id").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("A").getAs[Long]("n_entities") == 1L)
    assert(out("A").getAs[Double]("class_value") == 80.0)
    assert(out("A").getAs[Double]("class_share") == 0.8)
    assert(out("B").getAs[Long]("n_entities") == 1L)
    assert(out("C").getAs[Long]("n_entities") == 1L)
    assert(out.values.map(_.getAs[Long]("n_entities")).sum == 3L)
  }

  test("twoProportionZ: hand-computed pooled z and significance") {
    val spark2 = spark
    import spark2.implicits._
    // group A: 50/100, group B: 25/100
    val rows = Seq.fill(50)((true, true)) ++ Seq.fill(50)((true, false)) ++
      Seq.fill(25)((false, true)) ++ Seq.fill(75)((false, false))
    val df = rows.toDF("g", "o")
    val r = Stats.twoProportionZ(df, col("g"), col("o")).collect().head
    assert(r.getAs[Long]("n_a") == 100L && r.getAs[Long]("x_a") == 50L)
    assert(r.getAs[Double]("rate_a") == 0.5 && r.getAs[Double]("rate_b") == 0.25)
    val z = (0.5 - 0.25) / math.sqrt(0.375 * 0.625 * (1.0 / 100 + 1.0 / 100))
    assert(r.getAs[Double]("z") ==
      BigDecimal(z).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getAs[Boolean]("significant"))
  }

  test("twoProportionZ: degenerate inputs give null z and significant=false, never NaN") {
    val spark2 = spark
    import spark2.implicits._
    // empty cohort B: every row is group A
    val oneCohort = Seq.fill(10)((true, true)).toDF("g", "o")
    val r1 = Stats.twoProportionZ(oneCohort, col("g"), col("o")).collect().head
    assert(r1.getAs[Long]("n_b") == 0L)
    assert(r1.isNullAt(r1.fieldIndex("z")), "empty cohort must null z, not NaN")
    assert(!r1.getAs[Boolean]("significant"),
      "NaN > zCrit must never read significant")
    assert(r1.isNullAt(r1.fieldIndex("rate_b")))
    // all-same outcome: pooled p = 1 so se = 0
    val allConvert = (Seq.fill(5)((true, true)) ++ Seq.fill(5)((false, true))).toDF("g", "o")
    val r2 = Stats.twoProportionZ(allConvert, col("g"), col("o")).collect().head
    assert(r2.isNullAt(r2.fieldIndex("z")), "se = 0 must null z, not divide")
    assert(!r2.getAs[Boolean]("significant"))
    assert(r2.getAs[Double]("rate_a") == 1.0 && r2.getAs[Double]("rate_b") == 1.0)
  }

  test("giniByGroup / quantileNormalize: null values are excluded, not ranked") {
    val spark2 = spark
    import spark2.implicits._
    val clean = Seq(("g", 1L, 1.0), ("g", 2L, 2.0), ("g", 3L, 3.0)).toDF("grp", "id", "v")
    val dirty = clean.unionByName(
      Seq(("g", 4L, Option.empty[Double]), ("g", 5L, Option.empty[Double]))
        .toDF("grp", "id", "v"))
    // a null row must neither shift ranks (Spark sorts NULLs first, the
    // DuckDB oracle last) nor enter n_entities
    assert(Stats.giniByGroup(dirty, "v", "grp", "id").collect().toSeq ==
      Stats.giniByGroup(clean, "v", "grp", "id").collect().toSeq)
    assert(Stats.quantileNormalize(dirty, "v", "grp", "id", nBuckets = 2)
      .collect().toSeq ==
      Stats.quantileNormalize(clean, "v", "grp", "id", nBuckets = 2)
        .collect().toSeq)
  }

  test("keySkewAudit: exact top share and interpolated count percentiles") {
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq.fill(10)("a") ++ Seq.fill(2)("b") ++ Seq.fill(2)("c") ++ Seq.fill(2)("d")
    val r = Stats.keySkewAudit(rows.toDF("k"), "k").collect().head
    assert(r.getAs[Long]("n_keys") == 4L && r.getAs[Long]("n_rows") == 16L)
    assert(r.getAs[String]("top_key") == "a" && r.getAs[Long]("top_count") == 10L)
    assert(r.getAs[Double]("top_share") == 0.625)
    // counts sorted [2,2,2,10]: p50 = 2, p90 = 2 + 0.7*(10-2), p99 = 2 + 0.97*8
    assert(r.getAs[Double]("p50_count") == 2.0)
    assert(r.getAs[Double]("p90_count") == 7.6)
    assert(r.getAs[Double]("p99_count") == 9.76)
    assert(r.getAs[Double]("skew_p99_p50") == 4.88)
  }

  test("monthlyGrowth: MoM and trailing moving average on a hand series") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1, 100.0), (2, 110.0), (3, 121.0)).toDF("m", "v")
    val out = Stats.monthlyGrowth(df, col("m"), col("v")).collect()
    assert(out.map(_.getAs[Double]("revenue")).toSeq == Seq(100.0, 110.0, 121.0))
    assert(out(0).isNullAt(2), "first month has no MoM")
    assert(out(1).getAs[Double]("mom_pct") == 0.1)
    assert(out(2).getAs[Double]("mom_pct") == 0.1)
    assert(out(0).getAs[Double]("ma3") == 100.0)
    assert(out(1).getAs[Double]("ma3") == 105.0)
    assert(out(2).getAs[Double]("ma3") ==
      BigDecimal(331.0 / 3).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("dowProfile: one day per weekday gives index = value / overall mean") {
    val spark2 = spark
    import spark2.implicits._
    // 2024-01-01 is a Monday (Spark dayofweek=2 -> dow 1)
    val days = (0 until 7).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-0${i + 1}%d 00:00:00"), (i + 1) * 10.0)
    }
    val out = Stats.dowProfile(days.toDF("d", "v"), col("d"), col("v")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size == 7)
    // Monday (dow 1) carries the first value 10; overall mean daily = 40
    assert(out(1L).getAs[Double]("mean_daily") == 10.0)
    assert(out(1L).getAs[Double]("dow_index") == 0.25)
    assert(out(0L).getAs[Double]("mean_daily") == 70.0, "Sunday is Jan 7")
    assert(out(0L).getAs[Double]("dow_index") == 1.75)
    assert(out.values.forall(_.getAs[Long]("n_days") == 1L))
  }

  test("round-14 stats operators are bit-identical under input repartitioning") {
    val orders = graft.core.Tables.orders(spark, sfDir)
    val shuffled = orders.repartition(7)
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    assert(same(Stats.benfordAudit(orders, "o_totalprice"),
      Stats.benfordAudit(shuffled, "o_totalprice")))
    assert(same(
      Stats.acf(orders, date_trunc("day", col("o_orderdate")), col("o_totalprice")),
      Stats.acf(shuffled, date_trunc("day", col("o_orderdate")), col("o_totalprice"))))
    assert(same(
      Stats.monthlyGrowth(orders, date_trunc("month", col("o_orderdate")), col("o_totalprice")),
      Stats.monthlyGrowth(shuffled, date_trunc("month", col("o_orderdate")), col("o_totalprice"))))
    assert(same(Stats.keySkewAudit(orders, "o_custkey"),
      Stats.keySkewAudit(shuffled, "o_custkey")))
  }

  test("cusumChangePoint: finds the level-shift day with before/after means") {
    val spark2 = spark
    import spark2.implicits._
    // days 1-5: one row/day; days 6-10: three rows/day
    val rows = (1 to 5).map(d => Tuple1(d)) ++
      (6 to 10).flatMap(d => Seq.fill(3)(Tuple1(d)))
    val df = rows.toDF("day")
    val out = Stats.cusumChangePoint(df, col("day")).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Int]("change_day") == 5)
    assert(r.getAs[Long]("n_days") == 10L)
    assert(r.getAs[Double]("max_abs_cusum") == 5.0)
    assert(r.getAs[Double]("mean_before") == 1.0)
    assert(r.getAs[Double]("mean_after") == 3.0)
  }
}
