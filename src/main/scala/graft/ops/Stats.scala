package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Column-statistics surface: the exact-arithmetic siblings of
  * [[Text.linearFit]] for relational profiling. Everything follows the
  * engine-portability discipline — exact DECIMAL sums, then double
  * arithmetic over identical operands — so the outputs carry full value
  * oracles (generated beside the operator, the minhashOracleSql pattern).
  */
object Stats {

  /** Pairwise Pearson correlation over `cols` in ONE aggregation pass:
    * every Σx, Σx², Σxy lands in a single partial-aggregable hash
    * aggregate (k + k + k(k−1)/2 terms), the 1-row result explodes into
    * one row per column pair — no per-pair scan, no driver math, no
    * second job. DECIMAL(30,6) sums: exact for fixture magnitudes up to
    * ~1e24 (a 100 TB lineitem's Σprice² fits with 8 digits to spare).
    * Degenerate pairs (a constant column) yield null r rather than ±Inf.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    def ds(c: Column): Column = sum(c.cast(DecimalType(30, 6))).cast("double")
    val pairs = cols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val aggCols =
      Seq(count(lit(1)).cast("double").as("_n")) ++
        cols.map(c => ds(col(c)).as(s"_s_$c")) ++
        cols.map(c => ds(col(c) * col(c)).as(s"_ss_$c")) ++
        pairs.map { case (a, b) => ds(col(a) * col(b)).as(s"_sp_${a}_$b") }
    // the 2k + k(k-1)/2 decimal sums are the per-row cost here; spread an
    // under-split scan so the partial aggregate isn't serialized on one task
    val agg = Helpers.spreadForCompute(df.select(cols.map(col): _*))
      .agg(aggCols.head, aggCols.tail: _*)
    val n = col("_n")
    val pairStructs = pairs.map { case (a, b) =>
      val cov = n * col(s"_sp_${a}_$b") - col(s"_s_$a") * col(s"_s_$b")
      val dx = n * col(s"_ss_$a") - col(s"_s_$a") * col(s"_s_$a")
      val dy = n * col(s"_ss_$b") - col(s"_s_$b") * col(s"_s_$b")
      struct(
        lit(a).as("col_x"), lit(b).as("col_y"),
        n.cast("long").as("n_rows"),
        when(dx > 0.0 && dy > 0.0, cov / sqrt(dx * dy)).as("r"))
    }
    agg.select(explode(array(pairStructs: _*)).as("p"))
      .select("p.*")
      .orderBy("col_x", "col_y")
  }

  /** Tukey-fence (IQR) outlier report per group — the data-quality trim a
    * pipeline applies before fitting anything: per group, exact Q1/Q3
    * (interpolated `percentile`, the engine-portable exact form
    * q_percentiles already pins), the k·IQR fences, and how many rows
    * fall outside. Two passes — a per-group percentile aggregate (one row
    * per group) joined back onto the scan — so the fact table is read
    * twice but never sorted globally; the fences ride the second scan as
    * a codegen'd predicate. The join side is NOT hint-forced broadcast:
    * one-row-per-group is only small when the group column is — with a
    * high-cardinality group the planner must be free to shuffle instead
    * (round-5 ADVICE), and below the autoBroadcast threshold it still
    * picks the broadcast plan on its own.
    */
  def iqrOutliers(df: DataFrame, valueCol: String, groupCol: String,
                  k: Double = 1.5): DataFrame = {
    val v = col(valueCol)
    val fences = df.groupBy(col(groupCol))
      .agg(
        expr(s"percentile($valueCol, 0.25)").as("q1"),
        expr(s"percentile($valueCol, 0.75)").as("q3"))
      .withColumn("lo", col("q1") - lit(k) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(k) * (col("q3") - col("q1")))
    df.select(col(groupCol), v)
      .join(fences, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(
        round(first("q1"), 4).as("q1"),
        round(first("q3"), 4).as("q3"),
        sum(when(v < col("lo") || v > col("hi"), 1L).otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n_rows"))
      .orderBy(groupCol)
  }

  /** Winsorized robust statistics per group — the remediation sibling of
    * [[iqrOutliers]] (that one counts the tail, this one shows what the
    * mean looks like with the tail CLAMPED to the [lo, hi] percentile
    * fences): per group, row count, clamped-row count, raw vs winsorized
    * mean, and the two fences. The standard robust-mean report a pipeline
    * reads before deciding whether outliers are data or noise.
    *
    * Determinism: the fences are the same Spark `percentile` ↔ DuckDB
    * `quantile_cont` pair the percentile/IQR queries already hash-match
    * on; they are then cast to the value column's OWN DecimalType
    * (derived from the schema, round-14 ADVICE fix — previously a
    * hard-coded DECIMAL(15,2) that silently quantized other scales and
    * NULLed out-of-range fences under the non-ANSI cast, disabling the
    * clamp) so every comparison and the clamped value itself stay EXACT
    * decimals — the winsorized sum is an order-free DECIMAL(30,6)
    * aggregate, never a float sum (a double clamp would make the mean
    * partition-order dependent). Non-decimal value columns take a
    * documented DECIMAL(30,6) fence — 6-decimal fence quantization on a
    * double/integer input, stated here rather than silent. Callers
    * generating a DuckDB oracle must pass the matching fence type to
    * [[winsorizedOracleSql]]. Doubles appear only in the four final
    * rounded outputs.
    *
    * Scale shape: the [[iqrOutliers]] two-pass — one-row-per-group fence
    * aggregate joined back onto the scan (deliberately NOT hint-forced
    * broadcast: high-cardinality groups must be free to shuffle), then
    * one combining aggregate. No global sort at any scale.
    */
  def winsorizedStats(df: DataFrame, valueCol: String, groupCol: String,
                      lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"need 0 <= lo < hi <= 1, got $lo/$hi")
    val v = col(valueCol)
    val fenceType = df.schema(valueCol).dataType match {
      case d: DecimalType => d
      case _ => DecimalType(30, 6)
    }
    val fences = df.groupBy(col(groupCol))
      .agg(
        expr(s"percentile($valueCol, $lo)").as("plo"),
        expr(s"percentile($valueCol, $hi)").as("phi"))
      .withColumn("plo_d", col("plo").cast(fenceType))
      .withColumn("phi_d", col("phi").cast(fenceType))
    val clamped = when(v < col("plo_d"), col("plo_d"))
      .when(v > col("phi_d"), col("phi_d"))
      .otherwise(v)
    df.select(col(groupCol), v)
      .join(fences, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(v < col("plo_d") || v > col("phi_d"), 1L).otherwise(0L))
          .as("n_clamped"),
        round(sum(v.cast(DecimalType(30, 6))).cast("double") / count(lit(1)), 6)
          .as("mean_raw"),
        round(sum(clamped.cast(DecimalType(30, 6))).cast("double") / count(lit(1)), 6)
          .as("mean_winsorized"),
        round(first("plo"), 4).as("p_lo"),
        round(first("phi"), 4).as("p_hi"))
      .orderBy(groupCol)
  }

  /** Generated DuckDB oracle for [[winsorizedStats]]: the same fence pair,
    * decimal clamp and exact sums replayed. `fenceType` must name the
    * value column's own DecimalType — the type [[winsorizedStats]] derives
    * from the schema (DECIMAL(30,6) for non-decimal value columns). */
  def winsorizedOracleSql(table: String, valueCol: String, groupCol: String,
                          lo: Double = 0.05, hi: Double = 0.95,
                          fenceType: String = "DECIMAL(15,2)"): String =
    s"""WITH f AS (SELECT $groupCol,
       |             quantile_cont($valueCol, $lo) AS plo,
       |             quantile_cont($valueCol, $hi) AS phi
       |           FROM $table GROUP BY $groupCol),
       |fd AS (SELECT $groupCol, plo, phi,
       |              CAST(plo AS $fenceType) AS plo_d,
       |              CAST(phi AS $fenceType) AS phi_d FROM f)
       |SELECT t.$groupCol, COUNT(*) AS n_rows,
       |       CAST(SUM(CASE WHEN $valueCol < plo_d OR $valueCol > phi_d
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
       |       round(CAST(SUM(CAST($valueCol AS DECIMAL(30,6))) AS DOUBLE)
       |             / COUNT(*), 6) AS mean_raw,
       |       round(CAST(SUM(CAST(CASE WHEN $valueCol < plo_d THEN plo_d
       |                                WHEN $valueCol > phi_d THEN phi_d
       |                                ELSE $valueCol END AS DECIMAL(30,6)))
       |                  AS DOUBLE) / COUNT(*), 6) AS mean_winsorized,
       |       round(plo, 4) AS p_lo, round(phi, 4) AS p_hi
       |FROM $table t JOIN fd USING ($groupCol)
       |GROUP BY t.$groupCol, plo, phi
       |ORDER BY t.$groupCol""".stripMargin

  /** Generated DuckDB oracle for [[corrMatrix]] — same sums, same double
    * sequence, one UNION ALL branch per pair off a shared aggregate CTE.
    */
  def corrOracleSql(table: String, cols: Seq[String]): String = {
    def ds(e: String): String = s"CAST(SUM(CAST($e AS DECIMAL(30,6))) AS DOUBLE)"
    val pairs = cols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val aggExprs =
      Seq("CAST(COUNT(*) AS DOUBLE) AS _n") ++
        cols.map(c => s"${ds(c)} AS _s_$c") ++
        cols.map(c => s"${ds(s"$c * $c")} AS _ss_$c") ++
        pairs.map { case (a, b) => s"${ds(s"$a * $b")} AS _sp_${a}_$b" }
    val branches = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y, CAST(_n AS BIGINT) AS n_rows,
         |  CASE WHEN (_n * _ss_$a - _s_$a * _s_$a) > 0 AND (_n * _ss_$b - _s_$b * _s_$b) > 0
         |       THEN (_n * _sp_${a}_$b - _s_$a * _s_$b)
         |            / sqrt((_n * _ss_$a - _s_$a * _s_$a) * (_n * _ss_$b - _s_$b * _s_$b))
         |  END AS r
         |FROM a""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH a AS (SELECT ${aggExprs.mkString(",\n  ")} FROM $table)
       |$branches
       |ORDER BY col_x, col_y""".stripMargin
  }

  /** MAD (median absolute deviation) outlier report per group — the
    * breakdown-point-0.5 sibling of [[iqrOutliers]]: per group, the exact
    * median, the median of |x − median|, and how many rows sit beyond
    * k · 1.4826 · MAD (1.4826 is the standard consistency constant making
    * MAD estimate σ under normality, so k is in σ-equivalents like
    * [[Events.zscoreAnomalies]]' threshold — but immune to the outliers
    * themselves, which inflate a plain z-score's σ and mask each other).
    *
    * Three passes, each a one-row-per-group aggregate joined back onto the
    * scan (the [[iqrOutliers]] shape, one level deeper because MAD is a
    * percentile OF a percentile-residual): median aggregate → deviation
    * join → MAD aggregate → flag join + combining count. The deviation
    * frame is materialized because both the MAD aggregate and the final
    * count read it — without the barrier the median join would execute
    * twice. No global sort at any scale; the per-group fence tables are
    * free to broadcast or shuffle as the planner sizes them
    * (high-cardinality groups must not be hint-pinned — the round-5
    * iqrOutliers lesson).
    *
    * Determinism: Spark `percentile` ↔ DuckDB `quantile_cont` is the
    * established exact pair; deviations and the fence product
    * k·1.4826·mad are identical double sequences on both engines, and the
    * flag compares raw doubles computed from identical operands.
    */
  def madOutliers(df: DataFrame, valueCol: String, groupCol: String,
                  k: Double = 3.0): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    val v = col(valueCol)
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, 0.5)").as("med"))
    val dev = Checkpoints(df.select(col(groupCol), v)
      .join(med, Seq(groupCol))
      .withColumn("adev", abs(v - col("med"))))
    val madAgg = dev.groupBy(col(groupCol))
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(madAgg, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("adev") > lit(k) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"),
        round(first("med"), 4).as("median"),
        round(first("mad"), 4).as("mad"))
      .orderBy(groupCol)
  }

  /** Population stability index per period: how far each period's
    * categorical mix has drifted from the FIRST period's —
    * PSI = Σ_c (p_c − b_c) · ln(p_c / b_c), the industry-standard drift
    * monitor a pipeline reads before trusting a model trained on the
    * baseline mix (rule of thumb: < 0.1 stable, > 0.25 retrain — the
    * `drifted` flag uses the caller's threshold on the ROUNDED psi so a
    * boundary period cannot flip engines).
    *
    * Add-one (Laplace) smoothing over the GLOBAL category set makes every
    * share strictly positive — a category absent from one period
    * contributes a finite term instead of ±∞/NaN, and the complete
    * period×category grid is built from the two tiny post-aggregation
    * distinct frames (never from the raw scan). Each PSI term is ≥ 0 by
    * construction (sign(p−b) = sign(ln(p/b))), rounded to 9 decimals and
    * summed in exact DECIMAL(18,9) — the bm25/surprisal portability
    * contract — then rounded once to 6.
    *
    * Scale shape: ONE (period, cat) combining aggregate over the scan;
    * everything after operates on bounded frames (|periods| × |cats|
    * grid, 1-row category-count broadcast). No windows, no scan re-reads.
    */
  def psiDrift(df: DataFrame, catCol: String, periodCol: Column,
               threshold: Double = 0.1): DataFrame = {
    val counts = df.select(periodCol.as("period"), col(catCol).as("cat"))
      .groupBy("period", "cat").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("period").agg(sum("n").as("tot"))
    val cats = counts.select("cat").distinct()
    val kDf = cats.agg(count(lit(1)).as("_k"))
    val filled = totals.select("period").crossJoin(cats)
      .join(counts, Seq("period", "cat"), "left")
      .join(totals, "period")
      .select(col("period"), col("cat"),
        coalesce(col("n"), lit(0L)).as("n"), col("tot"))
    val basePeriod = totals.agg(min("period").as("_bp"))
    val baseline = filled.join(broadcast(basePeriod), col("period") === col("_bp"))
      .select(col("cat"), col("n").as("bn"), col("tot").as("btot"))
    val p = (col("n") + lit(1)).cast("double") / (col("tot") + col("_k")).cast("double")
    val b = (col("bn") + lit(1)).cast("double") / (col("btot") + col("_k")).cast("double")
    filled.join(baseline, "cat")
      .crossJoin(broadcast(kDf))
      .withColumn("_p", p).withColumn("_b", b)
      .withColumn("_term",
        round((col("_p") - col("_b")) * log(col("_p") / col("_b")), 9)
          .cast(DecimalType(18, 9)))
      .groupBy("period")
      .agg(max("tot").as("n_rows"),
        round(sum("_term").cast("double"), 6).as("psi"))
      .withColumn("drifted", col("psi") > threshold)
      .orderBy("period")
  }

  /** Generated DuckDB oracle for [[psiDrift]]: same grid, same smoothed
    * shares, same round-9 decimal term sum. `periodExpr`/`catExpr` must
    * compute exactly what the Spark call's columns compute. */
  def psiOracleSql(table: String, catExpr: String, periodExpr: String,
                   threshold: Double = 0.1): String =
    s"""WITH src AS (SELECT $periodExpr AS period, $catExpr AS cat FROM $table),
       |counts AS (SELECT period, cat, CAST(COUNT(*) AS BIGINT) AS n
       |           FROM src GROUP BY period, cat),
       |totals AS (SELECT period, CAST(SUM(n) AS BIGINT) AS tot
       |           FROM counts GROUP BY period),
       |cats AS (SELECT DISTINCT cat FROM counts),
       |kk AS (SELECT COUNT(*) AS k FROM cats),
       |filled AS (
       |  SELECT g.period, g.cat, COALESCE(c.n, 0) AS n, t.tot
       |  FROM (SELECT period, cat FROM totals CROSS JOIN cats) g
       |  LEFT JOIN counts c ON g.period = c.period AND g.cat = c.cat
       |  JOIN totals t ON g.period = t.period),
       |bp AS (SELECT min(period) AS bpv FROM totals),
       |base AS (SELECT cat, n AS bn, tot AS btot
       |         FROM filled CROSS JOIN bp WHERE period = bpv),
       |terms AS (
       |  SELECT f.period, f.tot,
       |         CAST(f.n + 1 AS DOUBLE) / CAST(f.tot + k AS DOUBLE) AS p,
       |         CAST(b.bn + 1 AS DOUBLE) / CAST(b.btot + k AS DOUBLE) AS b
       |  FROM filled f JOIN base b ON f.cat = b.cat CROSS JOIN kk)
       |SELECT period, MAX(tot) AS n_rows,
       |       round(CAST(SUM(CAST(round((p - b) * ln(p / b), 9)
       |                          AS DECIMAL(18,9))) AS DOUBLE), 6) AS psi,
       |       round(CAST(SUM(CAST(round((p - b) * ln(p / b), 9)
       |                          AS DECIMAL(18,9))) AS DOUBLE), 6) > $threshold
       |         AS drifted
       |FROM terms GROUP BY period ORDER BY period""".stripMargin

  /** Generated DuckDB oracle for [[madOutliers]]: the same two
    * quantile_cont passes, deviation join and fence comparison replayed
    * operand for operand. */
  def madOracleSql(table: String, valueCol: String, groupCol: String,
                   k: Double = 3.0): String =
    s"""WITH m AS (SELECT $groupCol, quantile_cont($valueCol, 0.5) AS med
       |           FROM $table GROUP BY $groupCol),
       |d AS (SELECT t.$groupCol AS $groupCol, med,
       |             abs($valueCol - med) AS adev
       |      FROM $table t JOIN m USING ($groupCol)),
       |md AS (SELECT $groupCol, quantile_cont(adev, 0.5) AS mad
       |       FROM d GROUP BY $groupCol)
       |SELECT d.$groupCol, COUNT(*) AS n_rows,
       |       CAST(SUM(CASE WHEN adev > $k * 1.4826 * mad
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       |       round(med, 4) AS median, round(mad, 4) AS mad
       |FROM d JOIN md USING ($groupCol)
       |GROUP BY d.$groupCol, med, mad
       |ORDER BY d.$groupCol""".stripMargin

  /** Per-group Gini coefficient — the inequality/concentration audit a
    * corpus owner runs over per-source token mass or a marketplace over
    * per-account spend (the Lorenz-curve sibling of the HHI in
    * [[Text.sourceConcentration]], which concentrates over CATEGORY
    * shares; Gini concentrates over the ENTITY distribution itself).
    * `entities` must be one row per (group, id) with a non-negative
    * value. G = (2·Σᵢ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) with ranks ascending
    * by (value, id) — the deterministic tie order both engines replay.
    *
    * Exactness: values quantize once to DECIMAL(20,6); the rank weight is
    * DECIMAL(12,0) so the i·xᵢ product stays inside 38 digits on both
    * engines (32,6), and both Σ are order-free decimal sums. The final
    * division is double-over-identical-exact-operands.
    *
    * Scale shape: one window sort WITHIN each group (the groups shuffle
    * independently — no global sort) and one combining aggregate. Ranks
    * up to 1e12 entities per group fit the (12,0) weight.
    */
  def giniByGroup(entities: DataFrame, valueCol: String, groupCol: String,
                  idCol: String): DataFrame = {
    val v = col(valueCol).cast(DecimalType(20, 6))
    val w = Window.partitionBy(groupCol).orderBy(col(valueCol), col(idCol))
    // null values are dropped, not ranked: Spark's orderBy sorts NULLs
    // first where DuckDB's sorts them last, so a null row would silently
    // shift every rank and break operator/oracle parity — and a null has
    // no place in a Lorenz curve anyway (the oracle mirrors the filter)
    val ranked = entities
      .select(col(groupCol), col(idCol), col(valueCol))
      .filter(col(valueCol).isNotNull)
      .withColumn("_v", v)
      .withColumn("_i", row_number().over(w).cast(DecimalType(12, 0)))
    val agg = ranked.groupBy(groupCol).agg(
      count(lit(1)).as("n_entities"),
      sum(col("_v")).as("_s0"),
      sum(col("_i") * col("_v")).as("_s1"))
    val n = col("n_entities").cast("double")
    val s0 = col("_s0").cast("double")
    val s1 = col("_s1").cast("double")
    agg.select(col(groupCol), col("n_entities"),
        round(s0, 2).as("total_value"),
        round(when(col("_s0") > 0,
            (lit(2.0) * s1 - (n + 1.0) * s0) / (n * s0))
          .otherwise(lit(0.0)), 6).as("gini"))
      .orderBy(groupCol)
  }

  /** Generated DuckDB oracle for [[giniByGroup]]: `entitySql` must yield
    * the same (group, id, value) rows the Spark caller built. */
  def giniOracleSql(entitySql: String, valueCol: String, groupCol: String,
                    idCol: String): String =
    s"""WITH ent AS ($entitySql),
       |ranked AS (
       |  SELECT $groupCol, CAST($valueCol AS DECIMAL(20,6)) AS v,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY $groupCol
       |                                 ORDER BY $valueCol, $idCol)
       |              AS DECIMAL(12,0)) AS i
       |  FROM ent WHERE $valueCol IS NOT NULL),
       |agg AS (SELECT $groupCol, COUNT(*) AS n_entities,
       |               SUM(v) AS s0, SUM(i * v) AS s1
       |        FROM ranked GROUP BY $groupCol)
       |SELECT $groupCol, n_entities,
       |       round(CAST(s0 AS DOUBLE), 2) AS total_value,
       |       round(CASE WHEN s0 > 0 THEN
       |               (2.0 * CAST(s1 AS DOUBLE)
       |                 - (CAST(n_entities AS DOUBLE) + 1.0) * CAST(s0 AS DOUBLE))
       |               / (CAST(n_entities AS DOUBLE) * CAST(s0 AS DOUBLE))
       |             ELSE 0.0 END, 6) AS gini
       |FROM agg ORDER BY $groupCol""".stripMargin

  /** Benford first-significant-digit audit — the fraud/synthetic-data
    * smoke test over a positive measure column: observed leading-digit
    * shares vs Benford's log₁₀(1+1/d) expectation, with the per-digit
    * χ² contribution. The digit is extracted from the DECIMAL(30,6)
    * string rendering (first char matching [1-9]) rather than via
    * log10/floor — decimal-to-string is engine-portable where a
    * floor(log10(x)) at a power-of-ten boundary is one libm ulp from
    * flipping. Expected shares are rounded to 6 dp BEFORE the χ² terms
    * so a last-ulp log10 disagreement between libms cannot propagate.
    *
    * Scale shape: row-local digit extraction, one 9-row hash aggregate —
    * the cheapest possible full-scan audit, fully partial-aggregable.
    */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    val d = col(valueCol).cast(DecimalType(30, 6))
    val digits = df.select(d.as("_d")).filter(col("_d") > 0)
      .select(regexp_extract(col("_d").cast("string"), "[1-9]", 0).as("digit"))
    val counts = digits.groupBy("digit").agg(count(lit(1)).as("n_values"))
    val grid = spark.range(1, 10).select(col("id").cast("string").as("digit"))
    val tot = counts.agg(sum("n_values").as("_t"))
    val expP = round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6)
    val obs = col("n_values").cast("double")
    val t = col("_t").cast("double")
    grid.join(counts, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n_values"), lit(0L)).as("n_values"))
      .crossJoin(broadcast(tot))
      .withColumn("_p", expP)
      .select(col("digit"), col("n_values"),
        round(obs / t, 6).as("obs_share"),
        col("_p").as("exp_share"),
        round(pow(obs - t * col("_p"), 2.0) / (t * col("_p")), 4).as("chi2_term"))
      .orderBy("digit")
  }

  /** Generated DuckDB oracle for [[benfordAudit]]. */
  def benfordOracleSql(table: String, valueCol: String): String =
    s"""WITH v AS (SELECT CAST($valueCol AS DECIMAL(30,6)) AS d FROM $table),
       |dg AS (SELECT regexp_extract(CAST(d AS VARCHAR), '[1-9]', 0) AS digit
       |       FROM v WHERE d > 0),
       |counts AS (SELECT digit, COUNT(*) AS n_values FROM dg GROUP BY digit),
       |tot AS (SELECT SUM(n_values) AS t FROM counts),
       |grid AS (SELECT CAST(gd AS VARCHAR) AS digit,
       |                round(log10(1.0 + 1.0 / CAST(gd AS DOUBLE)), 6) AS p
       |         FROM generate_series(1, 9) AS g(gd))
       |SELECT grid.digit, CAST(COALESCE(n_values, 0) AS BIGINT) AS n_values,
       |       round(CAST(COALESCE(n_values, 0) AS DOUBLE) / CAST(t AS DOUBLE), 6)
       |         AS obs_share,
       |       p AS exp_share,
       |       round(pow(CAST(COALESCE(n_values, 0) AS DOUBLE)
       |                   - CAST(t AS DOUBLE) * p, 2.0)
       |             / (CAST(t AS DOUBLE) * p), 4) AS chi2_term
       |FROM grid LEFT JOIN counts ON grid.digit = counts.digit CROSS JOIN tot
       |ORDER BY grid.digit""".stripMargin

  /** Autocorrelation function of a daily-aggregated measure at row lags
    * 1..`maxLag` — the seasonality probe (lag-7 spikes = weekly cycle)
    * run before fitting any forecast. Two-stage: the fact table collapses
    * to one exact DECIMAL(20,6) sum per day (the only full-scan work),
    * then deviations from the series mean are re-quantized to
    * DECIMAL(18,6) so the lag-product sums are order-free exact decimals
    * on both engines — a raw double Σdₜ·dₜ₋ₖ over thousands of days
    * would be summation-order-dependent. rₖ = Σdₜdₜ₋ₖ / Σd², doubles
    * over identical exact operands. Lags are ROW lags over the
    * date-ordered series (calendar gaps collapse), stated, not hidden.
    *
    * Scale shape: the window runs over the POST-AGGREGATE series — one
    * row per day (≤ tens of thousands for any horizon), so the
    * single-partition sort is bounded by calendar length, never by data
    * volume; the fact-table pass is one partial-aggregable hash
    * aggregate.
    */
  def acf(df: DataFrame, dayCol: Column, valueCol: Column,
          maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"need maxLag >= 1, got $maxLag")
    val daily = df.groupBy(dayCol.as("_day"))
      .agg(sum(valueCol.cast(DecimalType(20, 6))).as("_x"))
    val stats = daily.agg(count(lit(1)).as("_n"), sum("_x").as("_s"))
    val xbar = col("_s").cast("double") / col("_n").cast("double")
    val dev = daily.crossJoin(broadcast(stats))
      .select(col("_day"),
        (col("_x").cast("double") - xbar).cast(DecimalType(18, 6)).as("_d"))
    val w = Window.orderBy("_day")
    val lagged = dev.select(
      Seq(col("_d")) ++
        (1 to maxLag).map(k => lag(col("_d"), k).over(w).as(s"_d$k")): _*)
    val aggCols =
      Seq(sum(col("_d") * col("_d")).as("_den")) ++
        (1 to maxLag).flatMap { k =>
          Seq(sum(col("_d") * col(s"_d$k")).as(s"_num$k"),
            count(col(s"_d$k")).as(s"_np$k"))
        }
    val agg = lagged.agg(aggCols.head, aggCols.tail: _*)
    val rows = (1 to maxLag).map { k =>
      struct(lit(k.toLong).as("lag"), col(s"_np$k").as("n_pairs"),
        when(col("_den") > 0,
          round(col(s"_num$k").cast("double") / col("_den").cast("double"), 6))
          .as("r"))
    }
    agg.select(explode(array(rows: _*)).as("p")).select("p.*").orderBy("lag")
  }

  /** Generated DuckDB oracle for [[acf]]: `dayExpr`/`valueExpr` must
    * compute what the Spark call's columns compute. */
  def acfOracleSql(table: String, dayExpr: String, valueExpr: String,
                   maxLag: Int = 7): String =
    s"""WITH daily AS (SELECT $dayExpr AS day,
       |                      SUM(CAST($valueExpr AS DECIMAL(20,6))) AS x
       |               FROM $table GROUP BY 1),
       |st AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM daily),
       |dev AS (SELECT day,
       |               CAST(CAST(x AS DOUBLE)
       |                    - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
       |                    AS DECIMAL(18,6)) AS d
       |        FROM daily CROSS JOIN st),
       |lagged AS (SELECT CAST(d AS DECIMAL(19,6)) AS d, ${(1 to maxLag).map(k =>
            s"CAST(lag(d, $k) OVER (ORDER BY day) AS DECIMAL(19,6)) AS d$k").mkString(", ")}
       |           FROM dev),
       |agg AS (SELECT SUM(d * d) AS den,
       |               ${(1 to maxLag).map(k =>
            s"SUM(d * d$k) AS num$k, COUNT(d$k) AS np$k").mkString(", ")}
       |        FROM lagged)
       |${(1 to maxLag).map(k =>
            s"""SELECT CAST($k AS BIGINT) AS lag, CAST(np$k AS BIGINT) AS n_pairs,
               |       CASE WHEN den > 0 THEN
               |         round(CAST(num$k AS DOUBLE) / CAST(den AS DOUBLE), 6) END AS r
               |FROM agg""".stripMargin).mkString("\nUNION ALL\n")}
       |ORDER BY lag""".stripMargin

  /** CUSUM change-point report over a daily count series — where did the
    * level shift? Sₜ = Σᵢ≤ₜ(xᵢ − x̄) from EXACT operands (the cumulative
    * count and t·x̄ are a long and a double-of-exact-longs, so both
    * engines produce bit-identical Sₜ), the change point is the
    * max-|Sₜ| day (ties → earliest day), and the report carries the
    * before/after level means. One row out.
    *
    * Scale shape: like [[acf]], the window runs over the one-row-per-day
    * post-aggregate series; the fact pass is one hash aggregate.
    */
  def cusumChangePoint(df: DataFrame, dayCol: Column): DataFrame = {
    val daily = df.groupBy(dayCol.as("day")).agg(count(lit(1)).as("_x"))
    val stats = daily.agg(count(lit(1)).as("_n"), sum("_x").as("_tot"))
    val w = Window.orderBy("day")
    val cum = daily
      .select(col("day"), col("_x"),
        sum("_x").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("_cum"),
        row_number().over(w).cast("long").as("_t"))
      .crossJoin(broadcast(stats))
    val xbar = col("_tot").cast("double") / col("_n").cast("double")
    val s = col("_cum").cast("double") - col("_t").cast("double") * xbar
    val scored = cum.select(col("day"), col("_n"), col("_tot"), col("_cum"),
      col("_t"), abs(s).as("_abs"))
    val pick = Window.orderBy(col("_abs").desc, col("day"))
    scored.withColumn("_rn", row_number().over(pick))
      .filter(col("_rn") === 1)
      .select(col("day").as("change_day"),
        col("_n").as("n_days"),
        round(col("_abs"), 4).as("max_abs_cusum"),
        round(col("_cum").cast("double") / col("_t").cast("double"), 4)
          .as("mean_before"),
        round(when(col("_n") > col("_t"),
            (col("_tot") - col("_cum")).cast("double")
              / (col("_n") - col("_t")).cast("double")), 4)
          .as("mean_after"))
  }

  /** Generated DuckDB oracle for [[cusumChangePoint]]. */
  def cusumOracleSql(table: String, dayExpr: String): String =
    s"""WITH daily AS (SELECT $dayExpr AS day, COUNT(*) AS x
       |               FROM $table GROUP BY 1),
       |st AS (SELECT COUNT(*) AS n, SUM(x) AS tot FROM daily),
       |cum AS (SELECT day, x,
       |               SUM(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
       |                            AND CURRENT ROW) AS c,
       |               ROW_NUMBER() OVER (ORDER BY day) AS t
       |        FROM daily),
       |scored AS (SELECT day, c, t, n, tot,
       |                  abs(CAST(c AS DOUBLE)
       |                      - CAST(t AS DOUBLE) * CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))
       |                    AS a
       |           FROM cum CROSS JOIN st),
       |pick AS (SELECT *, ROW_NUMBER() OVER (ORDER BY a DESC, day) AS rn FROM scored)
       |SELECT day AS change_day, CAST(n AS BIGINT) AS n_days,
       |       round(a, 4) AS max_abs_cusum,
       |       round(CAST(c AS DOUBLE) / CAST(t AS DOUBLE), 4) AS mean_before,
       |       round(CASE WHEN n > t THEN CAST(tot - c AS DOUBLE) / CAST(n - t AS DOUBLE)
       |             END, 4) AS mean_after
       |FROM pick WHERE rn = 1""".stripMargin

  /** Pareto frontier (2-D skyline): the non-dominated (x minimized,
    * y maximized) points — price/size efficient frontiers, quality/cost
    * trade-off curves. A point is dominated iff another point is ≤ on x
    * and ≥ on y with at least one strict.
    *
    * Plan (scale-safe, round 15 — the old form ran one GLOBAL window over
    * the distinct pair table, a single-task sort when x is
    * continuous-valued): collapse to DISTINCT (x, y) pairs with
    * multiplicities, reduce to the per-x max-y point (only it can
    * survive — any lower y at the same x is dominated), then the classic
    * skyline pre-reduction: per-X-RANGE-BUCKET local running maxima
    * (windows PARTITIONED by bucket — parallel, each over ~1/10⁴ of the
    * distinct xs) composed with per-bucket offset maxima from one window
    * over the ≤ `buckets`-row bucket aggregate. A point survives iff its
    * y strictly exceeds both the running max inside its bucket and the
    * max of every earlier bucket — exactly the running-max rule of the
    * naive (x asc, y desc) window, because the bucket key
    * floor((x−xmin)/w) is monotone in x, so earlier buckets hold only
    * smaller-or-equal xs. Null x/y are excluded (dominance is undefined
    * on null, and the two engines disagree on NULL sort order).
    *
    * Residual: an x-domain so degenerate that every distinct x casts to
    * one double collapses to a single bucket — the naive window's
    * behavior, over a tiny pair table by construction.
    * Naive-equivalence (and the definitional NOT EXISTS) spec-asserted
    * on multi-partition fixtures; the oracle replays the definitional
    * quadratic form.
    */
  def paretoFrontier(df: DataFrame, xCol: String, yCol: String,
                     buckets: Int = 10000): DataFrame = {
    require(buckets >= 1, s"need buckets >= 1, got $buckets")
    val pts = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("n_rows"))
    // per-x reduction: max struct(y, n_rows) = the x-group's max-y pair
    // (y is unique within the group after the distinct-pair collapse).
    // localCheckpointed before the consumers: the mm and bucket-offset
    // broadcast inputs build on parallel threads at execution start, and
    // each would otherwise recompute the full-scan pair aggregate (the
    // abcClasses finding — see that operator's perV note)
    val perX = Checkpoints(pts.groupBy("x")
      .agg(max(struct(col("y"), col("n_rows"))).as("_m"))
      .select(col("x"), col("_m.y").as("y"), col("_m.n_rows").as("n_rows")))
    // bucket assignment: double cast is monotone (non-strictly) in x, and
    // the rule only needs monotonicity — ties at bucket edges stay exact
    // because the within-bucket window orders by true x
    val mm = perX.agg(min(col("x").cast("double")).as("_lo"),
      max(col("x").cast("double")).as("_hi"))
    val width = greatest((col("_hi") - col("_lo")) / buckets, lit(1e-300))
    val bucketed = perX.crossJoin(broadcast(mm))
      .withColumn("_b", least(
        floor((col("x").cast("double") - col("_lo")) / width),
        lit(buckets.toLong)).cast("long"))
      .drop("_lo", "_hi")
    // per-bucket max y, then the running max over STRICTLY EARLIER
    // buckets — one window over ≤ buckets+1 tiny rows
    val perBucket = bucketed.groupBy("_b").agg(max("y").as("_by"))
    val wb = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perBucket
      .withColumn("_offMax", max(col("_by")).over(wb))
      .select(col("_b"), col("_offMax"))
    // within-bucket running max, partitioned — the parallel part
    val wi = Window.partitionBy("_b").orderBy(col("x").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed.join(broadcast(offsets), "_b")
      .withColumn("_inMax", max(col("y")).over(wi))
      .filter((col("_offMax").isNull || col("y") > col("_offMax")) &&
        (col("_inMax").isNull || col("y") > col("_inMax")))
      .select(col("x"), col("y"), col("n_rows"))
      .orderBy("x")
  }

  /** Generated DuckDB oracle for [[paretoFrontier]] — the definitional
    * quadratic NOT EXISTS over distinct pairs (quadratic is fine for an
    * oracle; the operator's window form is the scale path). */
  def paretoOracleSql(table: String, xExpr: String, yExpr: String): String =
    s"""WITH pts AS (SELECT $xExpr AS x, $yExpr AS y, COUNT(*) AS n_rows
       |             FROM $table
       |             WHERE $xExpr IS NOT NULL AND $yExpr IS NOT NULL
       |             GROUP BY 1, 2)
       |SELECT x, y, n_rows FROM pts p
       |WHERE NOT EXISTS (SELECT 1 FROM pts q
       |                  WHERE q.x <= p.x AND q.y >= p.y
       |                    AND (q.x < p.x OR q.y > p.y))
       |ORDER BY x""".stripMargin

  /** Holt linear-trend forecast over a daily-aggregated series: level
    * lₜ = α·xₜ + (1−α)(lₜ₋₁+bₜ₋₁), trend bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁,
    * init l₁ = x₁, b₁ = x₂−x₁, h-step forecast lₙ + h·bₙ. The recursion
    * is inherently sequential, so the POST-AGGREGATE series (one row per
    * day — calendar-bounded, ≤ `maxSeriesLen`, the poolK/Misra-Gries
    * bounded-materialization carve-out) is collected and recursed
    * driver-side; the fact table itself never leaves the cluster — its
    * only pass is the exact-decimal daily hash aggregate. Determinism:
    * the recursion is ordered double arithmetic replayed operand-for-
    * operand by the oracle's RECURSIVE CTE (α/β embedded as round-trip
    * double literals).
    */
  def holtForecast(df: DataFrame, dayCol: Column, valueCol: Column,
                   alpha: Double = 0.5, beta: Double = 0.3, horizon: Int = 7,
                   maxSeriesLen: Int = 100000): DataFrame = {
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1, "need 0 < alpha, beta < 1")
    val spark = df.sparkSession
    import spark.implicits._
    val daily = df.groupBy(dayCol.as("_day"))
      .agg(sum(valueCol.cast(DecimalType(20, 6))).cast("double").as("_x"))
    val xs = daily.orderBy("_day").select("_x").as[Double].collect()
    require(xs.length >= 2, s"Holt needs >= 2 points, got ${xs.length}")
    require(xs.length <= maxSeriesLen,
      s"series ${xs.length} exceeds the bounded-materialization cap $maxSeriesLen")
    var l = xs(0)
    var b = xs(1) - xs(0)
    var i = 1
    while (i < xs.length) {
      val lPrev = l
      l = alpha * xs(i) + (1 - alpha) * (l + b)
      b = beta * (l - lPrev) + (1 - beta) * b
      i += 1
    }
    val lF = l; val bF = b
    (1 to horizon).map(h => (h.toLong, lF + h * bF, lF, bF))
      .toDF("h", "_f", "_l", "_b")
      .select(col("h"), round(col("_f"), 4).as("forecast"),
        round(col("_l"), 4).as("level"), round(col("_b"), 4).as("trend"))
      .orderBy("h")
  }

  /** Generated DuckDB oracle for [[holtForecast]]: the same recursion as
    * a RECURSIVE CTE, the same exact-decimal daily collapse, α/β and
    * their complements embedded as round-trip double literals. */
  def holtOracleSql(table: String, dayExpr: String, valueExpr: String,
                    alpha: Double = 0.5, beta: Double = 0.3,
                    horizon: Int = 7): String = {
    val a = alpha.toString; val ca = (1 - alpha).toString
    val bt = beta.toString; val cb = (1 - beta).toString
    s"""WITH RECURSIVE daily AS (
       |  SELECT CAST(SUM(CAST(v AS DECIMAL(20,6))) AS DOUBLE) AS x,
       |         ROW_NUMBER() OVER (ORDER BY day) AS t
       |  FROM (SELECT $dayExpr AS day, $valueExpr AS v FROM $table) GROUP BY day),
       |nn AS (SELECT COUNT(*) AS n FROM daily),
       |rec(t, l, b) AS (
       |  SELECT CAST(1 AS BIGINT), d1.x, d2.x - d1.x
       |  FROM daily d1, daily d2 WHERE d1.t = 1 AND d2.t = 2
       |  UNION ALL
       |  SELECT r.t + 1,
       |         $a * d.x + $ca * (r.l + r.b),
       |         $bt * (($a * d.x + $ca * (r.l + r.b)) - r.l) + $cb * r.b
       |  FROM rec r JOIN daily d ON d.t = r.t + 1),
       |fin AS (SELECT l, b FROM rec CROSS JOIN nn WHERE t = nn.n)
       |SELECT CAST(h AS BIGINT) AS h, round(l + h * b, 4) AS forecast,
       |       round(l, 4) AS level, round(b, 4) AS trend
       |FROM fin, generate_series(1, $horizon) AS g(h) ORDER BY h""".stripMargin
  }

  /** ABC (Pareto 80/15/5) classification — the inventory/contribution
    * analysis: entities ranked by value descending, class A = the head
    * up to 80% cumulative share, B to 95%, C the tail. `entities` is one
    * row per (id, value); values sum in DECIMAL(20,6) (order-free
    * exact), the cumulative share rounds to 9 BEFORE the threshold
    * compare so both engines classify from the identical double, and
    * ranking ties break by id. Output is the 3-row class summary.
    * Values must be NON-NEGATIVE (the contribution contract — negative
    * contributions have no ABC semantics; enforced with an in-plan
    * raise_error); null-valued entities contribute nothing and land in
    * class C, exactly where the ranked form put them.
    *
    * Scale shape (round 15 — the old form ran one UNPARTITIONED
    * cumulative window, a single-task sort of the whole entity table):
    * the 3-row summary never needs per-entity ranks. Entities with equal
    * value contribute identically, so only (value, count) matters —
    * one hash aggregate to the distinct-value table, each value group's
    * exact cumulative-before from the bucketed prefix engine
    * ([[prefixSumsAsc]]: per-VALUE-RANGE-BUCKET windows partitioned by
    * bucket + one window over the ≤ `buckets`-row bucket aggregate, all
    * order-free exact decimal; the descending prefix is the total minus
    * the ascending inclusive one), and a CLOSED-FORM split of each value
    * group across the two thresholds: the k-th entity of a group has
    * share round((B + k·v)/tot, 9), monotone in k, so the class-A count
    * is the largest qualifying k — located by BINARY SEARCH on the exact
    * engine expression itself (round 16, from the r15 ADVICE: the prior
    * double estimate's error scales as ~(tot/v)·2⁻⁵³, which escapes any
    * fixed probe window once a group's value is tiny relative to the
    * corpus total; the search needs no error bound at all and its
    * iteration count is ceil(log₂ cnt) — cnt is a per-value
    * multiplicity, 1 for most distinct values). No entity-level window
    * anywhere; naive-equivalence spec-asserted, oracle replays the
    * ranked form.
    */
  def abcClasses(entities: DataFrame, valueCol: String, idCol: String,
                 aShare: Double = 0.8, bShare: Double = 0.95,
                 buckets: Int = 10000): DataFrame = {
    require(aShare > 0 && aShare < bShare && bShare < 1,
      s"need 0 < aShare < bShare < 1, got $aShare/$bShare")
    require(buckets >= 1, s"need buckets >= 1, got $buckets")
    val dec38 = DecimalType(38, 6)
    val v0 = col(valueCol).cast(DecimalType(20, 6))
    val guarded = when(v0.isNull || v0 >= 0, v0)
      .otherwise(raise_error(format_string(
        "abcClasses: negative value %s — ABC contribution analysis needs " +
          "non-negative values; filter or clamp upstream", v0)))
    // ONE pass over the entity table; everything downstream (the bucket
    // bounds, the tot/nn broadcast and the main path) reads the
    // distinct-value aggregate.
    val perV = Checkpoints(entities.select(guarded.as("_v"))
      .groupBy("_v").agg(count(lit(1)).as("_cnt")))
    val grpTotal = (col("_v") * col("_cnt")).cast(dec38)
    // ONE 1-row broadcast carries the total and the null-entity count
    val stats = perV.agg(
      sum(when(col("_v").isNotNull, grpTotal)).cast(dec38).as("_tot"),
      coalesce(sum(when(col("_v").isNull, col("_cnt"))), lit(0L)).as("_nn"))
    // value ranked ahead of the group (DESCENDING order) = total −
    // (ascending exclusive prefix + own group total): exact in DECIMAL,
    // so the ascending prefix engine serves the descending ranking
    val withCum = prefixSumsAsc(
        perV.filter(col("_v").isNotNull).withColumn("_gt", grpTotal),
        Seq("_gt"), buckets)
      .crossJoin(broadcast(stats))
      .withColumn("_B",
        (col("_tot") - (col("_pre_gt") + col("_gt"))).cast(dec38))
    // closed-form class split of one value group: share of the group's
    // k-th entity replayed EXACTLY as the ranked form computed it
    val totD = col("_tot").cast("double")
    def sOf(k: Column): Column =
      round((col("_B") + k.cast(DecimalType(20, 0)) * col("_v"))
        .cast("double") / totD, 9)
    def kMax(share: Double): Column = {
      // Largest k in [0, cnt] with sOf(k) <= share, by binary search on
      // the monotone sOf itself — exact by construction, no error-bound
      // reasoning (k = 0 always qualifies: zero entities taken is always
      // a valid, share-0 prefix of the group). Invariant entering the
      // loop: P(lo) ∧ ¬P(hi) (the ok(cnt) branch below has already
      // returned cnt when the whole group qualifies), so the converged
      // lo is the answer. Halving width w -> ceil(w/2) reaches 1 in
      // ceil(log2 cnt) steps; +1 iteration absorbs any log2 double
      // wobble, and surplus iterations no-op on the width-1 guard.
      def ok(k: Column): Column = sOf(k) <= share
      val iters = greatest(lit(1L),
        (ceil(log(2.0, col("_cnt"))) + 1).cast("long"))
      val searched = aggregate(
        sequence(lit(1L), iters),
        struct(lit(0L).as("lo"), col("_cnt").as("hi")),
        (acc, _) => {
          val lo = acc.getField("lo")
          val hi = acc.getField("hi")
          val mid = shiftright(lo + hi, 1)
          when(hi - lo <= 1, acc).otherwise(
            when(ok(mid), struct(mid.as("lo"), hi.as("hi")))
              .otherwise(struct(lo.as("lo"), mid.as("hi"))))
        },
        acc => acc.getField("lo"))
      when(col("_tot") <= 0, lit(0L))
        .when(col("_v") === 0,
          when(sOf(lit(0L)) <= share, col("_cnt")).otherwise(lit(0L)))
        .when(ok(col("_cnt")), col("_cnt"))
        .otherwise(searched)
    }
    val scored = withCum.select(col("_v"), col("_cnt"), col("_tot"),
      kMax(aShare).as("_ka"), kMax(bShare).as("_kb"))
    val kDec = (c: Column) => c.cast(DecimalType(20, 0))
    val agg1 = scored.agg(
      sum("_ka").as("na"), sum(kDec(col("_ka")) * col("_v")).cast(dec38).as("va"),
      sum(col("_kb") - col("_ka")).as("nb"),
      sum(kDec(col("_kb") - col("_ka")) * col("_v")).cast(dec38).as("vb"),
      sum(col("_cnt") - col("_kb")).as("nc"),
      sum(kDec(col("_cnt") - col("_kb")) * col("_v")).cast(dec38).as("vc"))
    // the 1-row stats broadcast is reused, so the total and null count
    // survive even an all-null or empty value table, where agg1's sums
    // are null
    agg1.crossJoin(broadcast(stats))
      .select(col("_tot"), explode(array(
        struct(lit("A").as("c"), col("na").as("n"), col("va").as("v")),
        struct(lit("B").as("c"), col("nb").as("n"), col("vb").as("v")),
        struct(lit("C").as("c"),
          (coalesce(col("nc"), lit(0L)) + col("_nn")).as("n"),
          col("vc").as("v")))).as("r"))
      .select(col("r.c").as("abc_class"),
        coalesce(col("r.n"), lit(0L)).as("n_entities"),
        round(coalesce(col("r.v"), lit(0).cast(dec38)).cast("double"), 2)
          .as("class_value"),
        round(coalesce(col("r.v"), lit(0).cast(dec38)).cast("double")
          / col("_tot").cast("double"), 6).as("class_share"))
      .filter(col("n_entities") > 0)
      .orderBy("abc_class")
  }

  /** Generated DuckDB oracle for [[abcClasses]]: `entitySql` must yield
    * the same (id, value) rows the Spark caller built. */
  def abcOracleSql(entitySql: String, valueCol: String, idCol: String,
                   aShare: Double = 0.8, bShare: Double = 0.95): String =
    s"""WITH ent AS ($entitySql),
       |t AS (SELECT SUM(CAST($valueCol AS DECIMAL(20,6))) AS tot FROM ent),
       |r AS (SELECT CAST($valueCol AS DECIMAL(20,6)) AS v,
       |             SUM(CAST($valueCol AS DECIMAL(20,6)))
       |               OVER (ORDER BY $valueCol DESC, $idCol
       |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM ent),
       |c AS (SELECT v,
       |             CASE WHEN round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 9) <= $aShare THEN 'A'
       |                  WHEN round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 9) <= $bShare THEN 'B'
       |                  ELSE 'C' END AS abc_class,
       |             tot
       |      FROM r CROSS JOIN t)
       |SELECT abc_class, COUNT(*) AS n_entities,
       |       round(CAST(SUM(v) AS DOUBLE), 2) AS class_value,
       |       round(CAST(SUM(v) AS DOUBLE) / CAST(MAX(tot) AS DOUBLE), 6) AS class_share
       |FROM c GROUP BY abc_class ORDER BY abc_class""".stripMargin

  /** Two-proportion z-test — the A/B-readout primitive: does cohort A's
    * event rate differ from cohort B's beyond sampling noise? Pooled
    * z = (p̂₁−p̂₂)/√(p̂(1−p̂)(1/n₁+1/n₂)); every input is an exact long
    * from ONE conditional aggregate over the scan (no shuffle beyond the
    * 1-row gather), so the doubles are engine-identical. `groupFlag` and
    * `outcomeFlag` are boolean columns. One row out.
    */
  def twoProportionZ(df: DataFrame, groupFlag: Column, outcomeFlag: Column,
                     zCrit: Double = 1.96): DataFrame = {
    val g = groupFlag; val o = outcomeFlag
    val agg = df.agg(
      sum(when(g, 1L).otherwise(0L)).as("n_a"),
      sum(when(g && o, 1L).otherwise(0L)).as("x_a"),
      sum(when(!g, 1L).otherwise(0L)).as("n_b"),
      sum(when(!g && o, 1L).otherwise(0L)).as("x_b"))
    val na = col("n_a").cast("double"); val xa = col("x_a").cast("double")
    val nb = col("n_b").cast("double"); val xb = col("x_b").cast("double")
    val p1 = xa / na; val p2 = xb / nb
    val pp = (xa + xb) / (na + nb)
    val se = sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / na + lit(1.0) / nb))
    val z = (p1 - p2) / se
    // degenerate-input guard as exact INTEGER conditions (engine-portable,
    // no double compare): an empty cohort (n=0) or an all-same outcome
    // (pooled p̂ of 0 or 1 ⇒ se = 0) makes z a 0/0 NaN, and Spark orders
    // NaN above every double so `abs(z) > zCrit` would read significant
    // on a degenerate readout. Well-defined ⇔ both cohorts non-empty and
    // 0 < x_a+x_b < n_a+n_b; otherwise z is null and significant false.
    val ok = col("n_a") > 0 && col("n_b") > 0 &&
      (col("x_a") + col("x_b")) > 0 &&
      (col("x_a") + col("x_b")) < (col("n_a") + col("n_b"))
    agg.select(col("n_a"), col("x_a"),
      round(when(col("n_a") > 0, p1), 6).as("rate_a"),
      col("n_b"), col("x_b"),
      round(when(col("n_b") > 0, p2), 6).as("rate_b"),
      round(when(ok, z), 4).as("z"),
      coalesce(when(ok, abs(z) > zCrit), lit(false)).as("significant"))
  }

  /** Generated DuckDB oracle for [[twoProportionZ]]: `groupExpr` /
    * `outcomeExpr` must compute the Spark flags. */
  def twoProportionZOracleSql(fromSql: String, groupExpr: String,
                              outcomeExpr: String,
                              zCrit: Double = 1.96): String =
    s"""WITH s AS (SELECT $groupExpr AS g, $outcomeExpr AS o FROM $fromSql),
       |agg AS (SELECT
       |  CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |  CAST(SUM(CASE WHEN g AND o THEN 1 ELSE 0 END) AS BIGINT) AS x_a,
       |  CAST(SUM(CASE WHEN NOT g THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |  CAST(SUM(CASE WHEN NOT g AND o THEN 1 ELSE 0 END) AS BIGINT) AS x_b
       |  FROM s),
       |ok AS (SELECT *,
       |  (n_a > 0 AND n_b > 0 AND x_a + x_b > 0 AND x_a + x_b < n_a + n_b) AS wd
       |  FROM agg)
       |SELECT n_a, x_a,
       |       round(CASE WHEN n_a > 0
       |             THEN CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) END, 6) AS rate_a,
       |       n_b, x_b,
       |       round(CASE WHEN n_b > 0
       |             THEN CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) END, 6) AS rate_b,
       |       round(CASE WHEN wd THEN
       |             (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
       |              - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
       |             / sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
       |                    * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
       |                    * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) END, 4) AS z,
       |       COALESCE(CASE WHEN wd THEN
       |           abs((CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
       |                - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
       |               / sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
       |                      * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
       |                      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))) > $zCrit
       |         END, FALSE) AS significant
       |FROM ok""".stripMargin

  /** Bucketed quantile normalization — make every group's value
    * distribution comparable by mapping each (group, quantile-bucket) to
    * the cross-group mean of that bucket's mean (the rank-based
    * normalization genomics/BatchNorm-style pipelines apply before
    * cross-source comparisons; bucketed because the exact rank-matched
    * form requires equal group sizes). ntile assigns buckets within each
    * group ordered by (value, id) — deterministic ties, SQL-standard
    * uneven split (both engines give earlier buckets the extra row).
    * Per-bucket means are double-over-exact-decimal; the cross-group
    * mean re-quantizes the per-group means to DECIMAL(18,6) so ITS sum
    * is order-free too.
    *
    * Scale shape: one window sort within each group, two small
    * aggregates; output is (groups × buckets) rows.
    */
  def quantileNormalize(df: DataFrame, valueCol: String, groupCol: String,
                        idCol: String, nBuckets: Int = 20): DataFrame = {
    require(nBuckets >= 2, s"need >= 2 buckets, got $nBuckets")
    val w = Window.partitionBy(groupCol).orderBy(col(valueCol), col(idCol))
    // same null discipline as [[giniByGroup]]: Spark ranks NULLs first,
    // DuckDB last — a null value would shift every bucket assignment, so
    // nulls are excluded on both sides
    val bucketed = df.select(col(groupCol), col(idCol), col(valueCol))
      .filter(col(valueCol).isNotNull)
      .withColumn("bucket", ntile(nBuckets).over(w).cast("long"))
    val perGB = bucketed.groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col(valueCol).cast(DecimalType(20, 6))).as("_s"))
      .withColumn("_mean",
        (col("_s").cast("double") / col("n_rows").cast("double")))
    val norm = perGB.groupBy("bucket")
      .agg((sum(round(col("_mean"), 6).cast(DecimalType(18, 6))).cast("double")
          / count(lit(1)).cast("double")).as("_norm"))
    perGB.join(norm, "bucket")
      .select(col(groupCol), col("bucket"), col("n_rows"),
        round(col("_mean"), 4).as("mean_raw"),
        round(col("_norm"), 4).as("norm_value"))
      .orderBy(groupCol, "bucket")
  }

  /** Generated DuckDB oracle for [[quantileNormalize]]. */
  def quantileNormalizeOracleSql(table: String, valueCol: String,
                                 groupCol: String, idCol: String,
                                 nBuckets: Int = 20): String =
    s"""WITH b AS (SELECT $groupCol, $valueCol,
       |                  CAST(ntile($nBuckets) OVER (PARTITION BY $groupCol
       |                       ORDER BY $valueCol, $idCol) AS BIGINT) AS bucket
       |           FROM $table WHERE $valueCol IS NOT NULL),
       |gb AS (SELECT $groupCol, bucket, COUNT(*) AS n_rows,
       |              CAST(SUM(CAST($valueCol AS DECIMAL(20,6))) AS DOUBLE)
       |                / CAST(COUNT(*) AS DOUBLE) AS m
       |       FROM b GROUP BY $groupCol, bucket),
       |nv AS (SELECT bucket,
       |              CAST(SUM(CAST(round(m, 6) AS DECIMAL(18,6))) AS DOUBLE)
       |                / CAST(COUNT(*) AS DOUBLE) AS nrm
       |       FROM gb GROUP BY bucket)
       |SELECT gb.$groupCol, gb.bucket, gb.n_rows,
       |       round(gb.m, 4) AS mean_raw, round(nv.nrm, 4) AS norm_value
       |FROM gb JOIN nv ON gb.bucket = nv.bucket
       |ORDER BY gb.$groupCol, gb.bucket""".stripMargin

  /** Shuffle-key skew audit — the before-you-join diagnostic this engine
    * itself preaches: per-key row counts reduced to the numbers that
    * predict shuffle behavior (top key and its share of all rows, exact
    * p50/p90/p99 of the per-key count distribution, and the p99/p50
    * ratio — >10 says "salt this key or let AQE split it"). Everything
    * after the per-key count is post-aggregate (one row per key); the
    * top key resolves ties by smallest key string for determinism. One
    * row out.
    */
  def keySkewAudit(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol).cast("string").as("_key"))
      .agg(count(lit(1)).as("_c"))
    // top key via orderBy+limit — plans TakeOrderedAndProject (bounded
    // per-partition heap + driver merge), never the single-task global
    // window that would make the skew DIAGNOSTIC itself the skew on a
    // billion-key column; (_c desc, _key) stays a total order so the
    // smallest-key tie rule is unchanged
    val top = counts.orderBy(col("_c").desc, col("_key")).limit(1)
      .select(col("_key").as("top_key"), col("_c").as("top_count"))
    val agg = counts.agg(
      count(lit(1)).as("n_keys"), sum("_c").as("n_rows"),
      expr("percentile(_c, 0.5)").as("_p50"),
      expr("percentile(_c, 0.9)").as("_p90"),
      expr("percentile(_c, 0.99)").as("_p99"))
    agg.crossJoin(broadcast(top))
      .select(col("n_keys"), col("n_rows"), col("top_key"), col("top_count"),
        round(col("top_count").cast("double") / col("n_rows").cast("double"), 6)
          .as("top_share"),
        round(col("_p50"), 4).as("p50_count"),
        round(col("_p90"), 4).as("p90_count"),
        round(col("_p99"), 4).as("p99_count"),
        round(col("_p99") / col("_p50"), 4).as("skew_p99_p50"))
  }

  /** Generated DuckDB oracle for [[keySkewAudit]]. */
  def keySkewAuditOracleSql(table: String, keyExpr: String): String =
    s"""WITH counts AS (SELECT CAST($keyExpr AS VARCHAR) AS key, COUNT(*) AS c
       |                FROM $table GROUP BY 1),
       |top AS (SELECT key AS top_key, c AS top_count FROM counts
       |        ORDER BY c DESC, key LIMIT 1),
       |agg AS (SELECT COUNT(*) AS n_keys, SUM(c) AS n_rows,
       |               quantile_cont(c, 0.5) AS p50,
       |               quantile_cont(c, 0.9) AS p90,
       |               quantile_cont(c, 0.99) AS p99
       |        FROM counts)
       |SELECT n_keys, CAST(n_rows AS BIGINT) AS n_rows, top_key,
       |       CAST(top_count AS BIGINT) AS top_count,
       |       round(CAST(top_count AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
       |         AS top_share,
       |       round(p50, 4) AS p50_count, round(p90, 4) AS p90_count,
       |       round(p99, 4) AS p99_count,
       |       round(p99 / p50, 4) AS skew_p99_p50
       |FROM agg CROSS JOIN top""".stripMargin

  /** Period-over-period growth report — monthly revenue with MoM change
    * and a trailing 3-month moving average: the core BI time-series
    * composite. The fact table collapses once to exact DECIMAL(20,6)
    * monthly sums; the lag/frame windows run over the one-row-per-month
    * post-aggregate ([[acf]] scale shape). The moving average divides
    * the exact 3-month decimal sum by the window row count, MoM divides
    * two exact decimals — all doubles over identical operands.
    */
  def monthlyGrowth(df: DataFrame, monthCol: Column, valueCol: Column): DataFrame = {
    val monthly = df.groupBy(monthCol.as("month"))
      .agg(sum(valueCol.cast(DecimalType(20, 6))).as("_v"))
    val w = Window.orderBy("month")
    val wf = w.rowsBetween(-2, Window.currentRow)
    monthly
      .withColumn("_prev", lag(col("_v"), 1).over(w))
      .withColumn("_ma_s", sum(col("_v")).over(wf))
      .withColumn("_ma_n", count(col("_v")).over(wf))
      .select(col("month"),
        round(col("_v").cast("double"), 2).as("revenue"),
        round(when(col("_prev").isNotNull && col("_prev") > 0,
          (col("_v") - col("_prev")).cast("double") / col("_prev").cast("double"))
          , 6).as("mom_pct"),
        round(col("_ma_s").cast("double") / col("_ma_n").cast("double"), 2)
          .as("ma3"))
      .orderBy("month")
  }

  /** Generated DuckDB oracle for [[monthlyGrowth]]. */
  def monthlyGrowthOracleSql(table: String, monthExpr: String,
                             valueExpr: String): String =
    s"""WITH m AS (SELECT $monthExpr AS month,
       |                  SUM(CAST($valueExpr AS DECIMAL(20,6))) AS v
       |           FROM $table GROUP BY 1),
       |w AS (SELECT month, v,
       |             lag(v, 1) OVER (ORDER BY month) AS prev,
       |             SUM(v) OVER (ORDER BY month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mas,
       |             COUNT(v) OVER (ORDER BY month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS man
       |      FROM m)
       |SELECT month, round(CAST(v AS DOUBLE), 2) AS revenue,
       |       round(CASE WHEN prev IS NOT NULL AND prev > 0
       |             THEN CAST(v - prev AS DOUBLE) / CAST(prev AS DOUBLE) END, 6)
       |         AS mom_pct,
       |       round(CAST(mas AS DOUBLE) / man, 2) AS ma3
       |FROM w ORDER BY month""".stripMargin

  /** Day-of-week seasonality profile — mean DAILY revenue per weekday
    * with an index against the overall daily mean (the is-Friday-bigger
    * probe behind the ACF's lag-7 reading). Two post-aggregate stages:
    * the fact table collapses once to exact DECIMAL(20,6) daily sums,
    * then per-dow means and the overall mean divide exact decimals.
    * `dow` is 0=Sunday..6 on both engines (Spark `dayofweek`−1 ↔ DuckDB
    * `dayofweek`).
    */
  def dowProfile(df: DataFrame, dayCol: Column, valueCol: Column): DataFrame = {
    val daily = df.groupBy(dayCol.as("_day"))
      .agg(sum(valueCol.cast(DecimalType(20, 6))).as("_v"))
    val overall = daily.agg(count(lit(1)).as("_nd"), sum("_v").as("_tv"))
    daily
      .withColumn("dow", (dayofweek(col("_day")) - 1).cast("long"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n_days"), sum("_v").as("_dv"))
      .crossJoin(broadcast(overall))
      .select(col("dow"), col("n_days"),
        round(col("_dv").cast("double") / col("n_days").cast("double"), 2)
          .as("mean_daily"),
        round((col("_dv").cast("double") / col("n_days").cast("double"))
          / (col("_tv").cast("double") / col("_nd").cast("double")), 6)
          .as("dow_index"))
      .orderBy("dow")
  }

  /** Generated DuckDB oracle for [[dowProfile]]. */
  def dowProfileOracleSql(table: String, dayExpr: String,
                          valueExpr: String): String =
    s"""WITH daily AS (SELECT $dayExpr AS day,
       |                      SUM(CAST($valueExpr AS DECIMAL(20,6))) AS v
       |               FROM $table GROUP BY 1),
       |ov AS (SELECT COUNT(*) AS nd, SUM(v) AS tv FROM daily),
       |d AS (SELECT CAST(dayofweek(day) AS BIGINT) AS dow,
       |             COUNT(*) AS n_days, SUM(v) AS dv
       |      FROM daily GROUP BY 1)
       |SELECT dow, n_days,
       |       round(CAST(dv AS DOUBLE) / n_days, 2) AS mean_daily,
       |       round((CAST(dv AS DOUBLE) / n_days)
       |             / (CAST(tv AS DOUBLE) / nd), 6) AS dow_index
       |FROM d CROSS JOIN ov ORDER BY dow""".stripMargin

  // ------------------------------------------------------------------
  // Round-15 statistical-test batch: rank/ECDF tests built on the same
  // bucketed prefix-sum engine as [[abcClasses]] — per-distinct-value
  // aggregation first (ranks and ECDFs only need value counts), exact
  // integer prefix sums composed from range-bucketed PARTITIONED windows
  // plus one window over the tiny bucket aggregate, doubles only in the
  // final test statistic. No entity-level sort anywhere.
  // ------------------------------------------------------------------

  /** Exclusive prefix sums of `sumCols` over a distinct-value table in
    * ASCENDING `_v` order, without a full-table window. `perV` must be
    * materialized (localCheckpoint) — the bucket-bound and bucket-offset
    * broadcast inputs build on parallel threads (the [[abcClasses]]
    * finding). Sum columns must be longs or decimals (order-free exact
    * sums); output adds `_pre<c>` per input column.
    */
  private def prefixSumsAsc(perV: DataFrame, sumCols: Seq[String],
                            buckets: Int = 10000,
                            partCols: Seq[String] = Nil): DataFrame = {
    // `partCols` (round 16, the grouped-test extension): prefix sums
    // restart per partition-key combination — every window below gains
    // the partition columns, the bucket bounds/offsets become per-group
    // rows, and the empty-seq default reproduces the ungrouped engine
    // expression-for-expression. CONTRACT (r16 review): the per-group
    // bounds and offsets tables broadcast UNCONDITIONALLY, so they must
    // stay driver-sized — partCols is a dashboard dimension (status,
    // source, cohort: tens of values, offsets ≤ groups × buckets rows),
    // NEVER an entity key. A caller grouping by a high-cardinality
    // column would blow the broadcast build; callers (mannWhitneyUBy /
    // ksTestBy) state the same bound on their byCol.
    val pc = partCols.map(col)
    val mmAggs = min(col("_v").cast("double")).as("_lo") ::
      max(col("_v").cast("double")).as("_hi") :: Nil
    val mm =
      if (partCols.isEmpty) perV.agg(mmAggs.head, mmAggs.tail: _*)
      else perV.groupBy(pc: _*).agg(mmAggs.head, mmAggs.tail: _*)
    val joined =
      if (partCols.isEmpty) perV.crossJoin(broadcast(mm))
      else perV.join(broadcast(mm), partCols)
    val width = greatest((col("_hi") - col("_lo")) / buckets, lit(1e-300))
    val bucketed = joined
      .withColumn("_b", least(
        floor((col("_v").cast("double") - col("_lo")) / width),
        lit(buckets.toLong)).cast("long"))
      .drop("_lo", "_hi")
    val perBucket = bucketed.groupBy((pc :+ col("_b")): _*)
      .agg(sum(col(sumCols.head)).as(s"_bt${sumCols.head}"),
        sumCols.tail.map(c => sum(col(c)).as(s"_bt$c")): _*)
    val wb = Window.partitionBy(pc: _*).orderBy("_b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perBucket.select((pc :+ col("_b")) ++ sumCols.map(c =>
      coalesce(sum(col(s"_bt$c")).over(wb), lit(0L)).as(s"_off$c")): _*)
    val wi = Window.partitionBy((pc :+ col("_b")): _*).orderBy(col("_v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    sumCols.foldLeft(bucketed.join(broadcast(offsets),
      (partCols :+ "_b"))) { (d, c) =>
      d.withColumn(s"_pre$c",
        col(s"_off$c") + coalesce(sum(col(c)).over(wi), lit(0L)))
    }.drop(sumCols.map(c => s"_off$c"): _*).drop("_b")
  }

  /** The (group, value) → per-distinct-value cohort counts table the two
    * rank/ECDF tests share. Null values are excluded (neither a rank nor
    * an ECDF is defined on null, and the engines disagree on NULL order).
    */
  private def cohortCounts(df: DataFrame, groupFlag: Column,
                           valueCol: String): DataFrame =
    Checkpoints(df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("_v"))
      .agg(sum(when(groupFlag, 1L).otherwise(0L)).as("_ca"),
        sum(when(!groupFlag, 1L).otherwise(0L)).as("_cb")))

  /** Mann-Whitney U (Wilcoxon rank-sum), normal approximation with the
    * standard tie correction — the nonparametric A/B readout on a numeric
    * metric (does cohort A's distribution stochastically dominate B's?):
    * U_A = R_A − n_A(n_A+1)/2 with R_A the tie-averaged rank sum,
    * z = (U_A − n_An_B/2)/σ, σ² = (n_An_B/12)·((n+1) − Σ(t³−t)/(n(n−1))).
    *
    * Exactness: ranks never materialize per entity — a value group with
    * prefix count B and size t has tie-averaged rank (2B + t + 1)/2, so
    * 2R_A = Σ c_A·(2B + t + 1), an exact DECIMAL(38,0) integer; the tie
    * term Σ(t³−t) likewise. z is one double expression over exact
    * integers, identical on both engines, rounded to 4. Degenerate
    * inputs (empty cohort, all values tied ⇒ σ = 0) give null z and
    * significant = false (the [[twoProportionZ]] discipline).
    *
    * Scale shape: one hash aggregate to the distinct-value table, the
    * bucketed prefix engine, one 1-row combine.
    */
  def mannWhitneyU(df: DataFrame, groupFlag: Column, valueCol: String,
                   zCrit: Double = 1.96, buckets: Int = 10000): DataFrame = {
    val dec = DecimalType(38, 0)
    val pre = prefixSumsAsc(cohortCounts(df, groupFlag, valueCol),
      Seq("_ca", "_cb"), buckets)
    val t = (col("_ca") + col("_cb")).cast(dec)
    val b = (col("_pre_ca") + col("_pre_cb")).cast(dec)
    val agg = pre.agg(
      coalesce(sum(col("_ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("_cb")), lit(0L)).as("n_b"),
      sum(col("_ca").cast(dec) * (lit(2).cast(dec) * b + t + lit(1).cast(dec)))
        .cast(dec).as("_r2a"),
      sum(t * t * t - t).cast(dec).as("_ties"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val n = na + nb
    // 2·U_A = 2R_A − n_A(n_A+1), exact decimal
    val u2a = (col("_r2a") - col("n_a").cast(dec) *
      (col("n_a").cast(dec) + lit(1).cast(dec))).cast(dec)
    val sigma2 = na * nb / 12.0 *
      ((n + 1.0) - col("_ties").cast("double") / (n * (n - 1.0)))
    // z = (U − μ)/σ = (2U − n_An_B)/(2σ); well-defined ⇔ both cohorts
    // non-empty, n ≥ 2 and not all values tied (σ² > 0 ⇔ ties < n³−n)
    val ok = col("n_a") > 0 && col("n_b") > 0 &&
      (col("n_a") + col("n_b")) >= 2 &&
      col("_ties").cast("double") < (n * n * n - n)
    val z = (u2a.cast("double") - na * nb) / (lit(2.0) * sqrt(sigma2))
    agg.select(col("n_a"), col("n_b"),
      round(u2a.cast("double") / 2.0, 1).as("u_a"),
      round(na * nb - u2a.cast("double") / 2.0, 1).as("u_b"),
      round(when(ok, z), 4).as("z"),
      coalesce(when(ok, abs(z) > zCrit), lit(false)).as("significant"))
  }

  /** Generated DuckDB oracle for [[mannWhitneyU]]: the same per-value
    * cohort counts, exclusive prefix window, exact HUGEINT rank/tie sums
    * and guarded double z. */
  def mannWhitneyUOracleSql(fromSql: String, groupExpr: String,
                            valueExpr: String,
                            zCrit: Double = 1.96): String =
    s"""WITH s AS (SELECT $valueExpr AS v, $groupExpr AS g FROM $fromSql
       |           WHERE $valueExpr IS NOT NULL),
       |pv AS (SELECT v,
       |         CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS HUGEINT) AS ca,
       |         CAST(SUM(CASE WHEN NOT g THEN 1 ELSE 0 END) AS HUGEINT) AS cb
       |       FROM s GROUP BY v),
       |pre AS (SELECT *, COALESCE(SUM(ca + cb) OVER (ORDER BY v
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |          CAST(0 AS HUGEINT)) AS b
       |        FROM pv),
       |agg AS (SELECT CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS n_a,
       |               CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS n_b,
       |               SUM(ca * (2 * b + ca + cb + 1)) AS r2a,
       |               SUM((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)) AS ties
       |        FROM pre),
       |f AS (SELECT *,
       |        CAST(r2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS DOUBLE) AS u2a,
       |        CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
       |        CAST(n_a + n_b AS DOUBLE) AS nd,
       |        (n_a > 0 AND n_b > 0 AND n_a + n_b >= 2 AND
       |         CAST(ties AS DOUBLE) < (CAST(n_a + n_b AS DOUBLE)
       |           * (n_a + n_b) * (n_a + n_b) - (n_a + n_b))) AS ok
       |      FROM agg)
       |SELECT n_a, n_b,
       |       round(u2a / 2.0, 1) AS u_a,
       |       round(nad * nbd - u2a / 2.0, 1) AS u_b,
       |       round(CASE WHEN ok THEN
       |           (u2a - nad * nbd)
       |           / (2.0 * sqrt(nad * nbd / 12.0
       |               * ((nd + 1.0) - CAST(ties AS DOUBLE) / (nd * (nd - 1.0)))))
       |         END, 4) AS z,
       |       COALESCE(CASE WHEN ok THEN
       |           abs((u2a - nad * nbd)
       |           / (2.0 * sqrt(nad * nbd / 12.0
       |               * ((nd + 1.0) - CAST(ties AS DOUBLE) / (nd * (nd - 1.0))))))
       |             > $zCrit
       |         END, FALSE) AS significant
       |FROM f""".stripMargin

  /** Two-sample Kolmogorov-Smirnov test — are the two cohorts' value
    * DISTRIBUTIONS the same? D = max_v |F_A(v) − F_B(v)| over the
    * observed support, compared against the large-sample critical value
    * c·√((n_A+n_B)/(n_A·n_B)) (c = 1.358 ⇒ α = 0.05).
    *
    * Exactness: the max runs over the INTEGERS |cumA·n_B − cumB·n_A|
    * (cross-multiplied ECDF numerators — no double enters the argmax),
    * and D divides once at the end; D and the threshold round to 6
    * before the significance compare so both engines decide from
    * identical doubles. Scale shape: the [[mannWhitneyU]] engine — one
    * value aggregate, bucketed prefix sums, a 1-row max.
    */
  def ksTest(df: DataFrame, groupFlag: Column, valueCol: String,
             cAlpha: Double = 1.358, buckets: Int = 10000): DataFrame = {
    val dec = DecimalType(38, 0)
    val pre = prefixSumsAsc(cohortCounts(df, groupFlag, valueCol),
      Seq("_ca", "_cb"), buckets)
    val agg = pre.agg(
      coalesce(sum(col("_ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("_cb")), lit(0L)).as("n_b"))
    val withT = pre.crossJoin(broadcast(agg))
      .select(col("n_a"), col("n_b"),
        abs((col("_pre_ca") + col("_ca")).cast(dec) * col("n_b").cast(dec) -
          (col("_pre_cb") + col("_cb")).cast(dec) * col("n_a").cast(dec))
          .as("_dnum"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val ok = col("n_a") > 0 && col("n_b") > 0
    val d = round(col("_dmax").cast("double") / (na * nb), 6)
    val thr = round(lit(cAlpha) * sqrt((na + nb) / (na * nb)), 6)
    // both sides are 1-row global aggregates, so the output is one row
    // even on an empty (all-null-value) input
    agg.crossJoin(broadcast(withT.agg(max(col("_dnum")).as("_dmax"))))
      .select(col("n_a"), col("n_b"),
        when(ok, d).as("d"),
        when(ok, thr).as("threshold"),
        coalesce(when(ok, d > thr), lit(false)).as("significant"))
  }

  /** Generated DuckDB oracle for [[ksTest]]. */
  def ksTestOracleSql(fromSql: String, groupExpr: String, valueExpr: String,
                      cAlpha: Double = 1.358): String =
    s"""WITH s AS (SELECT $valueExpr AS v, $groupExpr AS g FROM $fromSql
       |           WHERE $valueExpr IS NOT NULL),
       |pv AS (SELECT v,
       |         CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS HUGEINT) AS ca,
       |         CAST(SUM(CASE WHEN NOT g THEN 1 ELSE 0 END) AS HUGEINT) AS cb
       |       FROM s GROUP BY v),
       |cum AS (SELECT v,
       |          SUM(ca) OVER (ORDER BY v
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
       |          SUM(cb) OVER (ORDER BY v
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
       |        FROM pv),
       |tot AS (SELECT CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS n_a,
       |               CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS n_b FROM pv),
       |mx AS (SELECT MAX(abs(cuma * n_b - cumb * n_a)) AS dmax
       |       FROM cum CROSS JOIN tot)
       |SELECT n_a, n_b,
       |       CASE WHEN n_a > 0 AND n_b > 0 THEN
       |         round(CAST(dmax AS DOUBLE)
       |               / (CAST(n_a AS DOUBLE) * n_b), 6) END AS d,
       |       CASE WHEN n_a > 0 AND n_b > 0 THEN
       |         round($cAlpha * sqrt(CAST(n_a + n_b AS DOUBLE)
       |               / (CAST(n_a AS DOUBLE) * n_b)), 6) END AS threshold,
       |       COALESCE(CASE WHEN n_a > 0 AND n_b > 0 THEN
       |           round(CAST(dmax AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b), 6)
       |             > round($cAlpha * sqrt(CAST(n_a + n_b AS DOUBLE)
       |                 / (CAST(n_a AS DOUBLE) * n_b)), 6)
       |         END, FALSE) AS significant
       |FROM mx CROSS JOIN tot""".stripMargin

  /** Per-dimension [[mannWhitneyU]] — the curation-dashboard form (round
    * 16): one rank-sum test PER VALUE of `byCol` (per source, per
    * segment, per status), so a mixture controller reads one row per
    * slice instead of re-running the whole-table test N times. Identical
    * arithmetic to the ungrouped operator — the prefix-sum engine simply
    * gains the dimension as a partition key ([[prefixSumsAsc]]'s
    * `partCols`), so every rank/tie sum restarts per slice and each
    * row's z replays [[mannWhitneyU]] over exactly that slice
    * (spec-asserted path equality). Null dimensions are excluded (the
    * engines disagree on NULL group order); degenerate slices (one
    * cohort empty, all values tied) give null z and significant = false,
    * per the [[twoProportionZ]] discipline.
    *
    * `byCol` must be a DASHBOARD dimension — tens of values, not an
    * entity key: the grouped prefix engine broadcasts per-group bounds
    * and offsets tables (≤ groups × buckets rows) unconditionally, so a
    * high-cardinality dimension would blow the broadcast build (see
    * [[prefixSumsAsc]]'s partCols contract; same bound on [[ksTestBy]]).
    */
  def mannWhitneyUBy(df: DataFrame, byCol: String, groupFlag: Column,
                     valueCol: String, zCrit: Double = 1.96,
                     buckets: Int = 10000): DataFrame = {
    val dec = DecimalType(38, 0)
    val perV = Checkpoints(df.filter(col(valueCol).isNotNull && col(byCol).isNotNull)
      .groupBy(col(byCol).as("_g"), col(valueCol).as("_v"))
      .agg(sum(when(groupFlag, 1L).otherwise(0L)).as("_ca"),
        sum(when(!groupFlag, 1L).otherwise(0L)).as("_cb")))
    val pre = prefixSumsAsc(perV, Seq("_ca", "_cb"), buckets,
      partCols = Seq("_g"))
    val t = (col("_ca") + col("_cb")).cast(dec)
    val b = (col("_pre_ca") + col("_pre_cb")).cast(dec)
    val agg = pre.groupBy("_g").agg(
      coalesce(sum(col("_ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("_cb")), lit(0L)).as("n_b"),
      sum(col("_ca").cast(dec) * (lit(2).cast(dec) * b + t + lit(1).cast(dec)))
        .cast(dec).as("_r2a"),
      sum(t * t * t - t).cast(dec).as("_ties"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val n = na + nb
    val u2a = (col("_r2a") - col("n_a").cast(dec) *
      (col("n_a").cast(dec) + lit(1).cast(dec))).cast(dec)
    val sigma2 = na * nb / 12.0 *
      ((n + 1.0) - col("_ties").cast("double") / (n * (n - 1.0)))
    val ok = col("n_a") > 0 && col("n_b") > 0 &&
      (col("n_a") + col("n_b")) >= 2 &&
      col("_ties").cast("double") < (n * n * n - n)
    val z = (u2a.cast("double") - na * nb) / (lit(2.0) * sqrt(sigma2))
    agg.select(col("_g").as(byCol), col("n_a"), col("n_b"),
        round(u2a.cast("double") / 2.0, 1).as("u_a"),
        round(na * nb - u2a.cast("double") / 2.0, 1).as("u_b"),
        round(when(ok, z), 4).as("z"),
        coalesce(when(ok, abs(z) > zCrit), lit(false)).as("significant"))
      .orderBy(byCol)
  }

  /** Generated DuckDB oracle for [[mannWhitneyUBy]]: [[mannWhitneyUOracleSql]]
    * with the dimension threaded through every CTE and the prefix window
    * partitioned by it. */
  def mannWhitneyUByOracleSql(fromSql: String, byExpr: String,
                              groupExpr: String, valueExpr: String,
                              zCrit: Double = 1.96): String =
    s"""WITH s AS (SELECT $byExpr AS gd, $valueExpr AS v, $groupExpr AS g
       |           FROM $fromSql
       |           WHERE $valueExpr IS NOT NULL AND $byExpr IS NOT NULL),
       |pv AS (SELECT gd, v,
       |         CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS HUGEINT) AS ca,
       |         CAST(SUM(CASE WHEN NOT g THEN 1 ELSE 0 END) AS HUGEINT) AS cb
       |       FROM s GROUP BY gd, v),
       |pre AS (SELECT *, COALESCE(SUM(ca + cb) OVER (PARTITION BY gd ORDER BY v
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |          CAST(0 AS HUGEINT)) AS b
       |        FROM pv),
       |agg AS (SELECT gd, CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS n_a,
       |               CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS n_b,
       |               SUM(ca * (2 * b + ca + cb + 1)) AS r2a,
       |               SUM((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)) AS ties
       |        FROM pre GROUP BY gd),
       |f AS (SELECT *,
       |        CAST(r2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS DOUBLE) AS u2a,
       |        CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
       |        CAST(n_a + n_b AS DOUBLE) AS nd,
       |        (n_a > 0 AND n_b > 0 AND n_a + n_b >= 2 AND
       |         CAST(ties AS DOUBLE) < (CAST(n_a + n_b AS DOUBLE)
       |           * (n_a + n_b) * (n_a + n_b) - (n_a + n_b))) AS ok
       |      FROM agg)
       |SELECT gd AS $byExpr, n_a, n_b,
       |       round(u2a / 2.0, 1) AS u_a,
       |       round(nad * nbd - u2a / 2.0, 1) AS u_b,
       |       round(CASE WHEN ok THEN
       |           (u2a - nad * nbd)
       |           / (2.0 * sqrt(nad * nbd / 12.0
       |               * ((nd + 1.0) - CAST(ties AS DOUBLE) / (nd * (nd - 1.0)))))
       |         END, 4) AS z,
       |       COALESCE(CASE WHEN ok THEN
       |           abs((u2a - nad * nbd)
       |           / (2.0 * sqrt(nad * nbd / 12.0
       |               * ((nd + 1.0) - CAST(ties AS DOUBLE) / (nd * (nd - 1.0))))))
       |             > $zCrit
       |         END, FALSE) AS significant
       |FROM f ORDER BY gd""".stripMargin

  /** Per-dimension [[ksTest]] — one two-sample KS distance per `byCol`
    * value, the distribution-level sibling of [[mannWhitneyUBy]]. Same
    * partitioned prefix engine, same integer cross-product argmax per
    * slice, same degenerate-slice discipline (empty cohort → null d /
    * threshold, significant = false). Same `byCol` bound too: a
    * dashboard dimension, never an entity key — the grouped engine's
    * per-group bounds/offsets broadcast unconditionally
    * ([[prefixSumsAsc]]'s partCols contract).
    */
  def ksTestBy(df: DataFrame, byCol: String, groupFlag: Column,
               valueCol: String, cAlpha: Double = 1.358,
               buckets: Int = 10000): DataFrame = {
    val dec = DecimalType(38, 0)
    val perV = Checkpoints(df.filter(col(valueCol).isNotNull && col(byCol).isNotNull)
      .groupBy(col(byCol).as("_g"), col(valueCol).as("_v"))
      .agg(sum(when(groupFlag, 1L).otherwise(0L)).as("_ca"),
        sum(when(!groupFlag, 1L).otherwise(0L)).as("_cb")))
    val pre = prefixSumsAsc(perV, Seq("_ca", "_cb"), buckets,
      partCols = Seq("_g"))
    val agg = pre.groupBy("_g").agg(
      coalesce(sum(col("_ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("_cb")), lit(0L)).as("n_b"))
    val dmax = pre.join(broadcast(agg), "_g")
      .select(col("_g"),
        abs((col("_pre_ca") + col("_ca")).cast(dec) * col("n_b").cast(dec) -
          (col("_pre_cb") + col("_cb")).cast(dec) * col("n_a").cast(dec))
          .as("_dnum"))
      .groupBy("_g").agg(max(col("_dnum")).as("_dmax"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val ok = col("n_a") > 0 && col("n_b") > 0
    val d = round(col("_dmax").cast("double") / (na * nb), 6)
    val thr = round(lit(cAlpha) * sqrt((na + nb) / (na * nb)), 6)
    agg.join(dmax, "_g")
      .select(col("_g").as(byCol), col("n_a"), col("n_b"),
        when(ok, d).as("d"),
        when(ok, thr).as("threshold"),
        coalesce(when(ok, d > thr), lit(false)).as("significant"))
      .orderBy(byCol)
  }

  /** Generated DuckDB oracle for [[ksTestBy]]. */
  def ksTestByOracleSql(fromSql: String, byExpr: String, groupExpr: String,
                        valueExpr: String, cAlpha: Double = 1.358): String =
    s"""WITH s AS (SELECT $byExpr AS gd, $valueExpr AS v, $groupExpr AS g
       |           FROM $fromSql
       |           WHERE $valueExpr IS NOT NULL AND $byExpr IS NOT NULL),
       |pv AS (SELECT gd, v,
       |         CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS HUGEINT) AS ca,
       |         CAST(SUM(CASE WHEN NOT g THEN 1 ELSE 0 END) AS HUGEINT) AS cb
       |       FROM s GROUP BY gd, v),
       |cum AS (SELECT gd, v,
       |          SUM(ca) OVER (PARTITION BY gd ORDER BY v
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
       |          SUM(cb) OVER (PARTITION BY gd ORDER BY v
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
       |        FROM pv),
       |tot AS (SELECT gd, CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS n_a,
       |               CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS n_b
       |        FROM pv GROUP BY gd),
       |mx AS (SELECT c.gd, MAX(abs(c.cuma * t.n_b - c.cumb * t.n_a)) AS dmax
       |       FROM cum c JOIN tot t ON c.gd = t.gd GROUP BY c.gd)
       |SELECT t.gd AS $byExpr, t.n_a, t.n_b,
       |       CASE WHEN t.n_a > 0 AND t.n_b > 0 THEN
       |         round(CAST(m.dmax AS DOUBLE)
       |               / (CAST(t.n_a AS DOUBLE) * t.n_b), 6) END AS d,
       |       CASE WHEN t.n_a > 0 AND t.n_b > 0 THEN
       |         round($cAlpha * sqrt(CAST(t.n_a + t.n_b AS DOUBLE)
       |               / (CAST(t.n_a AS DOUBLE) * t.n_b)), 6) END AS threshold,
       |       COALESCE(CASE WHEN t.n_a > 0 AND t.n_b > 0 THEN
       |           round(CAST(m.dmax AS DOUBLE) / (CAST(t.n_a AS DOUBLE) * t.n_b), 6)
       |             > round($cAlpha * sqrt(CAST(t.n_a + t.n_b AS DOUBLE)
       |                 / (CAST(t.n_a AS DOUBLE) * t.n_b)), 6)
       |         END, FALSE) AS significant
       |FROM tot t JOIN mx m ON t.gd = m.gd ORDER BY t.gd""".stripMargin

  /** Kruskal-Wallis H test — the k-cohort extension of [[mannWhitneyU]]
    * (does ANY of k groups' value distributions differ?): with
    * tie-averaged rank sums R_g over the pooled ranking,
    * H = 12/(n(n+1)) · Σ R_g²/n_g − 3(n+1), tie-corrected by
    * 1 − Σ(t³−t)/(n³−n), compared against the χ²(k−1) 95th percentile
    * via the Wilson-Hilferty cube approximation (a closed-form double
    * both engines replay: df·(1 − 2/(9df) + z₀.₉₅·√(2/(9df)))³).
    *
    * Exactness: ranks never materialize — 2R_g = Σ_v c_{g,v}·(2B_v+t_v+1)
    * is an exact DECIMAL(38,0) over the per-(group, value) count table
    * ([[mannWhitneyU]]'s identity per group), the tie term likewise; the
    * per-group R_g²/n_g terms are doubles over exact operands, rounded
    * to 6 then DECIMAL(38,6)-summed order-free. Degenerate inputs
    * (k < 2, n < 2, all values tied) give null h and significant =
    * false. Scale shape: one (group, value) aggregate, the bucketed
    * prefix engine over the distinct-value table, one k-row combine.
    */
  def kruskalWallis(df: DataFrame, groupCol: String, valueCol: String,
                    z95: Double = 1.6448536269514722,
                    buckets: Int = 10000): DataFrame = {
    val dec = DecimalType(38, 0)
    val perGV = Checkpoints(df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("_g"), col(valueCol).as("_v"))
      .agg(count(lit(1)).as("_c")))
    val perV = Checkpoints(perGV.groupBy("_v").agg(sum("_c").as("_t")))
    val pre = prefixSumsAsc(perV, Seq("_t"), buckets)
    val r2term = col("_c").cast(dec) *
      (lit(2).cast(dec) * col("_pre_t").cast(dec) +
        col("_t").cast(dec) + lit(1).cast(dec))
    val perG = perGV.join(pre.select(col("_v"), col("_t"), col("_pre_t")), "_v")
      .groupBy("_g").agg(sum(col("_c")).as("n_g"),
        sum(r2term).cast(dec).as("_r2"))
    // (2R_g)²/(4·n_g) — a double over exact operands, identical on both
    // engines; rounded then decimal-summed so group order cannot matter
    val r2d = col("_r2").cast("double")
    val term = round(r2d * r2d / (lit(4.0) * col("n_g").cast("double")), 6)
    val t = col("_t").cast(dec)
    val tot = perV.agg(coalesce(sum(col("_t")), lit(0L)).as("n"),
      coalesce(sum(t * t * t - t).cast(dec), lit(0).cast(dec)).as("_ties"))
    val agg = perG.agg(count(lit(1)).as("n_groups"),
        sum(term.cast(DecimalType(38, 6))).as("_s"))
      .crossJoin(broadcast(tot))
    val nD = col("n").cast("double")
    val h0 = lit(12.0) / (nD * (nD + 1.0)) * col("_s").cast("double") -
      lit(3.0) * (nD + 1.0)
    val tieDen = lit(1.0) - col("_ties").cast("double") / (nD * nD * nD - nD)
    val h = h0 / tieDen
    val dfree = (col("n_groups") - 1).cast("double")
    // explicit cube, not pow(·, 3): libm pow is not bit-identical across
    // engines, x·x·x is
    val whBase = lit(1.0) - lit(2.0) / (lit(9.0) * dfree) +
      lit(z95) * sqrt(lit(2.0) / (lit(9.0) * dfree))
    val hCrit = dfree * whBase * whBase * whBase
    val ok = col("n_groups") >= 2 && col("n") >= 2 &&
      col("_ties").cast("double") < (nD * nD * nD - nD)
    agg.select(col("n"), col("n_groups"),
      (col("n_groups") - 1).as("df"),
      round(when(ok, h), 4).as("h"),
      round(when(ok, hCrit), 4).as("h_crit"),
      coalesce(when(ok, round(h, 4) > round(hCrit, 4)), lit(false))
        .as("significant"))
  }

  /** Generated DuckDB oracle for [[kruskalWallis]]. */
  def kruskalWallisOracleSql(fromSql: String, groupExpr: String,
                             valueExpr: String,
                             z95: Double = 1.6448536269514722): String =
    s"""WITH s AS (SELECT $groupExpr AS g, $valueExpr AS v FROM $fromSql
       |           WHERE $valueExpr IS NOT NULL AND $groupExpr IS NOT NULL),
       |gv AS (SELECT g, v, CAST(COUNT(*) AS HUGEINT) AS c FROM s GROUP BY g, v),
       |pv AS (SELECT v, CAST(SUM(c) AS HUGEINT) AS t FROM gv GROUP BY v),
       |pre AS (SELECT *, COALESCE(SUM(t) OVER (ORDER BY v
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |          CAST(0 AS HUGEINT)) AS b
       |        FROM pv),
       |pg AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n_g,
       |              SUM(c * (2 * p.b + p.t + 1)) AS r2
       |       FROM gv JOIN pre p USING (v) GROUP BY g),
       |terms AS (SELECT g, n_g,
       |            CAST(round(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
       |              / (4.0 * n_g), 6) AS DECIMAL(38,6)) AS term
       |          FROM pg),
       |tot AS (SELECT CAST(COALESCE(SUM(t), 0) AS BIGINT) AS n,
       |               COALESCE(SUM(t * t * t - t), CAST(0 AS HUGEINT)) AS ties
       |        FROM pv),
       |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_groups, SUM(term) AS sm
       |        FROM terms),
       |f AS (SELECT *, CAST(n AS DOUBLE) AS nd,
       |        CAST(n_groups - 1 AS DOUBLE) AS dfree,
       |        (n_groups >= 2 AND n >= 2 AND
       |         CAST(ties AS DOUBLE) < (CAST(n AS DOUBLE) * n * n - n)) AS ok
       |      FROM agg CROSS JOIN tot),
       |hh AS (SELECT *,
       |         (12.0 / (nd * (nd + 1.0)) * CAST(sm AS DOUBLE)
       |           - 3.0 * (nd + 1.0))
       |           / (1.0 - CAST(ties AS DOUBLE) / (nd * nd * nd - nd)) AS h,
       |         dfree * (1.0 - 2.0 / (9.0 * dfree)
       |             + $z95 * sqrt(2.0 / (9.0 * dfree)))
       |           * (1.0 - 2.0 / (9.0 * dfree)
       |             + $z95 * sqrt(2.0 / (9.0 * dfree)))
       |           * (1.0 - 2.0 / (9.0 * dfree)
       |             + $z95 * sqrt(2.0 / (9.0 * dfree))) AS h_crit
       |       FROM f)
       |SELECT n, n_groups, n_groups - 1 AS df,
       |       round(CASE WHEN ok THEN h END, 4) AS h,
       |       round(CASE WHEN ok THEN h_crit END, 4) AS h_crit,
       |       COALESCE(CASE WHEN ok THEN round(h, 4) > round(h_crit, 4) END,
       |                FALSE) AS significant
       |FROM hh""".stripMargin

  /** Distinct x values up to which [[spearmanCorr]] broadcasts its rank
    * table into the fact-side join. */
  private val RankBroadcastRows = 262144L

  /** Spearman rank correlation between two numeric columns — the
    * monotone-association readout (is doc length associated with quality
    * score? quantity with price?): Pearson correlation over tie-averaged
    * ranks, with the Fisher-transform z for significance
    * (z = ½ln((1+ρ)/(1−ρ))·√((n−3)/1.06), the standard Spearman SE).
    *
    * Exactness: per-column tie-averaged ranks come from the bucketed
    * prefix engine as the INTEGER 2·rank = 2B+t+1 (never a per-row sort);
    * all five moment sums over the 2-rank integers are exact
    * DECIMAL(38,0) (the ×2 scale cancels in the correlation), ρ is one
    * double expression over them, rounded to 6. Degenerate inputs (n < 2,
    * a constant column ⇒ zero variance) give null ρ; the z flag
    * additionally needs n > 3 and |ρ| < 1 (the transform diverges at ±1),
    * else null z / false.
    *
    * Scale shape — the FUSED single-pass form (round 17; the symmetric
    * two-rank-join form cost one extra fact aggregate plus a fact-sized
    * shuffle join against the y rank table): rank the x side first and
    * attach its rank to the fact through one (broadcast when measured
    * small) value-keyed join, then ONE fact aggregate keyed by y builds
    * the y distinct-value table WITH the per-y sum of x-ranks fused in.
    * Every moment then reduces over the bounded value tables — Σr2x and
    * Σr2x² from the x table (Σt·r2x), Σr2y/Σr2y² from the y table, and
    * the cross moment Σ_rows r2x·r2y = Σ_y r2y·(Σ_{rows@y} r2x) from the
    * fused column — so the fact is touched exactly twice (x aggregate,
    * y aggregate) and never joins a large rank table. ρ is symmetric in
    * (x, y); pass the lower-cardinality column as `xCol` when known so
    * the rank attach broadcasts.
    */
  def spearmanCorr(df: DataFrame, xCol: String, yCol: String,
                   zCrit: Double = 1.96, buckets: Int = 10000): DataFrame = {
    val dec = DecimalType(38, 0)
    // NOT checkpointed: the two consumers (x aggregate, y aggregate)
    // each re-run a cheap narrow scan — materializing the whole fact
    // projection eagerly costs more than the re-reads (the per-value
    // tables BELOW are checkpointed, as the prefix engine requires)
    val rows = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).as("_x"), col(yCol).as("_y"))
    val r2Expr = (lit(2).cast(dec) * col("_pre_t").cast(dec) +
      col("_t").cast(dec) + lit(1).cast(dec))
    val perX = Checkpoints(rows.groupBy(col("_x").as("_v")).agg(count(lit(1)).as("_t")))
    val rx0 = prefixSumsAsc(perX, Seq("_t"), buckets)
      .select(col("_v").as("_x"), col("_t").cast(dec).as("_tx"),
        r2Expr.as("_r2x"))
    // a MEASURED-small rank table broadcasts (the checkpoint count is
    // free), so the fact side never shuffles for its rank lookup; AQE
    // could only demote this join after shuffling the fact side. A
    // high-cardinality x domain keeps the hash join (still one fewer
    // fact shuffle than the symmetric form)
    val rx = if (perX.count() <= RankBroadcastRows) broadcast(rx0) else rx0
    // x moments reduce over the x VALUE table — never the fact
    val xm = rx0.agg(
      coalesce(sum(col("_tx") * col("_r2x")), lit(0).cast(dec)).as("_sx"),
      coalesce(sum(col("_tx") * col("_r2x") * col("_r2x")),
        lit(0).cast(dec)).as("_sxx"))
    // ONE fact aggregate: the y distinct-value table fused with the
    // per-y x-rank sum that carries the cross moment
    val perY = Checkpoints(rows.join(rx, "_x")
      .groupBy(col("_y").as("_v"))
      .agg(count(lit(1)).as("_t"),
        sum(col("_r2x")).cast(dec).as("_sxr")))
    val preY = prefixSumsAsc(perY, Seq("_t"), buckets)
      .withColumn("_r2y", r2Expr)
    val agg = preY.agg(
      coalesce(sum(col("_t")), lit(0L)).as("n"),
      coalesce(sum(col("_t").cast(dec) * col("_r2y")),
        lit(0).cast(dec)).as("_sy"),
      coalesce(sum(col("_t").cast(dec) * col("_r2y") * col("_r2y")),
        lit(0).cast(dec)).as("_syy"),
      coalesce(sum(col("_r2y") * col("_sxr")), lit(0).cast(dec)).as("_sxy"))
      .crossJoin(broadcast(xm))
    val nD = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val num = nD * d("_sxy") - d("_sx") * d("_sy")
    val varX = nD * d("_sxx") - d("_sx") * d("_sx")
    val varY = nD * d("_syy") - d("_sy") * d("_sy")
    val ok = col("n") >= 2 && varX > 0 && varY > 0
    val rho = round(num / sqrt(varX * varY), 6)
    val okZ = ok && col("n") > 3 && abs(rho) < 1
    val z = lit(0.5) * log((lit(1.0) + rho) / (lit(1.0) - rho)) *
      sqrt((nD - 3.0) / 1.06)
    agg.select(col("n"),
      when(ok, rho).as("rho"),
      round(when(okZ, z), 4).as("z"),
      coalesce(when(okZ, abs(z) > zCrit), lit(false)).as("significant"))
  }

  /** Generated DuckDB oracle for [[spearmanCorr]]. */
  def spearmanOracleSql(fromSql: String, xExpr: String, yExpr: String,
                        zCrit: Double = 1.96): String = {
    def rankCte(tag: String, e: String) =
      s"""pv$tag AS (SELECT $e AS v, CAST(COUNT(*) AS HUGEINT) AS t
         |           FROM s GROUP BY $e),
         |r$tag AS (SELECT v, 2 * COALESCE(SUM(t) OVER (ORDER BY v
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |            CAST(0 AS HUGEINT)) + t + 1 AS r2
         |          FROM pv$tag)""".stripMargin
    s"""WITH s AS (SELECT $xExpr AS x, $yExpr AS y FROM $fromSql
       |           WHERE $xExpr IS NOT NULL AND $yExpr IS NOT NULL),
       |${rankCte("x", "x")},
       |${rankCte("y", "y")},
       |j AS (SELECT rx.r2 AS a, ry.r2 AS b
       |      FROM s JOIN rx ON s.x = rx.v JOIN ry ON s.y = ry.v),
       |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |               SUM(a) AS sx, SUM(b) AS sy, SUM(a * b) AS sxy,
       |               SUM(a * a) AS sxx, SUM(b * b) AS syy
       |        FROM j),
       |f AS (SELECT *, CAST(n AS DOUBLE) AS nd,
       |        CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
       |        CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
       |      FROM agg),
       |r AS (SELECT *, (n >= 2 AND vx > 0 AND vy > 0) AS ok,
       |        round((nd * CAST(sxy AS DOUBLE)
       |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |          / sqrt(vx * vy), 6) AS rho
       |      FROM f),
       |zz AS (SELECT *, (ok AND n > 3 AND abs(rho) < 1) AS okz,
       |         0.5 * ln((1.0 + rho) / (1.0 - rho))
       |           * sqrt((nd - 3.0) / 1.06) AS z
       |       FROM r)
       |SELECT n,
       |       CASE WHEN ok THEN rho END AS rho,
       |       round(CASE WHEN okz THEN z END, 4) AS z,
       |       COALESCE(CASE WHEN okz THEN abs(z) > $zCrit END, FALSE)
       |         AS significant
       |FROM zz""".stripMargin
  }

  /** χ² test of independence over two categorical columns, with Cramér's
    * V effect size — the data-audit staple (is return status independent
    * of ship mode? label of source?): χ² = Σ_{cells} (o − e)²/e with
    * e = rowTotal·colTotal/n, V = √(χ²/(n·min(R−1, C−1))).
    *
    * Exactness: every count is an exact long; e and each cell term are
    * doubles over identical exact operands, each term rounded to 9 and
    * summed in DECIMAL(38,9) (order-free), χ² rounded once at the end.
    * Scale shape: one contingency aggregate over the scan (cells bounded
    * by the category product — `maxCells` fails loudly past the
    * contract), marginals as two broadcast-sized aggregates of the cell
    * table, a 1-row combine. Null categories are excluded.
    */
  def chiSquareIndependence(df: DataFrame, aCol: String, bCol: String,
                            maxCells: Long = 100000L): DataFrame = {
    require(maxCells >= 1, s"need maxCells >= 1, got $maxCells")
    val cells = Checkpoints(df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("string").as("_a"), col(bCol).cast("string").as("_b"))
      .agg(count(lit(1)).as("_o")))
    val rowT = Checkpoints(cells.groupBy("_a").agg(sum("_o").as("_ra")))
    val colT = Checkpoints(cells.groupBy("_b").agg(sum("_o").as("_cb")))
    // the FULL marginal grid, not just observed cells: an expected-but-
    // never-observed combination contributes (0 - e)^2/e = e, and perfect
    // association is invisible without it (chi-squared = 0 cells matter)
    val nGrid = rowT.count() * colT.count()
    require(nGrid <= maxCells,
      s"chiSquareIndependence: $nGrid contingency grid cells exceed maxCells=" +
        s"$maxCells — these columns are not low-cardinality categories")
    val tot = cells.agg(sum("_o").as("_n"),
      count_distinct(col("_a")).as("_r"), count_distinct(col("_b")).as("_c"))
    val e = col("_ra").cast("double") * col("_cb").cast("double") /
      col("_n").cast("double")
    val o = coalesce(col("_o"), lit(0L))
    val term = round((o.cast("double") - e) * (o.cast("double") - e) / e, 9)
    val agg = broadcast(rowT).crossJoin(broadcast(colT))
      .join(cells, Seq("_a", "_b"), "left")
      .crossJoin(broadcast(tot))
      .agg(sum(term.cast(DecimalType(38, 9))).as("_chi2"),
        max(col("_n")).as("n_rows"), max(col("_r")).as("n_levels_a"),
        max(col("_c")).as("n_levels_b"))
    val dof = (col("n_levels_a") - 1) * (col("n_levels_b") - 1)
    val minDim = least(col("n_levels_a"), col("n_levels_b")) - 1
    val v = sqrt(col("_chi2").cast("double") /
      (col("n_rows").cast("double") * minDim.cast("double")))
    agg.select(col("n_rows"), col("n_levels_a"), col("n_levels_b"),
      dof.as("dof"),
      round(col("_chi2").cast("double"), 4).as("chi2"),
      round(when(minDim > 0, v), 6).as("cramers_v"))
  }

  /** Generated DuckDB oracle for [[chiSquareIndependence]]. */
  def chiSquareOracleSql(table: String, aExpr: String, bExpr: String): String =
    s"""WITH cells AS (SELECT CAST($aExpr AS VARCHAR) AS a,
       |                      CAST($bExpr AS VARCHAR) AS b, COUNT(*) AS o
       |               FROM $table
       |               WHERE $aExpr IS NOT NULL AND $bExpr IS NOT NULL
       |               GROUP BY 1, 2),
       |rt AS (SELECT a, SUM(o) AS ra FROM cells GROUP BY a),
       |ct AS (SELECT b, SUM(o) AS cb FROM cells GROUP BY b),
       |tt AS (SELECT SUM(o) AS n, COUNT(DISTINCT a) AS r,
       |              COUNT(DISTINCT b) AS c FROM cells),
       |grid AS (SELECT rt.a, ct.b, ra, cb, COALESCE(cells.o, 0) AS o
       |         FROM rt CROSS JOIN ct
       |         LEFT JOIN cells ON cells.a = rt.a AND cells.b = ct.b),
       |terms AS (SELECT CAST(round(
       |            (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * cb / n)
       |            * (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * cb / n)
       |            / (CAST(ra AS DOUBLE) * cb / n), 9) AS DECIMAL(38,9)) AS term,
       |            n, r, c
       |          FROM grid CROSS JOIN tt)
       |SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
       |       CAST(MAX(r) AS BIGINT) AS n_levels_a,
       |       CAST(MAX(c) AS BIGINT) AS n_levels_b,
       |       CAST((MAX(r) - 1) * (MAX(c) - 1) AS BIGINT) AS dof,
       |       round(CAST(SUM(term) AS DOUBLE), 4) AS chi2,
       |       round(CASE WHEN least(MAX(r), MAX(c)) - 1 > 0 THEN
       |           sqrt(CAST(SUM(term) AS DOUBLE)
       |                / (CAST(MAX(n) AS DOUBLE) * (least(MAX(r), MAX(c)) - 1)))
       |         END, 6) AS cramers_v
       |FROM terms""".stripMargin

  /** Per-group Theil index T = (1/n)·Σ (x/μ)·ln(x/μ) — the
    * entropy-family inequality measure (0 = perfect equality, ln n =
    * one entity owns everything); the decomposable sibling of
    * [[giniByGroup]] a corpus owner uses when between/within-source
    * splits matter. Zero and null values are excluded (ln is undefined);
    * negative values fail loudly (inequality over signed contributions
    * has no Theil semantics).
    *
    * Exactness AND one-pass shape: T rewrites to
    * (Σ x·ln x)/(n·μ) − ln μ (expand ln(x/μ); Σx = nμ), so ONE hash
    * aggregate per group computes n, the exact-decimal Σx, and
    * Σ round(x·ln x, 9) (order-free DECIMAL(38,9)) — no second pass over
    * the input, no broadcast-back join, no window. Every double in the
    * final expression derives from those exact aggregates identically on
    * both engines.
    */
  def theilIndex(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val v0 = col(valueCol).cast(DecimalType(20, 6))
    val v = when(v0.isNull || v0 >= 0, v0)
      .otherwise(raise_error(format_string(
        "theilIndex: negative value %s — inequality needs non-negative values", v0)))
    val rows = df.select(col(groupCol).as("_g"), v.as("_v"))
      .filter(col("_v").isNotNull && col("_v") > 0)
    val xlnx = round(col("_v").cast("double") * log(col("_v").cast("double")), 9)
    val agg = rows.groupBy("_g").agg(
      count(lit(1)).as("n_entities"), sum("_v").as("_s"),
      sum(xlnx.cast(DecimalType(38, 9))).as("_xl"))
    val n = col("n_entities").cast("double")
    val mu = col("_s").cast("double") / n
    agg.select(col("_g").as(groupCol), col("n_entities"),
        round(mu, 4).as("mean_value"),
        round(col("_xl").cast("double") / (n * mu) - log(mu), 6).as("theil"))
      .orderBy(groupCol)
  }

  /** Generated DuckDB oracle for [[theilIndex]]. */
  def theilOracleSql(table: String, valueExpr: String, groupCol: String): String =
    s"""WITH rows0 AS (SELECT $groupCol AS g,
       |                      CAST($valueExpr AS DECIMAL(20,6)) AS v
       |               FROM $table
       |               WHERE $valueExpr IS NOT NULL
       |                 AND CAST($valueExpr AS DECIMAL(20,6)) > 0),
       |agg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_entities, SUM(v) AS s,
       |               SUM(CAST(round(CAST(v AS DOUBLE) * ln(CAST(v AS DOUBLE)), 9)
       |                   AS DECIMAL(38,9))) AS xl
       |        FROM rows0 GROUP BY g)
       |SELECT g AS $groupCol, n_entities,
       |       round(CAST(s AS DOUBLE) / n_entities, 4) AS mean_value,
       |       round(CAST(xl AS DOUBLE)
       |               / (n_entities * (CAST(s AS DOUBLE) / n_entities))
       |             - ln(CAST(s AS DOUBLE) / n_entities), 6) AS theil
       |FROM agg ORDER BY g""".stripMargin
}
