package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Helpers._

/** Event/time-series surface (SURVEY.md §2 group I): tumbling / sliding /
  * session windows and sessionization, written with the batch `window()` /
  * `session_window()` API.
  *
  * Window starts are emitted as epoch seconds (`unix_timestamp`) rather than
  * timestamps so the oracle compare is immune to parquet timestamp-unit
  * differences (fixture `ts` is ns; Spark reads micros, DuckDB keeps ns).
  */
object Events {

  /** Tumbling 10-minute window aggregate per event_type. */
  def tumbling(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("w_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("w_start", "event_type")

  /** Sliding window: 10-minute windows every 5 minutes (each event lands in
    * two windows — `window()` explodes, then one aggregate).
    */
  def sliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("w_start"), col("n"), col("sum_value"))
      .orderBy("w_start")

  /** Session windows: per-user sessions closed by a 30-minute gap, via the
    * native `session_window` (merging-interval aggregate — one shuffle on
    * user_id). Semantics (verified empirically): an event at exactly
    * prev+gap still EXTENDS the session — windows merge when they overlap
    * or touch, i.e. a new session starts only when the gap is strictly
    * greater than the threshold.
    */
  def sessions(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("user_id"), unix_timestamp(col("w.start")).as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")

  /** Sessionization via analytic windows (lag + cumulative flag sum) — the
    * gaps-and-islands form; same result as [[sessions]], kept as the
    * portable/SQL-expressible construction.
    */
  def sessionsViaLag(events: DataFrame, gapSec: Long = 1800): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val flagged = events
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > gapSec, 1)
          .otherwise(0))
      .withColumn("session_id", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), min(unix_timestamp(col("ts"))).as("session_start"))
      .select("user_id", "session_id", "session_start", "n_events")
      .orderBy("user_id", "session_id")
  }

  /** Generic as-of join: for every left row, attach the latest right row
    * with the same `key` and `right.ts <= left.ts`. Right's non-key columns
    * come back prefixed (null when no prior right row exists).
    *
    * Single shuffle on `key` (union both sides, one analytic window carrying
    * the last right payload forward) — the canonical scalable batch as-of:
    * no range join, no per-row subquery, cost = one sort within partitions.
    *
    * Tie contract (round-5 VERDICT): a right row at EXACTLY the left ts
    * matches ("at-or-before" — right sorts before left at equal ts), and
    * duplicate right rows on (key, ts) resolve DETERMINISTICALLY to the
    * greatest payload by its ORDERABLE fields (field-order struct
    * comparison) — the window sorts right rows by that subset within a tie
    * and the running `last` keeps the final one. Unorderable payload
    * columns (e.g. MapType) are excluded from the tie comparison, so such
    * payloads still JOIN fine (they broke at analysis when the full struct
    * was the sort key); a payload with NO orderable fields falls back to
    * nondeterministic tie resolution, documented here. DuckDB's ASOF JOIN
    * leaves ties unspecified, so `AsofPropertySpec` pins the contract
    * against a driver-side reference instead of the SQL oracle (the
    * fixture has no (key, ts) duplicates at any SF — verified — so
    * q_events_asof's oracle cannot mask a divergence here).
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               prefix: String = "asof_"): DataFrame = {
    val rPayloadCols = right.columns.filter(_ != key).toSeq
    val tieCols = rPayloadCols.filter(c => org.apache.spark.sql.catalyst.expressions
      .RowOrdering.isOrderable(right.schema(c).dataType))
    val r = right.select(Seq(col(key).as("_k"), col(ts).as("_ts"), lit(0).as("_side"),
      struct(rPayloadCols.map(col): _*).as("_payload")) ++
      (if (tieCols.nonEmpty) Seq(struct(tieCols.map(col): _*).as("_tie")) else Nil): _*)
    val payloadType = r.schema("_payload").dataType
    val l = left
      .withColumn("_lrow", struct(left.columns.map(col): _*))
      .select(Seq(col(key).as("_k"), col(ts).as("_ts"), lit(1).as("_side"),
        lit(null).cast(payloadType).as("_payload")) ++
        (if (tieCols.nonEmpty)
           Seq(lit(null).cast(r.schema("_tie").dataType).as("_tie")) else Nil) :+
        col("_lrow"): _*)
    val w = Window.partitionBy("_k")
      .orderBy(Seq(col("_ts"), col("_side")) ++
        (if (tieCols.nonEmpty) Seq(col("_tie")) else Nil): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val merged = r.withColumn("_lrow", lit(null).cast(l.schema("_lrow").dataType))
      .unionByName(l.select(r.columns.map(col) :+ col("_lrow"): _*))
      .withColumn("_match", last(when(col("_side") === 0, col("_payload")),
        ignoreNulls = true).over(w))
    val leftOut = left.columns.map(c => col(s"_lrow.$c").as(c))
    val rightOut = rPayloadCols.map(c => col(s"_match.$c").as(s"$prefix$c"))
    merged.filter(col("_side") === 1).select(leftOut ++ rightOut: _*)
  }

  /** Keyless (global-time) as-of join — the range-partitioned merge form.
    *
    * [[asofJoin]] co-partitions on an equi-key, so its one window shuffle
    * scales with key cardinality. When there is NO shared key (every left
    * row wants the single latest right row at-or-before its timestamp,
    * globally — "attribute each event to the market state at its time"),
    * that plan degenerates to ONE global window partition: a serial sort
    * of both inputs. This operator is the scale shape for that case:
    *
    *  1. the left time range is split into `nBins` equal bins (bounds come
    *     from ONE 2-value driver aggregate — bounded by construction, the
    *     same trade as BM25's corpus stats);
    *  2. each side hash-shuffles ONCE on its bin; rights after the last
    *     bin are dropped unread;
    *  3. per non-empty right bin, the maximal right row is reduced
    *     map-side (`max_by` partial aggregation — the exchange moves one
    *     row per (bin, task)), and a single tiny window over those ≤nBins
    *     rows derives each bin's CARRY-IN: the latest right row strictly
    *     before the bin's start, which is exactly what a bin with no (or
    *     only later) in-bin rights needs;
    *  4. within each bin the union-window trick of [[asofJoin]] runs with
    *     `_bin` as the partition key.
    *
    * No join operator appears anywhere in the plan — carry-ins are derived
    * by a window over the per-bin aggregate, not by joining a bin list.
    * Bin independence (any `nBins` yields identical results) is pinned in
    * `AsofRangeSpec`.
    *
    * Tie contract (same family as [[asofJoin]]): among rights at the same
    * timestamp the one with the greatest orderable-payload struct (column
    * order of `right`) wins; a right at exactly a left's timestamp
    * matches it. Lefts before every right carry nulls (ASOF LEFT JOIN
    * semantics). All right columns — including `rTs` — are carried,
    * prefixed.
    *
    * Reference contrast: bqfetch can only fetch by a precomputed chunk
    * column (bqfetch/bqfetch.py:141-156); a time-attribution join like
    * this needs the engine-side binning + carry machinery.
    */
  def asofJoinRange(left: DataFrame, right: DataFrame,
                    lTs: String, rTs: String,
                    nBins: Int = 32, prefix: String = "asof_"): DataFrame = {
    val spark = left.sparkSession
    val rPayloadCols = right.columns.toSeq
    val tieCols = rPayloadCols.filter(c => org.apache.spark.sql.catalyst.expressions
      .RowOrdering.isOrderable(right.schema(c).dataType))
    require(tieCols.nonEmpty,
      "asofJoinRange needs at least one orderable right column for the tie contract")
    // nBins = 0 would divide by zero below; a negative value would silently
    // filter EVERY right bin (all-null matches) instead of erroring
    require(nBins > 0, s"asofJoinRange needs nBins > 0, got $nBins")
    val emptyOut = {
      val nulls = rPayloadCols.map(c =>
        lit(null).cast(right.schema(c).dataType).as(s"$prefix$c"))
      left.select(left.columns.map(col) ++ nulls: _*).limit(0)
    }
    // normalize BOTH time columns to epoch millis (long) for binning and
    // window ordering: the fixture mixes TIMESTAMP and TIMESTAMP_NTZ
    // (orders.o_orderdate), and a cross-type union would force a lossy
    // coercion — the long timeline is type-agnostic and the session
    // timezone (UTC on every correctness surface) keeps the two sides'
    // mapping consistent. Payload columns keep their original types.
    def msOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      unix_millis(c.cast(org.apache.spark.sql.types.TimestampType))
    val bounds = left.agg(min(msOf(col(lTs))).as("lo"), max(msOf(col(lTs))).as("hi")).head()
    if (bounds.isNullAt(0)) return emptyOut
    val lo = bounds.getLong(0)
    val hi = bounds.getLong(1)
    val width = math.max(1L, (hi - lo) / nBins + 1)
    def rawBin(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor((msOf(c) - lit(lo)).cast("double") / lit(width.toDouble)).cast("long")

    val rBase = right.select(
      msOf(col(rTs)).as("_ts"), rawBin(col(rTs)).as("_rbin"),
      struct(rPayloadCols.map(col): _*).as("_payload"),
      struct(tieCols.map(col): _*).as("_tie"))
    val payloadType = rBase.schema("_payload").dataType
    val tieType = rBase.schema("_tie").dataType
    val bestType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_ts", rBase.schema("_ts").dataType),
      org.apache.spark.sql.types.StructField("_payload", payloadType),
      org.apache.spark.sql.types.StructField("_tie", tieType)))

    // per-bin maximal right row (partial aggregation: one row per bin per
    // task crosses the wire), bins AFTER the left range dropped unread
    val perBin = rBase.filter(col("_rbin") < nBins)
      .groupBy("_rbin")
      .agg(max_by(struct(col("_ts"), col("_payload"), col("_tie")),
        struct(col("_ts"), col("_tie"))).as("_best"))
    // carry-in per target bin: the latest right row in any STRICTLY earlier
    // bin. Bins are time ranges, so per-bin maxima are time-ordered and the
    // running `last` over (bin, probe-before-present) is exact. The frame
    // is ≤ 2·nBins rows — the single-partition window is deliberate.
    val probes = spark.range(nBins).select(
      col("id").cast("long").as("_rbin"), lit(0).as("_pf"),
      lit(null).cast(bestType).as("_best"))
    val wCarry = Window.orderBy("_rbin", "_pf")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carries = probes
      .unionByName(perBin.select(col("_rbin"), lit(1).as("_pf"), col("_best")))
      .withColumn("_c", last(col("_best"), ignoreNulls = true).over(wCarry))
      .filter(col("_pf") === 0 && col("_c").isNotNull)
      .select(col("_rbin").as("_bin"), col("_c._ts").as("_ts"),
        col("_c._payload").as("_payload"), col("_c._tie").as("_tie"))

    val rIn = rBase.filter(col("_rbin") >= 0 && col("_rbin") < nBins)
      .select(col("_rbin").as("_bin"), col("_ts"), col("_payload"), col("_tie"))
    val l = left
      .withColumn("_lrow", struct(left.columns.map(col): _*))
      .select(rawBin(col(lTs)).as("_bin"), msOf(col(lTs)).as("_ts"),
        lit(1).as("_side"), lit(null).cast(payloadType).as("_payload"),
        lit(null).cast(tieType).as("_tie"), col("_lrow"))
    val lrowType = l.schema("_lrow").dataType
    val rAll = rIn.unionByName(carries)
      .select(col("_bin"), col("_ts"), lit(0).as("_side"), col("_payload"),
        col("_tie"), lit(null).cast(lrowType).as("_lrow"))
    val w = Window.partitionBy("_bin")
      .orderBy(col("_ts"), col("_side"), col("_tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val merged = rAll.unionByName(l)
      .withColumn("_match", last(when(col("_side") === 0, col("_payload")),
        ignoreNulls = true).over(w))
    val leftOut = left.columns.map(c => col(s"_lrow.$c").as(c))
    val rightOut = rPayloadCols.map(c => col(s"_match.$c").as(s"$prefix$c"))
    merged.filter(col("_side") === 1).select(leftOut ++ rightOut: _*)
  }

  /** As-of join (SURVEY.md §7.4 "hard part"): for each 'purchase' event, the
    * most recent 'view' event of the same user at-or-before it.
    *
    * Construction: union both sides tagged, one analytic window per user
    * ordered by (ts, side) carrying `last(view-ts, ignoreNulls)` forward —
    * a single shuffle on user_id, no range join, no per-row subquery. At
    * 100 TB this is the canonical scalable as-of: cost = one sort-shuffle
    * of both inputs on the partition key.
    */
  def asofPurchaseView(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("side"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("side"))
    // side=0 sorts before side=1 at equal ts => a view at exactly purchase
    // ts counts as "at-or-before" (matches ASOF JOIN ... ON ts >= ts);
    // event_id last => duplicate view timestamps resolve deterministically
    // to the greatest event_id (the asofJoin tie contract)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tagged = views.unionByName(purchases)
      .withColumn("last_view_ts",
        last(when(col("side") === 0, col("ts")), ignoreNulls = true).over(w))
      .withColumn("last_view_id",
        last(when(col("side") === 0, col("event_id")), ignoreNulls = true).over(w))
    tagged.filter(col("side") === 1)
      .select(col("user_id"), col("event_id").as("purchase_id"),
        unix_timestamp(col("ts")).as("purchase_ts"),
        col("last_view_id").as("view_id"),
        unix_timestamp(col("last_view_ts")).as("view_ts"))
      .orderBy("purchase_id")
  }

  /** Weekly cohort retention — the product-analytics matrix next to
    * [[funnel]]: users grouped by first-seen week (the cohort), counted in
    * every subsequent week they were active, keyed by week offset.
    *
    * Plan shape: one aggregate finds each user's cohort week, one distinct
    * projects (user, active-week) pairs; both key on user_id so the join
    * is co-partitioned after the first shuffle, and the final aggregate is
    * over (cohort, offset) — cardinality weeks², never user-sized. Week
    * truncation (`date_trunc("week")` = ISO Monday) and the offset
    * (epoch-second difference DIV 604800) are integer-exact on both
    * engines.
    */
  def cohortRetention(events: DataFrame): DataFrame = {
    val cohorts = events.groupBy("user_id")
      .agg(date_trunc("week", min("ts")).as("_cohort"))
    val activity = events
      .select(col("user_id"), date_trunc("week", col("ts")).as("_week"))
      .distinct()
    activity.join(cohorts, Seq("user_id"))
      .withColumn("_cw", unix_timestamp(col("_cohort")))
      .withColumn("_ww", unix_timestamp(col("_week")))
      .groupBy(
        col("_cw").as("cohort_week"),
        expr("(_ww - _cw) DIV 604800").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Per-type z-score anomaly flags: each event's value standardized
    * against its event_type's mean/std — the monitoring staple. Moments
    * come from ONE hash aggregate with exact-decimal Σv and Σv² (engine-
    * portable; the sample-variance closed form (Σv² − (Σv)²/n)/(n−1) is
    * then identical double arithmetic on both engines), broadcast back as
    * a tiny per-type table. The flag is computed FROM THE ROUNDED z on
    * both sides, so a value sitting exactly on the threshold cannot flip
    * between engines. One scan + one broadcast join: no window, no second
    * pass over the events at any scale.
    */
  def zscoreAnomalies(events: DataFrame, threshold: Double = 3.0): DataFrame = {
    val stats = events.groupBy(col("event_type").as("_et"))
      .agg(count(lit(1)).as("_n"),
        dsum(col("value"), 6).as("_s"),
        dsum(col("value") * col("value"), 6).as("_s2"))
      .withColumn("_mean", col("_s") / col("_n"))
      .withColumn("_std", sqrt((col("_s2") - col("_s") * col("_s") / col("_n")) / (col("_n") - 1)))
    events.join(broadcast(stats), col("event_type") === col("_et"))
      .withColumn("z", round((col("value") - col("_mean")) / col("_std"), 6))
      .select(col("event_id"), col("event_type"), col("value"), col("z"),
        (abs(col("z")) > threshold).as("is_anomaly"))
      .orderBy("event_id")
  }

  /** Ordered funnel analysis: per user, the earliest time each stage was
    * reached STRICTLY AFTER the previous stage (first view, first click
    * after that view, first purchase after that click, …) — the product-
    * analytics staple. A user's `stages_reached` counts consecutive
    * completed stages; later-stage events occurring before an earlier
    * stage do not count (ordering is the point of a funnel).
    *
    * Plan shape: one filtered aggregate per stage, each joined to the
    * previous stage's per-user time. Every aggregate and join keys on
    * user_id, so after the first shuffle the rest are co-partitioned — at
    * 100 TB the cost is one exchange of the (type-filtered) event stream
    * per stage, with no window over the full event history and no
    * per-user event-list materialization.
    */
  def funnel(events: DataFrame,
             stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(stages.size >= 2, s"a funnel needs >= 2 stages, got $stages")
    val first = events.filter(col("event_type") === stages.head)
      .groupBy("user_id").agg(min("ts").as("t1"))
    val all = stages.tail.zipWithIndex.foldLeft(first) { case (acc, (stage, i)) =>
      val prevT = s"t${i + 1}"
      val curT = s"t${i + 2}"
      val nxt = events.filter(col("event_type") === stage)
        .select(col("user_id"), col("ts").as("_ts"))
        .join(acc.select(col("user_id"), col(prevT)), Seq("user_id"))
        .filter(col("_ts") > col(prevT))
        .groupBy("user_id").agg(min("_ts").as(curT))
      acc.join(nxt, Seq("user_id"), "left")
    }
    val tCols = stages.indices.map(i => unix_timestamp(col(s"t${i + 1}")).as(s"t${i + 1}"))
    val reached = stages.indices.map(i =>
      when(col(s"t${i + 1}").isNotNull, 1).otherwise(0): org.apache.spark.sql.Column)
      .reduce(_ + _)
    all.select(col("user_id") +: tCols :+ reached.cast("long").as("stages_reached"): _*)
      .orderBy("user_id")
  }

  /** First-touch / last-touch conversion attribution: for every conversion
    * event (default `purchase`), the event_type of the user's EARLIEST and
    * LATEST preceding non-conversion event (`direct` when the conversion
    * is the user's first recorded activity), rolled up to the
    * (first_touch, last_touch) channel matrix with conversion counts and
    * exact-decimal revenue — the marketing-analytics staple, and the
    * diagonal-vs-off-diagonal read on whether acquisition and closing
    * channels differ.
    *
    * Plan shape: ONE window over (user_id, ts, event_id) computes both
    * touches in a single shuffle (`first`/`last` with ignoreNulls over the
    * strictly-preceding frame), then one combining aggregate on the tiny
    * channel matrix. No self-join, no per-user event-list materialization;
    * at 100 TB the cost is exactly one exchange of the event stream keyed
    * by user. The frame excludes the current row, so stacked conversions
    * attribute to the same preceding touches rather than to each other.
    *
    * Determinism: (ts, event_id) is a total order (event_id unique), so
    * both engines see identical frames; revenue is an order-free
    * DECIMAL(18,6) sum rounded once at the end.
    */
  def attribution(events: DataFrame,
                  conversionType: String = "purchase"): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= conversionType, col("event_type"))
    events
      .withColumn("first_touch",
        coalesce(first(touch, ignoreNulls = true).over(w), lit("direct")))
      .withColumn("last_touch",
        coalesce(last(touch, ignoreNulls = true).over(w), lit("direct")))
      .filter(col("event_type") === conversionType)
      .groupBy("first_touch", "last_touch")
      .agg(
        count(lit(1)).as("n_conversions"),
        round(dsum(col("value"), 6), 2).as("revenue"))
      .orderBy("first_touch", "last_touch")
  }

  /** Binned interval-overlap join: every (left, right) pair whose
    * [start_s, end_s] second-ranges overlap (touching counts, overlap 0) —
    * the interval analog of [[Relational.binnedRangeJoin]]'s
    * point-in-range binning, and the standard distributed interval-join
    * shape: explode each interval onto the `binSec`-wide time bins it
    * covers, equi-join on the bin, verify the exact overlap predicate
    * row-locally, and report each pair ONLY in the bin containing the
    * overlap's start (`greatest(a.start, b.start) div binSec = bin`) — the
    * classic duplicate-elimination trick that needs no distinct shuffle.
    *
    * Scale: candidates per bin ∝ (intervals alive in the bin)², the
    * right bound for co-presence analytics where concurrency is the
    * output; bins per interval = span/binSec (size `binSec` to the
    * expected interval length). One exchange per side on the bin key,
    * zero global sorts. `joinCond` adds an extra pair predicate (e.g.
    * cross-user only) evaluated with the overlap check.
    *
    * Inputs carry `start_s`/`end_s` as epoch-second longs plus payload;
    * outputs are the payloads prefixed `a_`/`b_` plus `overlap_s`.
    */
  def overlapJoin(left: DataFrame, right: DataFrame, binSec: Long = 3600,
                  joinCond: Option[(org.apache.spark.sql.Column, org.apache.spark.sql.Column)
                    => org.apache.spark.sql.Column] = None,
                  maxBinsPerInterval: Long = 4096L): DataFrame = {
    require(binSec >= 1, s"need binSec >= 1, got $binSec")
    require(maxBinsPerInterval >= 1,
      s"need maxBinsPerInterval >= 1, got $maxBinsPerInterval")
    def explodeBins(df: DataFrame, tag: String): DataFrame = {
      val startBin = (col(s"_${tag}s") / binSec).cast("long")
      val endBin = (col(s"_${tag}e") / binSec).cast("long")
      // bin-explosion guard: one pathological interval (a year-long
      // session at binSec=3600 is ~8.8k bins) would silently multiply the
      // exploded row count; fail loudly INSIDE the consumed expression
      // (raise_error in the sequence's upper bound — a side column would
      // be pruned by the optimizer) and name the fix
      val cappedEnd = when(endBin - startBin < maxBinsPerInterval, endBin)
        .otherwise(raise_error(format_string(
          s"overlapJoin: interval [%s, %s] spans >= $maxBinsPerInterval bins at " +
            s"binSec=$binSec — raise binSec (or maxBinsPerInterval) or pre-split " +
            "the interval",
          col(s"_${tag}s"), col(s"_${tag}e"))))
      df.select(struct(df.columns.map(col): _*).as(s"_$tag"),
          col("start_s").as(s"_${tag}s"), col("end_s").as(s"_${tag}e"))
        .withColumn("_bin", explode(sequence(startBin, cappedEnd)))
    }
    val la = explodeBins(left, "a")
    val lb = explodeBins(right, "b")
    val overlap = col("_as") <= col("_be") && col("_bs") <= col("_ae")
    val anchor = (greatest(col("_as"), col("_bs")) / binSec).cast("long") === la("_bin")
    val extra = joinCond.map(f => f(col("_a"), col("_b"))).getOrElse(lit(true))
    val joined = la.join(lb, la("_bin") === lb("_bin") && overlap && anchor && extra)
    val aOut = left.columns.map(c => col(s"_a.$c").as(s"a_$c"))
    val bOut = right.columns.map(c => col(s"_b.$c").as(s"b_$c"))
    joined.select(aOut ++ bOut :+
      (least(col("_ae"), col("_be")) - greatest(col("_as"), col("_bs")))
        .as("overlap_s"): _*)
  }

  /** Session intervals per user — the gaps-and-islands sessionization of
    * [[sessionsViaLag]] extended with the session END, as epoch-second
    * longs ready for [[overlapJoin]]. */
  def sessionIntervals(events: DataFrame, gapSec: Long = 1800): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    events
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > gapSec, 1)
          .otherwise(0))
      .withColumn("session_id", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min(unix_timestamp(col("ts"))).as("start_s"),
        max(unix_timestamp(col("ts"))).as("end_s"))
  }

  /** Concurrent-session report: for every cross-user pair, how many of
    * their session intervals overlapped and for how long in total — the
    * co-presence / coordinated-activity signal an abuse pipeline reads
    * (organic users rarely co-occur repeatedly; coordinated accounts do).
    * [[sessionIntervals]] → binned [[overlapJoin]] (cross-user pairs only,
    * `user_a < user_b`) → one combining aggregate on the pair key.
    */
  def concurrentSessions(events: DataFrame, gapSec: Long = 1800,
                         binSec: Long = 3600): DataFrame = {
    val sess = Checkpoints(sessionIntervals(events, gapSec))
    overlapJoin(sess, sess, binSec,
      joinCond = Some((a, b) => a.getField("user_id") < b.getField("user_id")))
      .groupBy(col("a_user_id").as("user_a"), col("b_user_id").as("user_b"))
      .agg(count(lit(1)).as("n_pairs"), sum("overlap_s").as("overlap_s"))
      .orderBy("user_a", "user_b")
  }

  /** Generated DuckDB oracle for [[concurrentSessions]]: the
    * sessions-via-lag CTE (the q_events_sessions_lag replay) extended
    * with ends, then the quadratic overlap join the binning is
    * equivalent to. */
  def concurrentSessionsOracleSql(gapSec: Long = 1800): String =
    s"""WITH o AS (SELECT user_id, ts,
       |             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
       |           FROM events),
       |f AS (SELECT user_id, ts,
       |        CASE WHEN prev_ts IS NULL
       |               OR floor(epoch(ts)) - floor(epoch(prev_ts)) > $gapSec
       |             THEN 1 ELSE 0 END AS ns FROM o),
       |g AS (SELECT user_id, ts,
       |        SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |      FROM f),
       |sess AS (SELECT user_id,
       |           CAST(floor(epoch(MIN(ts))) AS BIGINT) AS s,
       |           CAST(floor(epoch(MAX(ts))) AS BIGINT) AS e
       |         FROM g GROUP BY user_id, sid)
       |SELECT a.user_id AS user_a, b.user_id AS user_b,
       |       COUNT(*) AS n_pairs,
       |       CAST(SUM(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT)
       |         AS overlap_s
       |FROM sess a JOIN sess b
       |  ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
       |GROUP BY a.user_id, b.user_id
       |ORDER BY user_a, user_b""".stripMargin

  /** Per-user cadence statistics + rapid-fire flag: event count, active
    * span, exact median inter-event gap, and `is_rapid` = the user's
    * median gap sits at or below the corpus's 10th percentile of median
    * gaps — the velocity screen of bot/abuse triage (absolute thresholds
    * rot as corpora change; a relative fence self-calibrates). Users with
    * a single event have no gaps and no row.
    *
    * Plan: one user-keyed window (`lag`) → per-user percentile aggregate →
    * ONE 1-row exact-percentile fence broadcast back (the rfmSegments
    * shape — never a global ntile window). The flag compares the two
    * engines' identical `percentile` ↔ `quantile_cont` doubles.
    */
  def cadenceStats(events: DataFrame, pct: Double = 0.1): DataFrame = {
    require(pct > 0 && pct < 1, s"need 0 < pct < 1, got $pct")
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gaps = events
      .withColumn("gap_s",
        unix_timestamp(col("ts")) - unix_timestamp(lag("ts", 1).over(byUser)))
      .filter(col("gap_s").isNotNull)
    val per = gaps.groupBy("user_id")
      .agg((count(lit(1)) + 1).as("n_events"),
        sum("gap_s").as("span_s"),
        expr("percentile(gap_s, 0.5)").as("median_gap_s"))
    val fence = per.agg(expr(s"percentile(median_gap_s, $pct)").as("_p"))
    per.crossJoin(broadcast(fence))
      .select(col("user_id"), col("n_events"), col("span_s"),
        round(col("median_gap_s"), 4).as("median_gap_s"),
        (col("median_gap_s") <= col("_p")).as("is_rapid"))
      .orderBy("user_id")
  }

  /** Generated DuckDB oracle for [[cadenceStats]]. */
  def cadenceOracleSql(pct: Double = 0.1): String =
    s"""WITH o AS (SELECT user_id,
       |             floor(epoch(ts)) - floor(epoch(LAG(ts) OVER (
       |               PARTITION BY user_id ORDER BY ts, event_id))) AS gap_s
       |           FROM events),
       |per AS (SELECT user_id,
       |          COUNT(*) + 1 AS n_events,
       |          CAST(SUM(gap_s) AS BIGINT) AS span_s,
       |          quantile_cont(gap_s, 0.5) AS med
       |        FROM o WHERE gap_s IS NOT NULL GROUP BY user_id),
       |fen AS (SELECT quantile_cont(med, $pct) AS p FROM per)
       |SELECT user_id, n_events, span_s,
       |       round(med, 4) AS median_gap_s, med <= p AS is_rapid
       |FROM per CROSS JOIN fen
       |ORDER BY user_id""".stripMargin

  /** Nearest-direction as-of join: each left row matches the right row of
    * the same key whose timestamp is CLOSEST in either direction (pandas
    * `merge_asof(direction='nearest')`), ties broken toward the past —
    * the attribution shape when an effect may be logged slightly before
    * or after its cause (clock skew, buffered emitters) and backward-only
    * as-of silently mis-attributes the "before" half.
    *
    * Same engine as [[asofJoin]]: union both sides, ONE shuffle keyed on
    * `key`, then TWO frames over it — the strictly-at-or-before `last`
    * (rights sort before lefts at equal ts: an exact-tie right matches at
    * distance 0) and the at-or-after `first` (side order reversed so the
    * same-ts right is visible forward too) — and a row-local
    * microsecond-distance pick. Two in-partition sorts, zero joins, no
    * per-key quadratic work.
    *
    * Tie contracts: equal distance → the PAST match wins (strict `<` on
    * the forward distance). Among rights at the SAME timestamp the
    * backward frame keeps the greatest orderable-payload struct (the
    * [[asofJoin]] contract) and the forward frame the smallest — stated,
    * deterministic, and irrelevant on any stream with unique (key, ts).
    * `ts` must be a timestamp column on both sides (distances are
    * `unix_micros`).
    */
  def asofJoinNearest(left: DataFrame, right: DataFrame, key: String,
                      ts: String, prefix: String = "near_"): DataFrame = {
    val rPayloadCols = right.columns.filter(_ != key).toSeq
    val tieCols = rPayloadCols.filter(c => org.apache.spark.sql.catalyst.expressions
      .RowOrdering.isOrderable(right.schema(c).dataType))
    val r = right.select(Seq(col(key).as("_k"), col(ts).as("_ts"), lit(0).as("_side"),
      struct(rPayloadCols.map(col): _*).as("_payload")) ++
      (if (tieCols.nonEmpty) Seq(struct(tieCols.map(col): _*).as("_tie")) else Nil): _*)
    val payloadType = r.schema("_payload").dataType
    val l = left
      .withColumn("_lrow", struct(left.columns.map(col): _*))
      .select(Seq(col(key).as("_k"), col(ts).as("_ts"), lit(1).as("_side"),
        lit(null).cast(payloadType).as("_payload")) ++
        (if (tieCols.nonEmpty)
           Seq(lit(null).cast(r.schema("_tie").dataType).as("_tie")) else Nil) :+
        col("_lrow"): _*)
    val merged = r.withColumn("_lrow", lit(null).cast(l.schema("_lrow").dataType))
      .unionByName(l.select(r.columns.map(col) :+ col("_lrow"): _*))
    val tieAsc = if (tieCols.nonEmpty) Seq(col("_tie")) else Nil
    val wB = Window.partitionBy("_k")
      .orderBy(Seq(col("_ts"), col("_side")) ++ tieAsc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy("_k")
      .orderBy(Seq(col("_ts"), col("_side").desc) ++ tieAsc: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val rightOnly = when(col("_side") === 0, col("_payload"))
    val picked = merged
      .withColumn("_prev", last(rightOnly, ignoreNulls = true).over(wB))
      .withColumn("_next", first(rightOnly, ignoreNulls = true).over(wF))
      .filter(col("_side") === 1)
      .withColumn("_dprev", unix_micros(col("_ts")) - unix_micros(col(s"_prev.$ts")))
      .withColumn("_dnext", unix_micros(col(s"_next.$ts")) - unix_micros(col("_ts")))
      .withColumn("_chosen",
        when(col("_prev").isNull, col("_next"))
          .when(col("_next").isNotNull && col("_dnext") < col("_dprev"), col("_next"))
          .otherwise(col("_prev")))
    val leftOut = left.columns.map(c => col(s"_lrow.$c").as(c))
    val rightOut = rPayloadCols.map(c => col(s"_chosen.$c").as(s"$prefix$c"))
    val delta = (unix_micros(col(s"_chosen.$ts")) - unix_micros(col("_ts")))
      .as(s"${prefix}delta_us")
    picked.select(leftOut ++ rightOut :+ delta: _*)
  }

  /** Event-type transition matrix: counts and row-normalized probabilities
    * of consecutive (from → to) event pairs per user — the maximum-
    * likelihood Markov-chain estimate behind next-action prediction and
    * behavioral-cohort comparison. Consecutive = adjacent in the user's
    * (ts, event_id) total order; the last event of each user has no
    * successor and contributes no pair.
    *
    * Plan shape: one user-keyed window (`lead`) — the same single exchange
    * as [[attribution]] — then a combining count on the |types|² matrix;
    * the row-normalizing share is a window over the ALREADY-AGGREGATED
    * matrix (≤ |types|² rows — bounded by the type vocabulary, not the
    * event volume, so the unpartitioned-looking window is safe at any
    * scale).
    */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead("from_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("prob",
        round(col("n").cast("double") /
          sum("n").over(Window.partitionBy("from_type")), 6))
      .orderBy("from_type", "to_type")
  }

  /** Generated DuckDB oracle for [[eventTransitions]]. */
  def transitionsOracleSql(): String =
    """WITH p AS (
      |  SELECT event_type AS from_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |m AS (SELECT from_type, to_type, COUNT(*) AS n FROM p
      |      WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
      |SELECT from_type, to_type, n,
      |       round(CAST(n AS DOUBLE) /
      |             SUM(n) OVER (PARTITION BY from_type), 6) AS prob
      |FROM m ORDER BY from_type, to_type""".stripMargin

  /** Top event paths: the `len`-step event-type sequences users actually
    * take, ranked by frequency — the path-analysis staple ("what do users
    * do right before purchasing?"). A path is `len` consecutive events in
    * one user's (ts, event_id) order, rendered `a>b>c`; every event starts
    * one path (windows shorter than `len` at the tail of a user's history
    * don't count).
    *
    * Plan shape: `len−1` leads off ONE user-keyed window sort (one
    * exchange, one in-partition sort — Spark collapses same-spec window
    * functions into a single WindowExec), a combining count on the
    * ≤ |types|^len matrix, and a rank window over that bounded aggregate.
    * `topK` keeps the report bounded; ties rank by path string so the
    * cut is total on both engines.
    */
  def eventPaths(events: DataFrame, len: Int = 3, topK: Int = 10): DataFrame = {
    require(len >= 2 && len <= 6, s"need 2 <= len <= 6, got $len")
    require(topK >= 1, s"need topK >= 1, got $topK")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val steps = col("event_type") +:
      (1 until len).map(i => lead("event_type", i).over(w))
    val rankW = Window.orderBy(col("n").desc, col("path"))
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("path", concat_ws(">", steps: _*))
      .withColumn("_last_step", steps.last) // window exprs must land in a
      .filter(col("_last_step").isNotNull)  // projection before any filter
      .groupBy("path").agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= topK)
      .orderBy("rank")
  }

  /** Generated DuckDB oracle for [[eventPaths]]. */
  def pathsOracleSql(len: Int = 3, topK: Int = 10): String = {
    val leads = (1 until len)
      .map(i => s"lead(event_type, $i) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS s$i")
      .mkString(",\n         ")
    val pathExpr = ("event_type" +: (1 until len).map(i => s"s$i"))
      .mkString(" || '>' || ")
    s"""WITH p AS (
       |  SELECT event_type,
       |         $leads
       |  FROM events),
       |c AS (SELECT $pathExpr AS path, COUNT(*) AS n
       |      FROM p WHERE s${len - 1} IS NOT NULL
       |      GROUP BY 1),
       |r AS (SELECT path, n,
       |             row_number() OVER (ORDER BY n DESC, path) AS rank
       |      FROM c)
       |SELECT path, n, CAST(rank AS BIGINT) AS rank FROM r
       |WHERE rank <= $topK ORDER BY rank""".stripMargin
  }

  /** Generated DuckDB oracle for [[attribution]]: the same strictly-
    * preceding IGNORE NULLS window pair and decimal revenue sum. */
  def attributionOracleSql(conversionType: String = "purchase"): String =
    s"""WITH tagged AS (
       |  SELECT event_type, value,
       |    COALESCE(first_value(CASE WHEN event_type <> '$conversionType'
       |                              THEN event_type END IGNORE NULLS)
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      'direct') AS first_touch,
       |    COALESCE(last_value(CASE WHEN event_type <> '$conversionType'
       |                             THEN event_type END IGNORE NULLS)
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      'direct') AS last_touch
       |  FROM events)
       |SELECT first_touch, last_touch, COUNT(*) AS n_conversions,
       |       round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2)
       |         AS revenue
       |FROM tagged WHERE event_type = '$conversionType'
       |GROUP BY first_touch, last_touch
       |ORDER BY first_touch, last_touch""".stripMargin

  /** Burst detection over the daily event-count series: maximal runs of
    * consecutive series rows whose count exceeds mean + k·std (the
    * incident/virality report — when did volume run hot, for how long,
    * how high). Gaps-and-islands over the POST-AGGREGATE day series
    * (one row per day, calendar-bounded — the [[Stats.acf]] scale
    * shape); "consecutive" means consecutive series rows, stated.
    * Mean/std come from exact longs (population σ), so the threshold
    * double and every flag are engine-identical.
    */
  def burstRuns(events: DataFrame, k: Double = 1.0): DataFrame = {
    val daily = events.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val dec = org.apache.spark.sql.types.DecimalType(18, 0)
    val stats = daily.agg(count(lit(1)).as("_nd"), sum("n").as("_tot"),
      // decimal operands: a 100 TB day's count squared overflows a long
      sum(col("n").cast(dec) * col("n").cast(dec)).as("_tot2"))
    val nd = col("_nd").cast("double")
    val mean = col("_tot").cast("double") / nd
    val std = sqrt(greatest(col("_tot2").cast("double") / nd - mean * mean, lit(0.0)))
    val w = Window.orderBy("day")
    val flagged = daily.crossJoin(broadcast(stats))
      .withColumn("_thr", mean + lit(k) * std)
      .withColumn("_rn", row_number().over(w))
      .filter(col("n").cast("double") > col("_thr"))
    val wf = Window.orderBy("day")
    flagged.withColumn("_grp", col("_rn") - row_number().over(wf))
      .groupBy("_grp")
      .agg(min("day").as("run_start"), max("day").as("run_end"),
        count(lit(1)).as("n_days"), max("n").as("peak"),
        sum("n").as("total_events"))
      .drop("_grp")
      .orderBy("run_start")
  }

  /** Generated DuckDB oracle for [[burstRuns]]. */
  def burstRunsOracleSql(k: Double = 1.0): String =
    s"""WITH daily AS (SELECT date_trunc('day', ts) AS day, COUNT(*) AS n
       |               FROM events GROUP BY 1),
       |st AS (SELECT COUNT(*) AS nd, SUM(n) AS tot,
       |              SUM(CAST(n AS DECIMAL(18,0)) * CAST(n AS DECIMAL(18,0))) AS tot2
       |       FROM daily),
       |rn AS (SELECT day, n, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily),
       |fl AS (SELECT day, n, rn
       |       FROM rn CROSS JOIN st
       |       WHERE CAST(n AS DOUBLE) >
       |             CAST(tot AS DOUBLE) / nd
       |             + $k * sqrt(greatest(CAST(tot2 AS DOUBLE) / nd
       |                 - (CAST(tot AS DOUBLE) / nd) * (CAST(tot AS DOUBLE) / nd), 0.0))),
       |gr AS (SELECT day, n, rn - ROW_NUMBER() OVER (ORDER BY day) AS grp FROM fl)
       |SELECT MIN(day) AS run_start, MAX(day) AS run_end,
       |       COUNT(*) AS n_days, CAST(MAX(n) AS BIGINT) AS peak,
       |       CAST(SUM(n) AS BIGINT) AS total_events
       |FROM gr GROUP BY grp ORDER BY run_start""".stripMargin

  /** Time-constrained conversion funnel — the [[funnel]] sibling with an
    * SLA clock: of the users whose FIRST `fromType` event exists, how
    * many reached a `toType` event within each window in `windowsSec`
    * (e.g. 1 h / 1 d / 7 d)? Per user the plan needs only the first
    * `fromType` ts and the MINIMUM `toType` ts at-or-after it: one
    * user-keyed aggregate per side, one co-partitioned join, then a
    * per-window conditional count — no explode, no per-window rescans.
    * Latency µs are exact longs, so the rates are engine-identical
    * doubles. Output: one row per window.
    */
  def funnelWindowed(events: DataFrame, fromType: String = "signup",
                     toType: String = "purchase",
                     windowsSec: Seq[Long] = Seq(3600L, 86400L, 604800L)): DataFrame = {
    require(windowsSec.nonEmpty && windowsSec.forall(_ > 0), "positive windows")
    val first = events.filter(col("event_type") === fromType)
      .groupBy("user_id").agg(min("ts").as("_t0"))
    val reach = events.filter(col("event_type") === toType)
      .select(col("user_id"), col("ts").as("_t1"))
      .join(first, Seq("user_id"))
      .filter(col("_t1") >= col("_t0"))
      .groupBy("user_id").agg(min(unix_micros(col("_t1"))).as("_r"))
    val joined = first
      .select(col("user_id"), unix_micros(col("_t0")).as("_t0u"))
      .join(reach, Seq("user_id"), "left")
    val aggs =
      Seq(count(lit(1)).as("n_entered")) ++
        windowsSec.map { wSec =>
          sum(when(col("_r").isNotNull &&
            col("_r") - col("_t0u") <= wSec * 1000000L, 1L).otherwise(0L))
            .as(s"_c$wSec")
        }
    val agg = joined.agg(aggs.head, aggs.tail: _*)
    val rows = windowsSec.map { wSec =>
      struct(lit(wSec).as("window_sec"), col(s"_c$wSec").as("n_converted"),
        round(col(s"_c$wSec").cast("double") / col("n_entered").cast("double"), 6)
          .as("conversion_rate"))
    }
    agg.select(col("n_entered"), explode(array(rows: _*)).as("p"))
      .select(col("p.window_sec"), col("n_entered"), col("p.n_converted"),
        col("p.conversion_rate"))
      .orderBy("window_sec")
  }

  /** Generated DuckDB oracle for [[funnelWindowed]]. */
  def funnelWindowedOracleSql(fromType: String = "signup",
                              toType: String = "purchase",
                              windowsSec: Seq[Long] = Seq(3600L, 86400L, 604800L)): String = {
    val blocks = windowsSec.map { wSec =>
      val wUs = wSec * 1000000L
      s"""SELECT CAST($wSec AS BIGINT) AS window_sec,
         |       (SELECT COUNT(*) FROM f) AS n_entered,
         |       CAST(SUM(CASE WHEN r IS NOT NULL AND r - t0u <= $wUs THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_converted,
         |       round(CAST(SUM(CASE WHEN r IS NOT NULL AND r - t0u <= $wUs THEN 1 ELSE 0 END) AS DOUBLE)
         |             / (SELECT COUNT(*) FROM f), 6) AS conversion_rate
         |FROM j""".stripMargin
    }
    s"""WITH f AS (SELECT user_id, MIN(ts) AS t0 FROM events
       |           WHERE event_type = '$fromType' GROUP BY user_id),
       |r AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS r
       |      FROM events e JOIN f ON e.user_id = f.user_id
       |      WHERE e.event_type = '$toType' AND e.ts >= f.t0
       |      GROUP BY e.user_id),
       |j AS (SELECT f.user_id, epoch_us(f.t0) AS t0u, r.r
       |      FROM f LEFT JOIN r ON f.user_id = r.user_id)
       |${blocks.mkString("\nUNION ALL\n")}
       |ORDER BY window_sec""".stripMargin
  }
}
