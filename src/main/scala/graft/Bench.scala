package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark main: times every registered query at the scale
  * factor in SPARK_GRAFT_SF_DIR.
  *
  * Noise robustness (round 4): a single wall-clock pass per query cannot
  * support a 2x gate on a shared host — round 3's driver capture read
  * 208.9 s where an identical-config controlled re-run measured 66.5 s.
  * So each query runs SPARK_GRAFT_BENCH_REPS times (default 3) and the
  * reported per-query number (and the headline total) is the MIN across
  * reps — the run least polluted by host load. The first-run times are
  * kept in a separate "first_runs" map so cold-start cost stays
  * observable, and a fixed calibration workload is timed the same way so
  * captures taken under different host load can be compared.
  *
  * Interleaved passes (round 14, from the round-13 gate breach): reps
  * used to run BACK-TO-BACK per query, so a co-tenant burst lasting
  * longer than one query's three reps poisoned ALL of that query's
  * samples (BENCH_r13: q_min_cost_supplier read 22 s min-of-3 where
  * controlled probes read ~1.1 s — one ~70 s burst covered all three
  * consecutive reps). Reps are now FULL PASSES over the whole registry:
  * pass 1 times every query once (these are the first runs), then pass 2,
  * then pass 3 — per-query samples are ~a-full-pass apart in time, so a
  * burst must persist across the entire capture to poison every sample of
  * any one query. Each pass is BRACKETED by the calibration workload and
  * /proc/loadavg readings, all recorded per pass in the artifact
  * ("passes" array); a pass whose opening calib breaches the ceiling
  * sleeps and re-calibrates (15/30/45/60/75 s schedule) before running,
  * and if any planned pass still ran hot, up to SPARK_GRAFT_EXTRA_PASSES
  * (default 2) additional passes run so the min-composition has at least
  * one clean window per query whenever the host allows it. The headline
  * "calib_hot" stamp now means "NO clean pass existed" — with per-query
  * min composed across passes, one clean pass bounds every query's
  * reported time by a clean-window sample (contention only ever inflates).
  *
  * Output protocol: the full per-query JSON line (with an explicit
  * `errors` object — a failing query must be a visible error, never a
  * fast "-1 s" timing) is SANDWICHED between two copies of a short
  * total-only line: round 1's driver truncated the long line in its tail
  * capture, and the duplicated short line guarantees a complete parseable
  * JSON line survives whichever end of the output a capture keeps.
  */
object Bench {
  def main(args: Array[String]): Unit =
    // Last-resort guard (round-7 postmortem): no matter what throws during
    // setup, ONE parseable JSON line with the error named must reach stdout
    // — a zero-timing crash artifact is the worst possible round output.
    try run() catch { case e: Throwable =>
      val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
        .flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString }
      val line = s"""{"metric":"total","value":-1,"unit":"sec","fatal":"$msg","n_errors":1}"""
      writeSidecar(line)
      println(line)
    }

  /** Sidecar copy of the summary JSON (round-10 postmortem): BENCH_r10.json
    * carried `parsed: null` because Spark-teardown WARN lines printed AFTER
    * the summary and pushed its front out of the driver's 2000-char tail
    * window. The stdout protocol is now teardown-silenced (see run()), and
    * this file is the belt-and-suspenders copy: the official artifact can
    * be truncated by a capture window, a file in the repo cannot.
    */
  private def writeSidecar(lines: String*): Unit =
    try {
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_SIDECAR", "bench_summary.json"))
      java.nio.file.Files.write(p,
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] sidecar write failed: ${e.getMessage}")
    }

  private def run(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // Experiment hook: SPARK_GRAFT_CONF="k=v;k=v" overlays extra Spark confs
    // for local A/B runs. Like SPARK_GRAFT_ONLY, a leaked value must be
    // self-describing — the active overlay rides the artifact header.
    // Known limit: ';' cannot appear INSIDE a value (it splits first) — a
    // semicolon-delimited Java-option value would need an escape scheme or
    // a different pair delimiter; acceptable for a local A/B hook, and the
    // require below makes a truncated entry fail loudly rather than apply.
    val extraConf: Seq[(String, String)] =
      sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(';')).map(_.trim)
        .filter(_.nonEmpty).map { kv =>
          val i = kv.indexOf('=')
          require(i > 0, s"SPARK_GRAFT_CONF entry without '=': $kv")
          kv.take(i) -> kv.drop(i + 1)
        }
    // Session.builder holds the deployed confs; the notes below record
    // the confs screened for Bench and left at their defaults.
    // The round-16 AQE coalescing tune (parallelismFirst=false + 8 MB
    // advisory) was REVERTED to defaults in round 17. It was adopted on
    // a thrash-era A/B (see the codegen cache note in Session); re-screened
    // with the query-level ABBA instrument AFTER the codegen fix it
    // reads median 0.999 but TOTAL 87.9 (tuned) vs 83.1 s (defaults) —
    // the tune's tail savings (~0.1 s × a few rows) no longer exist
    // once stages stop paying a Janino compile, while its cost — less
    // reduce-side parallelism on the heavy shuffle rows — remains
    // (q_spearman −0.89, q_tfidf_pairs −0.81, q_sole_blame −0.77,
    // q_min_cost_supplier −0.59 s with defaults). AQE itself stays ON
    // (AQE-off measured +22 s in r16: graph/iterative rows regress).
    // constraintPropagation-off was screened and REJECTED (round 17):
    // the pass-level instrument read 0.933 for it, but that instrument
    // is warm-order-biased (see PERF.md "the instrument problem"); the
    // query-level ABBA re-measurement over the full registry read
    // median 1.009 — neutral. Kept at default. Kryo (alternating-
    // session pairs 0.967/1.063/1.191) and shuffle-compression-off
    // (1.08) were screened and rejected the same round.
    // maxPartitionBytes=1MB was screened and REJECTED (round 17): the
    // pass-level instrument first read 0.902 for it, but every fixture
    // file is ONE parquet row group, so a smaller split cannot
    // parallelize any decode — it only adds empty tasks. The query-level
    // ABBA re-measurement (each query ON,OFF,OFF,ON back-to-back, drift
    // cancels) read median 1.012: the "win" was warm-order bias in the
    // pass-level A/B (the candidate arm always ran on the warmer later
    // passes). Kept at default.
    val spark = extraConf.foldLeft(Session.builder(cpus)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the session once (JIT/codegen/classloading, parquet reader and
    // footer init for each fixture table) so the alphabetically-first
    // measured query isn't charged the one-time open costs
    spark.range(1000).selectExpr("sum(id)").collect()
    // Warmup failures must never cost the round its artifact (round 7:
    // a fixture-schema drift crashed the unguarded events warmup OUTSIDE
    // the per-query try/catch and BENCH_r07.json became rc=1 with zero
    // timings). Per-table log-and-continue: a table that cannot warm will
    // surface as per-query errors in the `errors` object, where it is
    // visible and the rest of the run still produces numbers.
    val warmupErrs = core.Tables.all.flatMap { t =>
      try { core.Tables.load(spark, sfDir, t).count(); None }
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup failed for $t: ${e.getMessage}")
        Some(t -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
      }
    }

    def timeOnce(run: () => Unit): Double = {
      val t0 = System.nanoTime()
      run()
      (System.nanoTime() - t0) / 1e9
    }
    // Fixed calibration workload: a deterministic shuffle-bearing aggregate
    // over the largest fixture table. Its best-of-reps time scales with the
    // host's current effective throughput, so two captures of the same
    // commit can be compared via their calib_sec ratio.
    def calibrate(): Double = try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      (1 to reps).map { _ =>
        timeOnce(() => li.groupBy("l_returnflag", "l_linestatus")
          .agg(org.apache.spark.sql.functions.sum("l_quantity")).count())
      }.min
    } catch { case e: Throwable =>
      // a broken calibration table must not abort the run — -1 is an
      // explicit "uncalibrated" marker downstream consumers can see
      System.err.println(s"[bench] calibration failed: ${e.getMessage}")
      -1.0
    }
    // Calib guard (round-5 VERDICT, tightened round 10): the round-5
    // official artifact was captured in a loaded window (calib 0.307 vs the
    // 0.232 idle band) and read 10% slower than the definitive idle
    // capture; the ROUND-9 official artifact then slipped UNDER the 0.28
    // ceiling at calib 0.272 — above every documented idle capture
    // (0.19-0.26) and matching the signature of a known loaded-host
    // outlier — and published 88.5 s where four same-code captures read
    // 62-64 s. So the ceiling now sits at the top of the OBSERVED idle
    // band (0.26), and the retry schedule grows (15/30/45/60/75 s ≈ 3.75
    // min total) to outlast a co-tenant burst instead of re-sampling
    // inside it. Never refuse outright — a missing artifact is worse than
    // an annotated loaded one — but a capture that STARTS hot is stamped
    // both "calib_loaded" (artifact lineage, key kept since r5) and
    // "calib_hot" so a loaded-window number can never again pass as idle.
    val calibMax = sys.env.getOrElse("SPARK_GRAFT_CALIB_MAX", "0.26").toDouble
    val maxExtraPasses = math.max(0,
      sys.env.getOrElse("SPARK_GRAFT_EXTRA_PASSES", "2").toInt)
    def loadavg(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // one untimed calibration pass first: the very first execution of the
    // calib query pays its own codegen/JIT, which is OUR cold start, not
    // host load — without this the gate's first attempt reads hot on an
    // idle host and burns a retry sleep for nothing
    calibrate()
    var calibRetries = 0
    // the 15/30/45/60/75 s schedule outlasts a co-tenant burst instead of
    // re-sampling inside it; the retry budget is GLOBAL across passes so a
    // persistently loaded host adds at most ~3.75 min, not 3.75 min/pass
    def gatedCalib(): Double = {
      var c = calibrate()
      while (c > calibMax && calibRetries < 5) {
        calibRetries += 1
        Thread.sleep(15000L * calibRetries)
        c = calibrate()
      }
      c
    }

    // local-iteration filter (same contract as Verify): comma-separated
    // query names; unset = all. Official driver captures never set it.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val plan: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      SparkEntry.queries.toSeq
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .sortBy(_._1)
    // Per-query samples accumulate ACROSS passes; a query that errors is
    // recorded once and skipped in later passes (a deterministic failure
    // re-thrown n times is noise, not information).
    val samples = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    val errs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // per-pass lineage: (calib_open, calib_close, load_open, load_close,
    // pass wall seconds, hot)
    final case class PassInfo(calib: Double, calibEnd: Double,
                              load0: Double, load1: Double,
                              sec: Double, hot: Boolean, gcSec: Double)
    val passes = scala.collection.mutable.ArrayBuffer.empty[PassInfo]
    // cumulative stop-the-world GC time in this JVM — a pass whose gc_sec
    // is a large fraction of its wall time is heap-bound (driver -Xmx),
    // not host-bound, and the calib bracket cannot tell those apart
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).filter(_ > 0).sum
    }
    def runPass(): Unit = {
      val c0 = gatedCalib()
      val l0 = loadavg()
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      plan.foreach { case (name, fn) =>
        if (!errs.contains(name)) {
          try {
            val t = timeOnce(() => fn(spark, sfDir).count())
            samples.getOrElseUpdate(name,
              scala.collection.mutable.ArrayBuffer.empty[Double]) += t
          } catch { case e: Throwable =>
            errs(name) =
              s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}"
          }
        }
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val gc1 = gcMs()
      val c1 = calibrate()
      passes += PassInfo(c0, c1, l0, loadavg(), sec,
        c0 > calibMax || c1 > calibMax, (gc1 - gc0) / 1000.0)
    }
    (1 to reps).foreach(_ => runPass())
    // top-up: if no planned pass ran with both calib brackets clean, the
    // min-composition has no clean window — buy up to maxExtraPasses more
    var extra = 0
    while (passes.forall(_.hot) && extra < maxExtraPasses) {
      extra += 1
      runPass()
    }
    val results: Seq[(String, Either[String, Seq[Double]])] =
      plan.map { case (name, _) =>
        if (samples.get(name).exists(_.nonEmpty)) name -> Right(samples(name).toSeq)
        else name -> Left(errs.getOrElse(name, "no sample recorded"))
      }
    val ok = results.collect { case (k, Right(ts)) => k -> ((ts.head, ts.min, ts)) }
    // a query with at least one timed sample reports as timed — a pass-2+
    // failure on a query that succeeded earlier would be both a timing and
    // an error, so errors are exactly the Left rows
    val errsSeq = results.collect { case (k, Left(m)) => k -> m }
    // Stall self-description (round-6 VERDICT): the calib bracket sees
    // broad host load but not a SINGLE-QUERY stall (round 6's official
    // artifact read q_surprisal_bigram 3x its same-session controls with
    // idle-band calibs). A rep that is >= SPARK_GRAFT_SUSPECT_RATIO times
    // its sibling reps' median marks the row suspect — the artifact then
    // carries (max/median) per suspect query, so a one-off stall is
    // diagnosable from the artifact alone instead of by cross-round
    // archaeology. The reported min is unaffected; the flag only says
    // "this row's reps disagreed enough that the min may not be typical".
    // Under interleaved passes the FIRST sample is excluded from the
    // ratio: pass 1 is every query's true first run (JIT, codegen),
    // systematically slow, and separately visible in
    // "first_runs" — flagging it as a stall would mark the whole registry
    // suspect on every capture.
    val suspectRatio = sys.env.getOrElse("SPARK_GRAFT_SUSPECT_RATIO", "3.0").toDouble
    val suspects = ok.flatMap { case (k, (_, _, tsAll)) =>
      val ts = if (tsAll.size >= 3) tsAll.drop(1) else tsAll
      val median = ts.sorted.apply(ts.size / 2)
      val ratio = if (median > 0) ts.max / median else 1.0
      if (ts.size >= 2 && ratio >= suspectRatio)
        Some(k -> math.rint(ratio * 100) / 100) else None
    }
    // calib lineage keys: "calib_sec"/"calib_end_sec" are the FIRST pass's
    // open bracket and the LAST pass's close bracket (cross-round
    // comparability with pre-r14 captures). The hot stamp is per the new
    // semantics: hot ⇔ NO pass ran with both brackets clean — with
    // per-query mins composed across passes, one clean pass bounds every
    // query's reported time by a clean-window sample.
    val calib = passes.headOption.map(_.calib).getOrElse(-1.0)
    val calibEnd = passes.lastOption.map(_.calibEnd).getOrElse(-1.0)
    val nCleanPasses = passes.count(!_.hot)
    val calibLoadedAny = nCleanPasses == 0
    // Metric lineage: "value"/"queries" are min-across-reps as of round 4
    // (noise-robust); BENCH_r01..r03 captured single-pass wall clock, which
    // lives on as "total_first_run"/"queries_first_run" — compare pre-r04
    // captures against THOSE keys, not "value", or a trend read mixes two
    // different statistics.
    val total = ok.map(_._2._2).sum
    val totalFirst = ok.map(_._2._1).sum
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      } + "\""
    // a capture with SPARK_GRAFT_ONLY leaked into the environment must be
    // self-describing (round-5 ADVICE): the active filter and the registry
    // size ride the artifact, so a partial capture can never read as full
    val filterDesc = only.map(s => s""","only":${jstr(s.toSeq.sorted.mkString(","))}""").getOrElse("") +
      (if (extraConf.nonEmpty)
         s""","conf_overlay":${jstr(extraConf.map { case (k, v) => s"$k=$v" }.mkString(";"))}"""
       else "")
    val suspectsJson = suspects.map { case (k, r) => s""""$k":$r""" }.mkString("{", ",", "}")
    val warmupJson = warmupErrs.map { case (k, m) => s""""$k":${jstr(m)}""" }.mkString("{", ",", "}")
    def r3(d: Double): Double = math.rint(d * 1000) / 1000
    val passesJson = passes.map { p =>
      s"""{"calib":${r3(p.calib)},"calib_end":${r3(p.calibEnd)},""" +
        s""""loadavg_start":${p.load0},"loadavg_end":${p.load1},""" +
        s""""sec":${r3(p.sec)},"hot":${p.hot},"gc_sec":${r3(p.gcSec)}}"""
    }.mkString("[", ",", "]")
    val header = s""""n_queries":${results.size},"n_registry":${SparkEntry.queries.size},""" +
      s""""n_errors":${errsSeq.size},"reps":$reps,"cpus":$cpus,""" +
      s""""calib_sec":$calib,"calib_end_sec":$calibEnd,"calib_loaded":$calibLoadedAny,""" +
      s""""calib_hot":$calibLoadedAny,"calib_retries":$calibRetries,"calib_max":$calibMax,""" +
      s""""interleaved":true,"n_passes":${passes.size},"n_clean_passes":$nCleanPasses,""" +
      s""""n_extra_passes":$extra,"passes":$passesJson,""" +
      s""""n_warmup_errors":${warmupErrs.size},"warmup_errors":$warmupJson,""" +
      s""""n_suspect":${suspects.size},"suspect":$suspectsJson$filterDesc"""
    val shortLine = s"""{"metric":"total","value":$total,"unit":"sec","sf":${jstr(sfDir)},""" +
      s"""$header,"total_first_run":$totalFirst}"""
    val qs = ok.map { case (k, (_, mn, _)) => s""""$k":$mn""" }.mkString("{", ",", "}")
    val firsts = ok.map { case (k, (f, _, _)) => s""""$k":$f""" }.mkString("{", ",", "}")
    val es = errsSeq.map { case (k, m) => s""""$k":${jstr(m)}""" }.mkString("{", ",", "}")
    val longLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""first_runs":$firsts,"errors":$es,"sf":${jstr(sfDir)},$header}"""
    // Teardown BEFORE the summary lines (round-10 postmortem): stopping the
    // session logs WARN MapPartitionsRDD lines, and anything printed after
    // the summary can push it out of a fixed-size tail capture of stdout —
    // BENCH_r10.json lost its headline value exactly that way. Silence the
    // context first (nothing left to diagnose at this point), tear down, and
    // only then emit the protocol lines as the absolute last output of the
    // process.
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    // COMPACT per-query line (round 18, VERDICT r17 #6): the long line's
    // queries map never survived the driver's tail window in r16/r17
    // (PERF_r16/r17 both ended with per_query: {}), because first_runs +
    // passes push it to ~20 KB. This line carries ONLY the
    // contract keys plus the per-query mins rounded to 1 ms (full precision
    // stays in the long line and the sidecar), ~6 KB, and is emitted as the
    // FINAL stdout line so a tail capture big enough to hold it parses a
    // line WITH the queries map. The short total-only line directly before
    // it keeps the round-1 guarantee: whichever prefix of the final lines a
    // smaller window keeps, one complete parseable JSON line survives.
    def r3q(d: Double): Double = math.rint(d * 1000) / 1000
    val qsCompact = ok.map { case (k, (_, mn, _)) => s""""$k":${r3q(mn)}""" }
      .mkString("{", ",", "}")
    val compactLine = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":$qsCompact,"errors":$es,"sf":${jstr(sfDir)},""" +
      s""""n_queries":${results.size},"n_registry":${SparkEntry.queries.size},""" +
      s""""n_errors":${errsSeq.size},"reps":$reps,"cpus":$cpus,""" +
      s""""calib_sec":$calib,"calib_end_sec":$calibEnd,"calib_hot":$calibLoadedAny,""" +
      s""""n_passes":${passes.size},"n_clean_passes":$nCleanPasses,""" +
      s""""compact":true$filterDesc}"""
    writeSidecar(shortLine, longLine, compactLine)
    // short line, long per-query line, short line again (the pre-r18
    // protocol, unchanged), then the compact per-query line LAST
    println(shortLine)
    println(longLine)
    println(shortLine)
    println(compactLine)
  }
}
