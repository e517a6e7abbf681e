package graft

import org.apache.spark.sql.GraftSqlBridge

/** Hand-run performance probes (Test scope; no test or benchmark runs
  * them): `Test/runMain graft.PerfProbe <mode> ...` at SPARK_GRAFT_SF_DIR
  * (default sf0.1). Modes: `passes`, `jobs` and `floor` (below); any other
  * arguments are query names, each timed with `count()`. The concluded
  * study modes are retired; PERF.md's "Retired PerfProbe modes" points to
  * where each result is recorded.
  */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // codegen cache env-overridable so the `passes` experiment stays
    // reproducible (STATIC conf, read once at session build)
    val spark = Session.builder("32")
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "10000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/lineitem.parquet").count() // JIT/scan warmup

    // `Test/runMain graft.PerfProbe passes [nPasses]` — full-registry
    // pass-total trend + per-pass CODEGEN COMPILE attribution. The
    // codegen class cache (`spark.sql.codegen.cache.maxEntries`, STATIC
    // conf, default 100) is far smaller than this registry's unique
    // generated-source count, so every pass may re-compile (Janino) and
    // re-JIT every stage — which would explain both the per-query floor
    // and the endless inter-pass warming that defeats pass-level A/Bs.
    // Run under SPARK_GRAFT_CODEGEN_CACHE=100 vs =10000 and compare the
    // compile deltas AND the late-pass totals.
    if (args.headOption.contains("passes")) {
      val nPasses = if (args.length > 1) args(1).toInt else 4
      val names = SparkEntry.queries.keys.toSeq.sorted
      import org.apache.spark.metrics.source.CodegenMetrics
      def compCount = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      def compMeanMs = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
      println(s"PROBE passes codegenCache=" +
        spark.conf.get("spark.sql.codegen.cache.maxEntries"))
      for (pass <- 1 to nPasses) {
        val c0 = compCount
        val t0 = System.nanoTime()
        names.foreach { n =>
          try SparkEntry.queries(n)(spark, sfDir).count()
          catch { case e: Throwable => println(s"PROBE passes $n FAILED: ${e.getMessage}") }
        }
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"PROBE passes pass=$pass total=$sec%.2f compiles=${compCount - c0} " +
          f"meanCompileMs=$compMeanMs%.1f estCompileSec=${(compCount - c0) * compMeanMs / 1000}%.1f")
      }
      spark.stop(); return
    }

    // Job-count attribution: `Test/runMain graft.PerfProbe jobs q1,q2,...`
    // — per query: warm wall time, Spark job count, stage count, summed
    // executor task time. A row whose wall time is many × its task time
    // is floor-bound (scheduler round-trips), not compute-bound; its
    // lever is fewer jobs (checkpoint cadence, broadcast builds, AQE
    // stage rounds), not a better plan.
    if (args.headOption.contains("jobs")) {
      val names = args(1).split(',').toSeq.sorted
      @volatile var jobs = 0
      @volatile var stages = 0
      @volatile var taskMs = 0L
      val detail = args.length > 2 && args(2) == "detail"
      @volatile var inTimed = false
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
        override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages += 1
          taskMs += s.stageInfo.taskMetrics.executorRunTime
          if (detail && inTimed) {
            val si = s.stageInfo
            val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
            println(f"PROBE stage  tasks=${si.numTasks}%4d wall=${ms}%5d ms taskTime=${si.taskMetrics.executorRunTime}%6d ms  ${si.name.take(90)}")
          }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      names.foreach { n =>
        SparkEntry.queries(n)(spark, sfDir).count() // warm (codegen, JIT)
        GraftSqlBridge.drainListenerBus(spark)
        jobs = 0; stages = 0; taskMs = 0L; inTimed = true
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        GraftSqlBridge.drainListenerBus(spark); inTimed = false
        println(f"PROBE jobs $n%-26s wall=$wall%6.2fs jobs=$jobs%3d stages=$stages%3d taskTime=${taskMs / 1000.0}%7.2fs floorShare=${(jobs * 0.09) / wall}%.2f")
      }
      spark.stop(); return
    }

    // floor mode: `Test/runMain graft.PerfProbe floor` — decompose the
    // ~0.27 s/query bench floor (round-10 closing posture: with 177
    // registered queries the floor is the dominant headline term). Times,
    // separately: (a) parquet SOURCE RESOLUTION (file listing + footer
    // schema inference — paid on every Tables.load call today), (b) a
    // trivial query end-to-end as the bench runs it (fresh plan per rep),
    // (c) the same computation on a PRE-RESOLVED DataFrame (what a
    // catalog/temp-view table would cost), (d) a bare 32-task job launch
    // (the irreducible scheduler floor). The (b)-(c) gap is what a
    // memoized Tables.load could recover across 177 queries x 3 reps.
    if (args.headOption.contains("floor")) {
      import graft.core.Tables
      def rep(n: Int)(f: => Unit): Seq[Double] =
        (1 to n).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      def report(name: String, ts: Seq[Double]): Unit =
        println(f"PROBE floor $name%-26s min=${ts.min}%.4f med=${ts.sorted.apply(ts.size / 2)}%.4f max=${ts.max}%.4f")
      report("job_launch_32tasks", rep(20)(spark.range(0, 32, 1, 32).count()))
      report("resolve_lineitem", rep(20)(spark.read.parquet(s"$sfDir/lineitem.parquet").schema))
      report("resolve_all10", rep(10)(Tables.all.foreach(t => Tables.load(spark, sfDir, t).schema)))
      val sum = SparkEntry.queries("q_scalar_sum")
      report("q_scalar_sum_bench", rep(20)(sum(spark, sfDir).count()))
      val li = Tables.lineitem(spark, sfDir)
      report("q_scalar_sum_preresolved",
        rep(20)(li.select(org.apache.spark.sql.functions.sum("l_quantity")).count()))
      val filt = SparkEntry.queries("q_scan_filter")
      report("q_scan_filter_bench", rep(20)(filt(spark, sfDir).count()))
      val join = SparkEntry.queries("q_join_star")
      report("q_join_star_bench", rep(20)(join(spark, sfDir).count()))
      spark.stop(); return
    }

    // ad-hoc mode: `Test/runMain graft.PerfProbe q_x q_y` times just those
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "3").toInt
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"PROBE $name%-28s ${ts.map(t => f"$t%.3f").mkString(" ")}s min=${ts.min}%.3f")
    }
    spark.stop()
  }
}
