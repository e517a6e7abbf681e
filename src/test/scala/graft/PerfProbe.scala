package graft

import org.apache.spark.sql.SparkSession

/** Throwaway micro-probe (Test scope only, run by hand):
  * `Test/runMain graft.PerfProbe` at SPARK_GRAFT_SF_DIR (default sf0.1).
  *
  * Round-5 shape: (1) time the queries new this round; (2) A/B the four
  * trivial queries that read slower in BENCH_r04 (q_scan_filter,
  * q_scalar_funcs, q_scalar_sum, q_rollup) BEFORE and AFTER the session
  * has executed the rest of the registry — if "after" is consistently
  * slower, the cause is session aging (listener/status-store accumulation
  * across ~90 prior queries), an execution-order artifact of the bench,
  * not an operator regression.
  */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // AQE coalescing left at defaults, matching Bench (the r16 tune was
      // reverted in round 17 after the post-codegen-fix ABBA re-screen)
      // codegen cache sized to the registry, matching Bench (round 17);
      // STATIC conf (read once at session build), env-overridable so the
      // codegen-cache experiment stays reproducible
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "10000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/lineitem.parquet").count() // JIT/scan warmup

    val defaultReps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "3").toInt
    def timeQ(name: String, reps: Int = defaultReps, tag: String = ""): Seq[Double] = {
      val fn = SparkEntry.queries(name)
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"PROBE ${name + tag}%-28s ${ts.map(t => f"$t%.3f").mkString(" ")}s min=${ts.min}%.3f")
      ts
    }

    // abc A/B mode: `Test/runMain graft.PerfProbe abc` — bucketed
    // closed-form abcClasses vs the naive ranked window on the q_abc
    // entity frame (round-15 rewrite attribution)
    if (args.headOption.contains("abc")) {
      import graft.core.Tables
      import graft.ops.Stats
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      def entities = Tables.lineitem(spark, sfDir).groupBy("l_partkey").agg(
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(20, 6))).as("revenue"))
      def t(tag: String)(f: => Long): Unit = (1 to 3).foreach { _ =>
        val t0 = System.nanoTime(); val n = f
        println(f"PROBE abc $tag%-12s ${(System.nanoTime() - t0) / 1e9}%.3f s rows=$n")
      }
      t("entities")(entities.count())
      t("naive")(Stats.abcClassesNaive(entities, "revenue", "l_partkey").count())
      t("bucketed")(Stats.abcClasses(entities, "revenue", "l_partkey").count())
      val entCk = entities.localCheckpoint()
      t("bucketed-ck")(Stats.abcClasses(entCk, "revenue", "l_partkey").count())
      t("naive-ck")(Stats.abcClassesNaive(entCk, "revenue", "l_partkey").count())
      // stage attribution: how much is the perV aggregate vs the rest
      val perV = entities.select(col("revenue").cast(DecimalType(20, 6)).as("_v"))
        .groupBy("_v").agg(count(lit(1)).as("_cnt"))
      t("perV")(perV.count())
      val ck = perV.localCheckpoint()
      t("perVck-reread")(ck.count())
      // downstream chain over the materialized table
      val dec38 = DecimalType(38, 6)
      val grpTotal = (col("_v") * col("_cnt")).cast(dec38)
      val tot = ck.agg(sum(grpTotal).cast(dec38).as("_tot"))
      t("tot")(tot.count())
      val mm = ck.agg(min(col("_v").cast("double")).as("_lo"),
        max(col("_v").cast("double")).as("_hi"))
      val width = greatest((col("_hi") - col("_lo")) / 10000, lit(1e-300))
      val bucketed = ck.crossJoin(broadcast(mm))
        .withColumn("_b", least(floor((col("_hi") - col("_v").cast("double")) / width),
          lit(10000L)).cast("long"))
        .drop("_lo", "_hi")
      t("bucketed")(bucketed.count())
      val perBucket = bucketed.groupBy("_b").agg(sum(grpTotal).as("_bt"))
      t("perBucket")(perBucket.count())
      import org.apache.spark.sql.expressions.Window
      val wb = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
      val offsets = perBucket.withColumn("_off", sum(col("_bt")).over(wb))
        .select(col("_b"), col("_off"))
      val wi = Window.partitionBy("_b").orderBy(col("_v").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val withCum = bucketed.join(broadcast(offsets), "_b")
        .withColumn("_B", (coalesce(col("_off"), lit(0).cast(dec38)) +
          coalesce(sum(grpTotal).over(wi), lit(0).cast(dec38))).cast(dec38))
        .crossJoin(broadcast(tot))
      t("withCum")(withCum.count())
      import org.apache.spark.sql.Column
      val totD = col("_tot").cast("double")
      def sOf(k: Column): Column =
        round((col("_B") + k.cast(DecimalType(20, 0)) * col("_v"))
          .cast("double") / totD, 9)
      def kMax(share: Double): Column = {
        val est = floor((lit(share + 5e-10) * totD - col("_B").cast("double"))
          / col("_v").cast("double"))
        val lo = greatest(lit(0L), least(est - 4, col("_cnt")))
        val hi = least(col("_cnt"), greatest(est + 4, lit(0L)))
        when(col("_tot") <= 0, lit(0L))
          .when(col("_v") === 0,
            when(sOf(lit(0L)) <= share, col("_cnt")).otherwise(lit(0L)))
          .otherwise(aggregate(sequence(lo, hi), lit(0L),
            (acc, k) => when(k === 0 || sOf(k) <= share, greatest(acc, k))
              .otherwise(acc)))
      }
      val scored = withCum.select(col("_v"), col("_cnt"), col("_tot"),
        kMax(0.8).as("_ka"), kMax(0.95).as("_kb"))
      t("scored")(scored.count())
      val kDec = (c: Column) => c.cast(DecimalType(20, 0))
      val agg1 = scored.agg(
        sum("_ka").as("na"), sum(kDec(col("_ka")) * col("_v")).cast(dec38).as("va"),
        sum(col("_kb") - col("_ka")).as("nb"),
        sum(kDec(col("_kb") - col("_ka")) * col("_v")).cast(dec38).as("vb"),
        sum(col("_cnt") - col("_kb")).as("nc"),
        sum(kDec(col("_cnt") - col("_kb")) * col("_v")).cast(dec38).as("vc"),
        max("_tot").as("_tot"))
      t("agg1")(agg1.count())
      // full tail: nn + explode + filter + orderBy, from the checkpointed perV
      val nn = ck.filter(col("_v").isNull)
        .agg(coalesce(sum("_cnt"), lit(0L)).as("_nn"))
      val out = agg1.crossJoin(broadcast(nn))
        .select(col("_tot"), explode(array(
          struct(lit("A").as("c"), col("na").as("n"), col("va").as("v")),
          struct(lit("B").as("c"), col("nb").as("n"), col("vb").as("v")),
          struct(lit("C").as("c"), (col("nc") + col("_nn")).as("n"),
            col("vc").as("v")))).as("r"))
        .select(col("r.c").as("abc_class"),
          coalesce(col("r.n"), lit(0L)).as("n_entities"),
          round(coalesce(col("r.v"), lit(0).cast(dec38)).cast("double"), 2)
            .as("class_value"),
          round(coalesce(col("r.v"), lit(0).cast(dec38)).cast("double")
            / col("_tot").cast("double"), 6).as("class_share"))
        .filter(col("n_entities") > 0)
        .orderBy("abc_class")
      t("fulltail")(out.count())
      spark.stop(); return
    }

    // louvain-coarsen attribution: `Test/runMain graft.PerfProbe louvain`
    if (args.headOption.contains("louvain")) {
      import graft.core.Tables
      import graft.ops.Graph
      import org.apache.spark.sql.functions._
      val li = Tables.lineitem(spark, sfDir)
      val edges = Graph.basketEdges(li).localCheckpoint()
      val lab1 = Graph.refineCommunities(edges,
        Graph.communities(edges, rounds = 4, sorted = false),
        rounds = 2, sorted = false).localCheckpoint()
      def t(tag: String)(f: => Long): Unit = (1 to 3).foreach { _ =>
        val t0 = System.nanoTime(); val n = f
        println(f"PROBE louvain $tag%-10s ${(System.nanoTime() - t0) / 1e9}%.3f s rows=$n")
      }
      t("edges")(edges.count())
      val ce = Graph.canonicalEdges(edges)
        .join(lab1.select(col("node").as("a"), col("community").as("_ca")), "a")
        .join(lab1.select(col("node").as("b"), col("community").as("_cb")), "b")
        .select(least(col("_ca"), col("_cb")).as("a"),
          greatest(col("_ca"), col("_cb")).as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("w"))
      t("coarsen")(ce.count())
      t("full")(Graph.louvainCoarsen(edges, lab1, rounds = 2).count())
      spark.stop(); return
    }

    // recall-sweep mode: `Test/runMain graft.PerfProbe recall` — the
    // ANN tuning curve (recall@k vs exact brute-force top-k) for the
    // PERF.md table: annTopK over nTables×bitsPerTable, ivfTopK over
    // nProbe, each with wall time, at the bench fixture scale
    if (args.headOption.contains("recall")) {
      import graft.core.Tables
      import graft.ops.Similarity
      val emb = Tables.embeddings(spark, sfDir)
      val exact = Similarity.cosineTopK(emb, 20, 5).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def recallOf(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val t0 = System.nanoTime()
        val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val secs = (System.nanoTime() - t0) / 1e9
        val rec = got.intersect(exact).size.toDouble / exact.size
        println(f"PROBE recall $name%-24s recall=$rec%.3f time=$secs%.2fs")
      }
      for (nt <- Seq(4, 8, 16); bpt <- Seq(4, 6, 8))
        recallOf(s"ann nT=$nt bpt=$bpt", Similarity.annTopK(emb, 20, 5, nt, bpt))
      for (np <- Seq(1, 2, 4, 8))
        recallOf(s"ivf nCells=16 nProbe=$np", Similarity.ivfTopK(emb, 20, 5, 16, np))
      spark.stop(); return
    }

    // Within-session constraint-propagation A/B:
    // `Test/runMain graft.PerfProbe cpab q1,q2,...` — alternating
    // ON/OFF/ON/OFF passes over the named queries inside ONE session, so
    // host drift between separate captures cannot alias the comparison
    // (the round-17 conf-forensics instrument: two interleaved subset
    // captures said 0.891 median for the combo, two adjacent full
    // captures said 1.067 — both cross-session, both suspect).
    if (args.headOption.contains("cpab")) {
      // args: cpab <queries|ALL> [confKeys] [onVals] [offVals] [nPasses]
      // — default A/Bs constraint propagation; any runtime SQL conf works
      // the same way. confKeys/onVals/offVals are comma-lists so a conf
      // PAIR can be A/B'd as a unit. Passes alternate OFF-first (the
      // session warms monotonically across passes — JIT, code cache — so
      // the arm that runs FIRST is disadvantaged; putting the candidate
      // OFF arm first biases AGAINST the status quo ante, and a win that
      // survives that bias is real). Pass 1 is untimed warmup when
      // nPasses >= 5.
      val names =
        if (args(1) == "ALL") SparkEntry.queries.keys.toSeq.sorted
        else args(1).split(',').toSeq.sorted
      val confKeys = (if (args.length > 2) args(2)
        else "spark.sql.constraintPropagation.enabled").split(',').toSeq
      val onVals = (if (args.length > 3) args(3) else "true").split(',').toSeq
      val offVals = (if (args.length > 4) args(4) else "false").split(',').toSeq
      val nPasses = if (args.length > 5) args(5).toInt else 4
      require(confKeys.size == onVals.size && confKeys.size == offVals.size)
      val on = scala.collection.mutable.Map.empty[String, Double]
      val off = scala.collection.mutable.Map.empty[String, Double]
      for (pass <- 1 to nPasses) {
        val flag = pass % 2 == 1 // odd = ON arm (status quo), even = OFF
        confKeys.indices.foreach { i =>
          spark.conf.set(confKeys(i), if (flag) onVals(i) else offVals(i)) }
        val warmup = nPasses >= 5 && pass == 1
        val sink = if (flag) on else off
        names.foreach { n =>
          val t0 = System.nanoTime()
          SparkEntry.queries(n)(spark, sfDir).count()
          val t = (System.nanoTime() - t0) / 1e9
          if (!warmup) sink(n) = math.min(sink.getOrElse(n, Double.MaxValue), t)
        }
        println(f"PROBE cpab pass=$pass on=$flag warmup=$warmup " +
          f"total=${names.flatMap(sink.get).sum}%.2f")
      }
      val ratios = names.map(n => off(n) / on(n)).sorted
      println(f"PROBE cpab median off/on = ${ratios(ratios.size / 2)}%.3f " +
        f"p25=${ratios(ratios.size / 4)}%.3f p75=${ratios(3 * ratios.size / 4)}%.3f " +
        f"totalOn=${names.map(on).sum}%.2f totalOff=${names.map(off).sum}%.2f")
      spark.stop(); return
    }

    // `Test/runMain graft.PerfProbe abba <queries|ALL> <confKeys> <onVals>
    // <offVals>` — the drift-proof conf A/B. The pass-level cpab mode
    // above proved inconclusive for full-registry decisions: one JVM
    // running 245 queries keeps JIT-warming for 5+ full passes (~6% per
    // pass), so whichever arm runs later wins at the pass level. Here the
    // alternation is PER QUERY: each query runs ON,OFF,OFF,ON
    // back-to-back (plus one untimed ON warmup), min per arm — the warm
    // trend inside one query's five adjacent runs is negligible and the
    // ABBA order cancels what remains. Reports per-query ratios and the
    // biggest movers both ways.
    if (args.headOption.contains("abba")) {
      val names =
        if (args(1) == "ALL") SparkEntry.queries.keys.toSeq.sorted
        else args(1).split(',').toSeq.sorted
      val confKeys = args(2).split(',').toSeq
      val onVals = args(3).split(',').toSeq
      val offVals = args(4).split(',').toSeq
      require(confKeys.size == onVals.size && confKeys.size == offVals.size)
      def setArm(flag: Boolean): Unit = confKeys.indices.foreach { i =>
        spark.conf.set(confKeys(i), if (flag) onVals(i) else offVals(i)) }
      val on = scala.collection.mutable.Map.empty[String, Double]
      val off = scala.collection.mutable.Map.empty[String, Double]
      names.foreach { n =>
        def run1(): Double = {
          val t0 = System.nanoTime()
          SparkEntry.queries(n)(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        setArm(true); run1() // untimed warmup: JIT, codegen
        for (flag <- Seq(true, false, false, true)) {
          setArm(flag)
          val t = run1()
          val sink = if (flag) on else off
          sink(n) = math.min(sink.getOrElse(n, Double.MaxValue), t)
        }
        println(f"PROBE abba $n%-26s on=${on(n)}%.3f off=${off(n)}%.3f ratio=${off(n) / on(n)}%.3f")
      }
      val ratios = names.map(n => off(n) / on(n)).sorted
      println(f"PROBE abba median off/on = ${ratios(ratios.size / 2)}%.3f " +
        f"p25=${ratios(ratios.size / 4)}%.3f p75=${ratios(3 * ratios.size / 4)}%.3f " +
        f"totalOn=${names.map(on).sum}%.2f totalOff=${names.map(off).sum}%.2f")
      val movers = names.sortBy(n => off(n) - on(n))
      println("PROBE abba top regressions (off-on):")
      movers.takeRight(8).reverse.foreach(n =>
        println(f"  +${off(n) - on(n)}%.3f $n on=${on(n)}%.3f"))
      println("PROBE abba top improvements (off-on):")
      movers.take(8).foreach(n =>
        println(f"  ${off(n) - on(n)}%.3f $n on=${on(n)}%.3f"))
      spark.stop(); return
    }

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
      // private listenerBus: drain by sleeping briefly after each action —
      // job/stage events for a completed action land within milliseconds
      names.foreach { n =>
        SparkEntry.queries(n)(spark, sfDir).count() // warm (codegen, JIT)
        Thread.sleep(300)
        jobs = 0; stages = 0; taskMs = 0L; inTimed = true
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300); inTimed = false
        println(f"PROBE jobs $n%-26s wall=$wall%6.2fs jobs=$jobs%3d stages=$stages%3d taskTime=${taskMs / 1000.0}%7.2fs floorShare=${(jobs * 0.09) / wall}%.2f")
      }
      spark.stop(); return
    }

    // HNSW search grid: `Test/runMain graft.PerfProbe hnsw` — recall@k +
    // warm search time over (ef, hopsPerLevel, beamRounds), graph built
    // once and searched per grid cell. The registered
    // q_hnsw_topk params must be the cheapest cell holding recall ≥ 0.93.
    if (args.headOption.contains("hnsw")) {
      import graft.core.Tables
      import graft.ops.Similarity
      val emb = Tables.embeddings(spark, sfDir)
      val exact = Similarity.cosineTopK(emb, 20, 5).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val graph = Similarity.hnswGraph(emb, 8).persist()
      graph.count()
      for (ef <- Seq(32, 64, 96); hops <- Seq(0, 1); beams <- Seq(3, 4, 5)) {
        val ts = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          val got = Similarity.hnswTopK(emb, graph, 20, 5, ef, hops, beams)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          ((System.nanoTime() - t0) / 1e9, got)
        }
        val rec = ts.head._2.intersect(exact).size.toDouble / exact.size
        println(f"PROBE hnsw ef=$ef%-3d hops=$hops beams=$beams " +
          f"recall=$rec%.3f time=${ts.map(_._1).min}%.2fs")
      }
      spark.stop(); return
    }

    // scaling mode: `Test/runMain graft.PerfProbe scaling` — the text
    // dedup/LSH data-scaling curve (round-6 VERDICT #4): salted/rotated
    // corpus replicas (linear true-dup mass by construction) swept over
    // 1x/2x/4x, measuring CANDIDATE VOLUME (Σ per-bucket C(s,2) — exactly
    // the rows each equi-join materializes) and wall time per family, with
    // the hyperplane-LSH selectivity knob both FIXED (the superlinear
    // contrast) and RAISED with log2(scale) (the 100 TB operating mode).
    if (args.headOption.contains("scaling")) {
      import graft.core.Tables
      import graft.ops.{Dedup, Similarity}
      import org.apache.spark.sql.DataFrame
      import org.apache.spark.sql.functions._
      def volume(buckets: DataFrame, keys: Seq[String]): Long =
        buckets.groupBy(keys.map(col): _*).agg(count(lit(1)).as("s"))
          .agg(coalesce(sum(expr("s * (s - 1) DIV 2")), lit(0L))).head().getLong(0)
      def timed[T](f: => T): (T, Double) = {
        val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
      }
      val docs = Tables.documents(spark, sfDir)
      val embs = Tables.embeddings(spark, sfDir)
      for (scale <- Seq(1, 2, 4)) {
        val d = Dedup.saltedCopies(docs, scale).localCheckpoint()
        val e = Similarity.rotatedCopies(embs, scale).localCheckpoint()
        val n = d.count(); val ne = e.count()
        val mhVol = volume(Dedup.minhashBuckets(
          Dedup.shingles(Dedup.shingleArrays48(d)), Dedup.minhashCoeffs(64), 16, 4),
          Seq("band", "bucket"))
        val (mhRows, mhT) = timed(Dedup.minhashPairs(d).count())
        val shVol = volume(Dedup.simhashBlocks(Dedup.simhash(d)), Seq("blk", "v"))
        val (shRows, shT) = timed(Dedup.simhashPairs(d).count())
        val eN = e.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("nrm", graft.functions.VectorExpressions.vec_norm(col("v")))
        val extraBits = 31 - Integer.numberOfLeadingZeros(scale) // log2(scale)
        val cpVolFixed = volume(Similarity.lshSignatures(eN, 24, 2, 64), Seq("tbl", "bucket"))
        val cpVolScaled = volume(Similarity.lshSignatures(eN, 24, 2 + extraBits, 64), Seq("tbl", "bucket"))
        val (cpRows, cpT) = timed(Similarity.cosinePairsLsh(e, 0.9, 24, 2 + extraBits).count())
        val knVolFixed = volume(Similarity.lshSignatures(eN, 8, 4, 64), Seq("tbl", "bucket"))
        val knVolScaled = volume(Similarity.lshSignatures(eN, 8, 4 + extraBits, 64), Seq("tbl", "bucket"))
        val (knRows, knT) = timed(Similarity.knnGraphLsh(e, 5, 8, 4 + extraBits).count())
        println(f"PROBE scaling x$scale docs=$n minhash vol=$mhVol out=$mhRows t=$mhT%.2fs | " +
          f"simhash vol=$shVol out=$shRows t=$shT%.2fs")
        println(f"PROBE scaling x$scale vecs=$ne cosLsh volFixed(b=2)=$cpVolFixed " +
          f"volScaled(b=${2 + extraBits})=$cpVolScaled out=$cpRows t=$cpT%.2fs | " +
          f"knnLsh volFixed(b=4)=$knVolFixed volScaled(b=${4 + extraBits})=$knVolScaled out=$knRows t=$knT%.2fs")
      }
      spark.stop(); return
    }

    // curation-stage mode: `Test/runMain graft.PerfProbe curation` — where
    // the wall clock of the q_curation composites goes, stage by stage,
    // each timed as a standalone action (count) at the current SF so the
    // dominant stage is measured rather than guessed.
    if (args.headOption.contains("curation")) {
      import graft.core.Tables
      import graft.ops.{Dedup, Pipelines, Text}
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(spark, sfDir)
      def t(label: String)(f: => Long): Unit = {
        val ts = (1 to 2).map { _ =>
          val t0 = System.nanoTime(); val n = f; ((System.nanoTime() - t0) / 1e9, n)
        }
        println(f"PROBE curation $label%-28s ${ts.map(x => f"${x._1}%.2f").mkString(" ")}s rows=${ts.head._2}")
      }
      val ratios = Text.qualityRatios
      val gated = docs
        .withColumn("_mtl", ratios.meanTokLen)
        .withColumn("_ttr", ratios.typeTokenRatio)
        .filter(col("_mtl").between(4.0, 9.0) && col("_ttr") >= 0.3)
        .drop("_mtl", "_ttr")
      t("scan")(docs.count())
      t("gate(ratios)")(gated.count())
      t("gate(gopher)")(docs.filter(Text.gopherKeep()).count())
      t("gate(gopher) filterOnce")(
        graft.ops.Helpers.filterOnce(docs, Text.gopherKeep()).count())
      t("pairs(jaccard) on gated")(Dedup.jaccardPairs(gated, 0.5, sorted = false).count())
      t("pairs(minhash) on gated")(Dedup.minhashPairs(gated, 0.5, sorted = false).count())
      t("dedupSurvivors(gated)")(Dedup.dedupSurvivors(gated,
        Dedup.jaccardPairs(gated, 0.5, sorted = false)).count())
      t("tokens+pack tail only")(gated
        .select(col("doc_id"), col("source"),
          size(regexp_extract_all(col("text"), lit("[A-Za-z0-9]+"), lit(0)))
            .cast("long").as("n_tokens"))
        .agg(sum("n_tokens")).count())
      t("full q_curation")(Pipelines.curate(docs).count())
      spark.stop(); return
    }

    // jaccard-internals mode: `Test/runMain graft.PerfProbe jaccard` —
    // stage-by-stage wall clock INSIDE the exact pair generator (the
    // dominant curation stage at sf1x): shingling, df aggregate, prefix
    // build, candidate join, full pipeline — for the df-ranked vs
    // hash-order prefix A/B at the current SF.
    if (args.headOption.contains("jaccard")) {
      import graft.core.Tables
      import graft.ops.{Dedup, Text}
      import org.apache.spark.sql.functions._
      val ratios = Text.qualityRatios
      val docs = Tables.documents(spark, sfDir)
        .withColumn("_mtl", ratios.meanTokLen)
        .withColumn("_ttr", ratios.typeTokenRatio)
        .filter(col("_mtl").between(4.0, 9.0) && col("_ttr") >= 0.3)
        .drop("_mtl", "_ttr")
        .localCheckpoint()
      def t(label: String)(f: => Long): Unit = {
        val ts = (1 to 2).map { _ =>
          val t0 = System.nanoTime(); val n = f; ((System.nanoTime() - t0) / 1e9, n)
        }
        println(f"PROBE jaccard $label%-30s ${ts.map(x => f"${x._1}%.2f").mkString(" ")}s rows=${ts.head._2}")
      }
      val arrs = Dedup.shingleArrays(docs).localCheckpoint()
      t("shingleArrays")(Dedup.shingleArrays(docs).count())
      val sh = Dedup.shingles(arrs)
      t("explode shingles")(sh.count())
      t("df aggregate")(sh.groupBy("shingle").agg(count(lit(1)).as("df")).count())
      t("df join+regroup+rank")(sh.join(
          sh.groupBy("shingle").agg(count(lit(1)).as("df")), "shingle")
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("shingle")))).as("ranked"))
        .count())
      t("pairs df-ranked (full)")(Dedup.jaccardPairs(docs, 0.5, orderByDocFreq = true, sorted = false).count())
      t("pairs minhash (full)")(Dedup.minhashPairs(docs, 0.5, sorted = false).count())
      t("pairs hash-order (full)")(Dedup.jaccardPairs(docs, 0.5, orderByDocFreq = false, sorted = false).count())
      spark.stop(); return
    }

    // pair-recall mode: `Test/runMain graft.PerfProbe pairrecall` — the
    // recall PRICE of the corpus-adaptive signature width (scaledBits) at
    // the current SF, against the exact pair set: fixed b0 vs scaled b at
    // L=8, plus scaled b at L=16 (the documented raise-L-for-recall knob).
    // Run at /tmp/sf1x for the 10x datapoint behind the r7 soak table.
    if (args.headOption.contains("pairrecall")) {
      import graft.core.Tables
      import graft.ops.Similarity
      val emb = Tables.embeddings(spark, sfDir)
      val aug = Similarity.withSyntheticNearDups(emb)
      val n = 2L * emb.count()
      def pairSet(df: org.apache.spark.sql.DataFrame): (Set[(Long, Long)], Double) = {
        val t0 = System.nanoTime()
        val s = df.select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        (s, (System.nanoTime() - t0) / 1e9)
      }
      val (exact, te) = pairSet(Similarity.cosineDupPairs(aug, 0.9, sorted = false))
      println(f"PROBE pairrecall exact n=$n pairs=${exact.size} t=$te%.2fs")
      val bScaled = Similarity.scaledBits(8, 1024L, n)
      val lScaled = Similarity.scaledTables(8, 0.9, 8, bScaled)
      for ((l, b, tag) <- Seq((8, 8, "fixed b=8 L=8"),
                              (8, bScaled, s"scaled b=$bScaled L=8"),
                              (lScaled, bScaled, s"scaled b=$bScaled L=$lScaled"))) {
        val (got, t) = pairSet(
          Similarity.cosinePairsLsh(aug, 0.9, nTables = l, bitsPerTable = b, sorted = false))
        val rec = if (exact.isEmpty) 1.0 else got.intersect(exact).size.toDouble / exact.size
        val fp = got.diff(exact).size // must be 0: exact verification
        println(f"PROBE pairrecall $tag%-18s pairs=${got.size} recall=$rec%.4f fp=$fp t=$t%.2fs")
      }
      spark.stop(); return
    }

    // knn-recall-at-scale: `Test/runMain graft.PerfProbe knnrecall` — the
    // kNN-graph LSH recall question the cosine family answers with
    // scaledTables but knnGraphLsh (fixed L=8) does not: at the current SF,
    // lift the quadratic-anchor cap for ONE exact top-1 reference pass and
    // measure top-1 recall + emitted-edge coverage for the registered
    // width, the gate width, and a table-compensated width.
    if (args.headOption.contains("knnrecall")) {
      import graft.core.Tables
      import graft.ops.Similarity
      val emb = Tables.embeddings(spark, sfDir)
      val n = emb.count()
      val capKey = "spark.graft.quadraticAnchorMaxRows"
      spark.conf.set(capKey, (n + 1).toString)
      val t0 = System.nanoTime()
      val exact1 = Similarity.knnGraph(emb, 5).filter(org.apache.spark.sql.functions.col("rn") === 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.conf.unset(capKey)
      println(f"PROBE knnrecall exact n=$n nodes=${exact1.size} t=${(System.nanoTime() - t0) / 1e9}%.1fs")
      val bScaled = Similarity.scaledBits(4, 512L, n)
      for ((l, b, tag) <- Seq((8, 4, "gate b=4 L=8"),
                              (8, bScaled, s"registered b=$bScaled L=8"),
                              (24, bScaled, s"compensated b=$bScaled L=24"))) {
        val t1 = System.nanoTime()
        val lsh1 = Similarity.knnGraphLsh(emb, 5, nTables = l, bitsPerTable = b)
          .filter(org.apache.spark.sql.functions.col("rn") === 1)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val secs = (System.nanoTime() - t1) / 1e9
        val hits = lsh1.count { case (k, v) => exact1.get(k).contains(v) }
        println(f"PROBE knnrecall $tag%-22s nodes=${lsh1.size} (cov=${lsh1.size.toDouble / exact1.size}%.3f) " +
          f"top1Recall=${hits.toDouble / math.max(1, lsh1.size)}%.3f t=$secs%.1fs")
      }
      spark.stop(); return
    }

    // gopher-stage micro-profile: `Test/runMain graft.PerfProbe gopherstage`
    // — which SIGNAL inside the Gopher gate costs the wall clock at the
    // current SF (each signal timed as a standalone count over the corpus).
    if (args.headOption.contains("gopherstage")) {
      import graft.core.Tables
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(spark, sfDir)
      def t(label: String)(c: org.apache.spark.sql.Column): Unit = {
        val ts = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          // hash + sum forces actual evaluation of the signal on every row
          // (a count over a non-nullable projection would be pruned away)
          docs.select(hash(c).as("h")).agg(sum("h")).collect()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"PROBE gopherstage $label%-22s ${ts.map(x => f"$x%.2f").mkString(" ")}s")
      }
      val txt = coalesce(col("text"), lit(""))
      val toks = regexp_extract_all(lower(txt), lit("[A-Za-z0-9]+"), lit(0))
      t("lower only")(length(lower(txt)))
      t("tokenize")(size(toks))
      t("tokChars regexp_replace")(length(regexp_replace(lower(txt), "[^a-z0-9]", "")))
      t("split lines")(size(split(txt, "\n")))
      t("bullet (?m) regex")(size(regexp_extract_all(txt, lit("(?m)^[ \\t]*[-*\u2022]"), lit(0))))
      t("ellipsis (?m) regex")(size(regexp_extract_all(txt, lit("(?m)\\.\\.\\.$"), lit(0))))
      t("stop intersect")(size(array_intersect(toks,
        array(Seq("the", "be", "to", "of", "and", "that", "have", "with").map(lit): _*))))
      t("full gopherKeep")(graft.ops.Text.gopherKeep())
      spark.stop(); return
    }

    // width probe: `Test/runMain graft.PerfProbe widths` — print the
    // input-derived shuffle widths the two de-spilled operators would pick
    // at SPARK_GRAFT_SF_DIR (sanity check for Helpers.shuffleWidthFor
    // against the plan-statistics size it reads)
    if (args.headOption.contains("widths")) {
      import graft.core.Tables
      import org.apache.spark.sql.functions.col
      val fact = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("k"), col("l_extendedprice"))
      val docs = Tables.documents(spark, sfDir)
      // same bytesPerPart each operator passes at its call site
      Seq(("saltedJoin fact", fact, 1L << 20),
          ("winnowing docs", docs, 256L << 10)).foreach { case (n, df, bpp) =>
        val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
        println(f"PROBE widths $n%-16s stats=${bytes}%s " +
          f"width=${graft.ops.Helpers.shuffleWidthFor(df, bpp)}%d")
      }
      spark.stop(); return
    }

    // lsh-attribution mode: `Test/runMain graft.PerfProbe lshattrib` —
    // where the wall clock of the registered q_cosine_pairs_lsh goes at
    // the current SF, stage by stage: the aug+norm projection, the
    // signature pass (per-vector cost grows as L·b under scaledBits +
    // scaledTables — the VERDICT r8 "attribute the 18.8×/10× ratio"
    // item), the bucket-join candidate volume (Σ C(s,2) — the rows the
    // equi-join materializes), the distinct candidate pairs, and the full
    // verified pipeline. Run at sf0.1, /tmp/sf1x and /tmp/sf10x: the
    // three scale points separate signature cost (linear in n·L·b) from
    // candidate cost (~n^1.22 by the ρ-exponent math).
    if (args.headOption.contains("lshattrib")) {
      import graft.core.Tables
      import graft.ops.Similarity
      import org.apache.spark.sql.functions._
      val emb = Tables.embeddings(spark, sfDir)
      val aug = Similarity.withSyntheticNearDups(emb)
      val n = aug.count()
      val b = Similarity.scaledBits(8, 1024L, n)
      val l = Similarity.scaledTables(8, 0.9, 8, b)
      println(f"PROBE lshattrib n=$n b=$b L=$l planeDots/vec=${l * b}")
      def t(label: String)(f: => Long): Unit = {
        val ts = (1 to 2).map { _ =>
          val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
        }
        println(f"PROBE lshattrib $label%-22s ${ts.map(x => f"${x._1}%.2f").mkString(" ")}s rows=${ts.head._2}")
      }
      val e = aug.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", graft.functions.VectorExpressions.vec_norm(col("v")))
      t("proj+norm")(e.count())
      t("signatures")(Similarity.lshSignatures(e, l, b, 64).count())
      t("candidate volume")(Similarity.lshSignatures(e, l, b, 64)
        .groupBy("tbl", "bucket").agg(count(lit(1)).as("s"))
        .agg(coalesce(sum(expr("s * (s - 1) DIV 2")), lit(0L)).as("vol"))
        .select("vol").collect().head.getLong(0))
      t("distinct candidates") {
        val sigs = Similarity.lshSignatures(e, l, b, 64)
          .withColumnRenamed("sig_id", "vec_id")
        sigs.as("x").join(sigs.as("y"),
            col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
              col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id"), col("y.vec_id")).distinct().count()
      }
      t("full cosinePairsLsh")(
        Similarity.cosinePairsLsh(aug, 0.9, nTables = l, bitsPerTable = b,
          sorted = false).count())
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

    // c4 A/B mode: `Test/runMain graft.PerfProbe c4ab` — the round-12
    // VERDICT's optional item: do higher-order array functions (split →
    // transform → filter → array_join) beat the typed .map (object
    // deserialization, but single-pass imperative line loop)?
    //
    // FORCING: both plans are reduced through a checksum aggregate over
    // every output column, NOT count() — under count() Catalyst prunes a
    // pure projection entirely (the HOF leg would time the bare scan while
    // the typed leg, opaque to pruning, does real work — the round-13
    // contamination-audit lesson applied retroactively to this probe).
    if (args.headOption.contains("c4ab")) {
      import graft.core.Tables
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(spark, sfDir)
      val minWords = 5
      val minKeptLines = 3
      // typed-map leg: the SHIPPED implementation (Text.c4Clean reverted to
      // the typed map in r13 after the honest checksum-forced A/B), inlined
      // WITHOUT its orderBy so neither leg pays a global sort the other
      // doesn't
      val terminal = "[.!?\"]\\z".r
      def typedLeg(): org.apache.spark.sql.DataFrame = {
        val spark2 = spark
        import spark2.implicits._
        docs.select(col("doc_id"), col("text")).as[(Long, String)]
          .map { case (id, raw) =>
            val text = if (raw == null) "" else raw
            val lines = text.split("\n", -1)
            val nLines = lines.length.toLong
            val lowerAll = text.toLowerCase
            if (lowerAll.contains("lorem ipsum") || lowerAll.contains("{"))
              (id, "", nLines, 0L, false)
            else {
              val kept = lines.iterator
                .map(_.replaceAll("^[ \\t\\n\\f\\r]+|[ \\t\\n\\f\\r]+\\z", ""))
                .filter { t =>
                  terminal.findFirstIn(t).isDefined &&
                    t.split("[ \\t\\n\\f\\r]+").length >= minWords &&
                    !t.toLowerCase.contains("javascript")
                }
                .toArray
              (id, kept.mkString("\n"), nLines, kept.length.toLong,
                kept.length >= 3)
            }
          }
          .toDF("doc_id", "clean_text", "n_lines", "n_kept", "page_kept")
      }
      // HOF leg: the round-12 higher-order-function formulation, inlined
      // (split → transform-trim → filter gates → array_join), no orderBy —
      // since d1b1730 reverted the operator to the typed map, calling the
      // registered q_c4_clean here would compare the typed map against
      // itself (round-14 ADVICE #1)
      def hofLeg(): org.apache.spark.sql.DataFrame = {
        val raw = coalesce(col("text"), lit(""))
        val lowerAll = lower(raw)
        val pageOk = !(lowerAll.contains("lorem ipsum") || lowerAll.contains("{"))
        val lines = split(raw, "\n", -1)
        val kept = filter(
          transform(lines, l =>
            regexp_replace(l, "^[ \\t\\n\\f\\r]+|[ \\t\\n\\f\\r]+\\z", "")),
          t => t.rlike("[.!?\"]\\z") &&
            size(split(t, "[ \\t\\n\\f\\r]+", -1)) >= minWords &&
            !lower(t).contains("javascript"))
        docs.select(
          col("doc_id"),
          when(!pageOk, lit("")).otherwise(array_join(kept, "\n")).as("clean_text"),
          size(lines).cast("long").as("n_lines"),
          when(!pageOk, lit(0L)).otherwise(size(kept).cast("long")).as("n_kept"),
          (pageOk && size(kept) >= minKeptLines).as("page_kept"))
      }
      def force(df: org.apache.spark.sql.DataFrame): Unit = {
        val all = struct(df.columns.map(col).toIndexedSeq: _*)
        df.select(sum(xxhash64(all)
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("h"))
          .collect(): Unit
      }
      def rep(n: Int)(f: => Unit): Seq[Double] =
        (1 to n).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      // legs agree before they race: a perf A/B over divergent outputs
      // proves nothing
      def checksum(df: org.apache.spark.sql.DataFrame): Any = {
        val all = struct(df.columns.map(col).toIndexedSeq: _*)
        df.select(sum(xxhash64(all)
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("h")).head.get(0)
      }
      val (cm, ch) = (checksum(typedLeg()), checksum(hofLeg()))
      println(s"PROBE c4ab checksums_equal=${cm == ch} typed=$cm hof=$ch")
      val tMap = rep(7)(force(typedLeg()))
      val tHof = rep(7)(force(hofLeg()))
      println(f"PROBE c4ab typed_map min=${tMap.min}%.3f med=${tMap.sorted.apply(3)}%.3f")
      println(f"PROBE c4ab hof_codegen min=${tHof.min}%.3f med=${tHof.sorted.apply(3)}%.3f")
      spark.stop(); return
    }

    // basket-graph mass decomposition: `Test/runMain graft.PerfProbe graphmass`
    if (args.headOption.contains("graphmass")) {
      import graft.core.Tables
      import graft.ops.Graph
      import org.apache.spark.sql.functions._
      val li = Tables.lineitem(spark, sfDir)
      def t(label: String)(f: => Long): Unit = {
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); val n = f; ((System.nanoTime() - t0) / 1e9, n)
        }
        println(f"PROBE graphmass $label%-24s ${ts.map(x => f"${x._1}%.2f").mkString(" ")}s rows=${ts.head._2}")
      }
      val raw = Graph.basketEdges(li)
      t("rawPairs")(raw.count())
      val rawCk = raw.localCheckpoint()
      t("rawCk re-read")(rawCk.count())
      val e = Graph.canonicalEdges(rawCk)
      t("canonical distinct")(e.count())
      val eCk = e.localCheckpoint()
      t("degrees")(eCk.select(col("a").as("node")).unionByName(eCk.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg")).count())
      val corners = Graph.triangleCorners(rawCk)
      t("corners")(corners.count())
      val cornersCk = corners.localCheckpoint()
      t("common (explode+agg)")(cornersCk.select(explode(array(
          struct(least(col("u"), col("x")).as("a"), greatest(col("u"), col("x")).as("b")),
          struct(least(col("u"), col("y")).as("a"), greatest(col("u"), col("y")).as("b")),
          struct(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b")))).as("t"))
        .select(col("t.a").as("a"), col("t.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n_common")).count())
      spark.stop(); return
    }

    // ad-hoc mode: `Test/runMain graft.PerfProbe q_x q_y` times just those
    if (args.nonEmpty) { args.foreach(timeQ(_)); spark.stop(); return }

    val suspects = Seq("q_scan_filter", "q_scalar_funcs", "q_scalar_sum", "q_rollup")

    println("== new-this-round queries ==")
    Seq("q_local_volume", "q_audio_features").foreach(timeQ(_))

    println("== suspects on a FRESH session ==")
    val fresh = suspects.map(n => n -> timeQ(n, 5, ":fresh").min).toMap

    println("== aging the session: every other registered query once ==")
    val rest = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(suspects.contains).filterNot(Set("q_local_volume", "q_audio_features"))
    val t0 = System.nanoTime()
    rest.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case e: Throwable => println(s"PROBE age $n FAILED: ${e.getMessage}") }
    }
    println(f"PROBE aged by ${rest.size} queries in ${(System.nanoTime() - t0) / 1e9}%.1fs")

    println("== suspects on the AGED session ==")
    val aged = suspects.map(n => n -> timeQ(n, 5, ":aged").min).toMap

    suspects.foreach { n =>
      println(f"PROBE verdict $n%-16s fresh=${fresh(n)}%.3f aged=${aged(n)}%.3f ratio=${aged(n) / fresh(n)}%.2f")
    }
    spark.stop()
  }
}
