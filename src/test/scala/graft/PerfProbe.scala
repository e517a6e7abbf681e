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
