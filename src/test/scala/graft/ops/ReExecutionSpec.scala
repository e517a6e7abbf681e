package graft.ops

import graft.{SparkEntry, SparkSpec}
import graft.core.Tables
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import java.lang.ref.WeakReference

/** Operators that materialize a shared intermediate return a frame that
  * owns it: the frame runs any number of actions with identical rows,
  * neither building it nor running it leaves a SQL cache entry behind, and
  * nothing but the frame keeps it alive.
  */
class ReExecutionSpec extends SparkSpec {

  private def docs(s: SparkSession): DataFrame = Tables.documents(s, sfDir)
  private def edges(s: SparkSession): DataFrame = Graph.basketEdges(Tables.lineitem(s, sfDir))
  private def baskets(s: SparkSession): DataFrame = Affinity.basketItems(Tables.lineitem(s, sfDir))
  private def emb(s: SparkSession): DataFrame = Tables.embeddings(s, sfDir)

  private val operators: Seq[(String, SparkSession => DataFrame)] = Seq(
    "Dedup.jaccardPairs" -> (s => Dedup.jaccardPairs(docs(s), 0.5)),
    "Dedup.jaccardPairs(hash order)" -> (s =>
      Dedup.jaccardPairs(docs(s), 0.5, orderByDocFreq = false)),
    "Dedup.minhashPairs" -> (s => Dedup.minhashPairs(docs(s), 0.5)),
    "Dedup.decontaminateBloomReport" -> { s =>
      val d = docs(s)
      Dedup.decontaminateBloomReport(d, d.filter(pmod(col("doc_id"), lit(50)) === 0))
    },
    "Dedup.tfidfCosinePairs" -> (s => Dedup.tfidfCosinePairs(docs(s))),
    "Text.keyTerms" -> (s => Text.keyTerms(docs(s))),
    "Text.pmiCollocations" -> (s => Text.pmiCollocations(docs(s), minCount = 2)),
    "Text.unigramSurprisal" -> (s => Text.unigramSurprisal(docs(s), 100)),
    "Text.bigramSurprisal" -> (s => Text.bigramSurprisal(docs(s))),
    "Text.duplicatePassageStats" -> (s => Text.duplicatePassageStats(docs(s))),
    "Text.duplicateRuns" -> (s => Text.duplicateRuns(docs(s))),
    "Text.budgetSelect" -> (s => Text.budgetSelect(docs(s), 5000)),
    "Text.ngramNovelty" -> (s => Text.ngramNovelty(docs(s))),
    "Events.concurrentSessions" -> (s => Events.concurrentSessions(Tables.events(s, sfDir))),
    "Stats.madOutliers" -> (s =>
      Stats.madOutliers(Tables.orders(s, sfDir), "o_totalprice", "o_orderpriority")),
    "Graph.modularity" -> { s =>
      val e = edges(s)
      Graph.modularity(e, Graph.communities(e, rounds = 4, sorted = false))
    },
    "Graph.triangleStats" -> (s => Graph.triangleStats(edges(s))),
    "Graph.triangleProfile" -> (s => Graph.triangleProfile(edges(s))),
    "Graph.edgeEmbeddedness" -> (s => Graph.edgeEmbeddedness(edges(s))),
    "Graph.degreeAssortativity" -> (s => Graph.degreeAssortativity(edges(s))),
    "Affinity.associationRules" -> (s => Affinity.associationRules(baskets(s), minPairs = 1)),
    "Affinity.itemNeighbors" -> (s =>
      Affinity.itemNeighbors(baskets(s), topK = 3, minPairs = 1, pruneItems = false)),
    "Similarity.ivfTopK" -> (s => Similarity.ivfTopK(emb(s), 20, 5)),
    "Similarity.kmeansPrototypes" -> (s => Similarity.kmeansPrototypes(emb(s))),
    "Similarity.lshFidelityReport" -> (s => Similarity.lshFidelityReport(emb(s))),
    "Similarity.annRecallReport" -> (s => Similarity.annRecallReport(emb(s), 20, 5)))

  private def trade(s: SparkSession): DataFrame = Graph.tradeEdges(Tables.lineitem(s, sfDir),
    Tables.orders(s, sfDir), Tables.customer(s, sfDir), Tables.supplier(s, sfDir))
  private def brandSeeds(s: SparkSession): DataFrame = Tables.part(s, sfDir)
    .filter(col("p_brand") === "Brand#1").select(col("p_partkey").as("node"))

  // The kernels Rounds drives, and the builds that release the checkpoints
  // of the operators they compose. Each entry prepares the build's inputs
  // (materializing any checkpointed ones) and returns the build, so the
  // residency check below sees only what the build itself leaves behind.
  private val kernels: Seq[(String, SparkSession => () => DataFrame)] = Seq(
    "Graph.pageRank" -> { s => val e = trade(s); () => Graph.pageRank(e, weightCol = Some("w")) },
    "Graph.personalizedPageRank" -> { s =>
      val e = trade(s)
      val seeds = e.select(col("src").as("node")).distinct().orderBy("node").limit(2)
      () => Graph.personalizedPageRank(e, seeds, iters = 5, weightCol = Some("w"))
    },
    "Graph.hits" -> { s => val e = trade(s); () => Graph.hits(e, iters = 3) },
    "Graph.hopDistance" -> { s =>
      val (e, seeds) = (edges(s), brandSeeds(s)); () => Graph.hopDistance(e, seeds)
    },
    "Graph.shortestPaths" -> { s =>
      val (e, seeds) = (Graph.basketProximityEdges(Tables.lineitem(s, sfDir)), brandSeeds(s))
      () => Graph.shortestPaths(e, seeds)
    },
    "Graph.kCore" -> { s => val e = edges(s); () => Graph.kCore(e, k = 2) },
    "Graph.communities" -> { s => val e = edges(s); () => Graph.communities(e) },
    "Graph.connectedComponents" -> { s => val e = edges(s); () => Graph.connectedComponents(e) },
    "Graph.refineCommunities" -> { s =>
      val e = edges(s)
      val labels = Graph.communities(e, rounds = 4, sorted = false)
      () => Graph.refineCommunities(e, labels, rounds = 2)
    },
    "Graph.louvainCoarsen" -> { s =>
      val e = edges(s)
      val labels = Graph.refineCommunities(e, Graph.communities(e, sorted = false), sorted = false)
      () => Graph.louvainCoarsen(e, labels)
    },
    "Similarity.hnswTopK" -> { s =>
      val e = emb(s)
      val graph = Similarity.hnswGraph(e, 8)
      () => Similarity.hnswTopK(e, graph, 20, 5)
    },
    "Graph.triangleCorners" -> { s => val e = edges(s); () => Graph.triangleCorners(e) },
    "Graph.neighborhoodReport" -> { s => val e = edges(s); () => Graph.neighborhoodReport(e) },
    "Dedup.dupClusters" -> { s => val d = docs(s); () => Dedup.dupClusters(d, 0.5) },
    "Similarity.hnswRecallReport" -> { s =>
      val e = emb(s); () => Similarity.hnswRecallReport(e, 20, 5)
    },
    "Pipelines.curateWith" -> { s =>
      val d = docs(s); () => Pipelines.curateWith(d, Dedup.jaccardPairs(_, 0.5, sorted = false))
    },
    "q_curation_gopher" -> { s => () => SparkEntry.queries("q_curation_gopher")(s, sfDir) },
    "q_louvain" -> { s => () => SparkEntry.queries("q_louvain")(s, sfDir) })

  private def reExecutes(name: String, build: () => DataFrame, checkResidency: Boolean): Unit = {
    GraftSqlBridge.clearSqlCache(spark)
    val (added, df) = persistedDuring(build())
    if (checkResidency) {
      // the round driver's contract: every checkpoint the build made is in
      // the returned frame's plan or already released
      val inPlan = df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet
      assert(added == inPlan,
        s"$name: the build left persisted RDDs ${added.toSeq.sorted} but its plan reads ${inPlan.toSeq.sorted}")
    }
    assert(GraftSqlBridge.sqlCacheIsEmpty(spark), s"$name: building left a SQL cache entry")
    val n = df.count()
    val first = df.collect().map(_.toString).sorted.toSeq
    val second = df.collect().map(_.toString).sorted.toSeq
    assert(first == second, s"$name: the second collect returned different rows")
    assert(n == first.length, s"$name: count $n but collect returned ${first.length} rows")
    assert(GraftSqlBridge.sqlCacheIsEmpty(spark), s"$name: the actions left a SQL cache entry")
  }

  operators.foreach { case (name, build) =>
    test(s"$name: one built frame runs count, then collect twice, with identical rows") {
      reExecutes(name, () => build(spark), checkResidency = false)
    }
  }

  kernels.foreach { case (name, prepare) =>
    test(s"$name: one built frame runs count, then collect twice, with identical rows") {
      reExecutes(name, prepare(spark), checkResidency = true)
    }
  }

  // Builds and runs the query in its own session; returns weak references
  // to the frame and to the RDDs behind its materialized intermediates, so
  // no strong reference outlives this call.
  private def runAndRelease(name: String): Seq[WeakReference[AnyRef]] = {
    val df = SparkEntry.queries(name)(spark.newSession(), sfDir)
    assert(df.collect().nonEmpty, s"$name returned no rows")
    val rdds = df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
    assert(rdds.nonEmpty, s"$name: expected a materialized intermediate in the plan")
    (df +: rdds).map(new WeakReference[AnyRef](_))
  }

  test("nothing keeps a query's result or its intermediates alive after the caller drops it") {
    val refs = runAndRelease("q_ivf_topk")
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (refs.exists(_.get != null) && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    val live = refs.count(_.get != null)
    assert(live == 0, s"$live of ${refs.size} objects still reachable after 60 s of GC")
  }
}
