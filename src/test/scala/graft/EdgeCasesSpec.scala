package graft

import java.sql.Timestamp

import graft.ops._
import org.apache.spark.sql.DataFrame

/** Empty-input robustness: every operator family must return an empty
  * result (not throw) when its input relation is empty — the behavior a
  * pipeline needs when a filter stage eliminates everything upstream.
  */
class EdgeCasesSpec extends SparkSpec {

  test("histogram: counts sum to rows, max lands in last bin, degenerate inputs defined") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = Seq(0.0, 1.0, 2.5, 5.0, 9.9, 10.0).toDF("v")
    val h = graft.ops.Grouping.histogram(d, "v", 4).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    assert(h.map(_._4).sum == 6)
    assert(h.map(_._1).max == 3, "max value must clamp into the last bin")
    assert(h.forall { case (b, lo, hi, _) => lo == b * 2.5 && hi == (b + 1) * 2.5 })
    // constant column: width falls back to 1, everything in bucket 0
    val const = graft.ops.Grouping.histogram(Seq(7.0, 7.0, 7.0).toDF("v"), "v", 5).collect()
    assert(const.length == 1 && const.head.getLong(0) == 0 && const.head.getLong(3) == 3)
    // empty input: empty histogram, not an NPE on the bounds read
    assert(graft.ops.Grouping.histogram(Seq.empty[Double].toDF("v"), "v", 5).isEmpty)
  }

  test("approx reports: exact anchors match, sketch checks hold, tiny groups defined") {
    import graft.core.Tables
    val orders = Tables.orders(spark, sfDir)
    val ad = graft.ops.Grouping.approxDistinctReport(orders).collect()
    val exact = graft.ops.Grouping.distinctCounts(orders).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ad.nonEmpty)
    ad.foreach { r =>
      assert(r.getLong(1) == exact(r.getString(0)), "n_exact must be the true distinct count")
      assert(r.getBoolean(3), s"HLL++ estimate out of declared bound for ${r.getString(0)}")
    }
    val ap = graft.ops.Grouping.approxPercentileReport(orders).collect()
    assert(ap.nonEmpty)
    ap.foreach { r =>
      assert(r.getBoolean(4) && r.getBoolean(5),
        s"t-digest rank check failed for ${r.getString(0)}")
    }
    // degenerate: a 1-row group — the sketch equals the exact value and
    // every check is trivially inside its bound
    import spark.implicits._
    val one = Seq(("Z", 1L, 42.0)).toDF("o_orderstatus", "o_custkey", "o_totalprice")
    val adr = graft.ops.Grouping.approxDistinctReport(one).collect()
    assert(adr.length == 1 && adr.head.getLong(1) == 1L && adr.head.getBoolean(3))
    val apr = graft.ops.Grouping.approxPercentileReport(one).collect()
    assert(apr.length == 1 && apr.head.getBoolean(4) && apr.head.getBoolean(5))
    // compression report: null and empty text count 0 bytes, ratio-by-
    // convention 1.0 stays in range
    val docs = Seq((1L, "alpha beta alpha beta"), (2L, null: String), (3L, ""))
      .toDF("doc_id", "text")
    val cr = graft.ops.Text.compressionReport(docs).collect().head
    assert(cr.getLong(0) == 3 && cr.getLong(1) == 21 && cr.getBoolean(2))
  }

  test("null text is survivable by every typed text pass") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, null: String)).toDF("doc_id", "text")
    // shingle-based: null doc simply yields no shingles / no pairs
    assert(graft.ops.Dedup.jaccardPairs(d, 0.5).collect().isEmpty)
    assert(graft.ops.Dedup.decontaminate(d, d.filter(col("doc_id") === 1L))
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // winnowing: null doc emits no fingerprints
    assert(graft.ops.Text.winnowing(d).collect().forall(_.getLong(0) == 1L))
    // chunking: null doc contributes no chunks
    assert(graft.ops.Text.chunkDocuments(d).collect().forall(_.getLong(0) == 1L))
  }

  private def emptyDocs: DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  }

  private def emptyEvents: DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  private def emptyEmbeddings: DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label")
  }

  test("dedup family on empty documents") {
    assert(Dedup.exactDedup(emptyDocs).isEmpty)
    assert(Dedup.hashDedup(emptyDocs).isEmpty)
    assert(Dedup.jaccardPairs(emptyDocs).isEmpty)
    assert(Dedup.minhashPairs(emptyDocs).isEmpty)
    assert(Dedup.simhash(emptyDocs).isEmpty)
    assert(Dedup.simhashPairs(emptyDocs).isEmpty)
    assert(Dedup.dupClusters(emptyDocs).isEmpty)
    assert(Dedup.fuzzyPairs(emptyDocs).isEmpty)
  }

  test("text family on empty documents") {
    assert(Text.textStats(emptyDocs).isEmpty)
    assert(Text.qualityScore(emptyDocs).isEmpty)
    assert(Text.langId(emptyDocs).isEmpty)
    assert(Text.fingerprints(emptyDocs).isEmpty)
    assert(Text.topNgrams(emptyDocs).isEmpty)
    assert(Text.gopherRules(emptyDocs).isEmpty)
    assert(Text.heavyHitters(emptyDocs).isEmpty)
    assert(Text.unigramSurprisal(emptyDocs).isEmpty)
    assert(Text.bigramSurprisal(emptyDocs).isEmpty)
    assert(Bpe.train(emptyDocs).isEmpty)
    assert(Bpe.encode(emptyDocs).isEmpty)
  }

  test("round-5 text additions survive null and empty-string text") {
    import spark.implicits._
    val d = Seq((1L, "the alpha beta alpha the beta alpha"),
      (2L, null: String), (3L, "")).toDF("doc_id", "text")
    // per-row gates: null/empty rows are rows too — defined, not dropped
    val gopher = Text.gopherRules(d).collect().map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    assert(gopher.keySet == Set(1L, 2L, 3L))
    assert(!gopher(3L), "empty text cannot pass the word-count gate")
    // corpus aggregates: null/empty docs contribute nothing
    val hh = Text.heavyHitters(d, 3).collect().map(_.getString(0))
    assert(hh.contains("alpha"))
    assert(Text.bigramSurprisal(d).collect().map(_.getLong(0)).toSeq == Seq(1L),
      "token-less docs are excluded from surprisal, not scored")
    assert(Bpe.encode(d, 5).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      .view.filterKeys(_ != 1L).values.forall(_ == 0L), "null/empty docs encode to zero tokens")
  }

  test("events family on empty events") {
    assert(Events.tumbling(emptyEvents).isEmpty)
    assert(Events.sessions(emptyEvents).isEmpty)
    assert(Events.sessionsViaLag(emptyEvents).isEmpty)
    assert(Events.asofPurchaseView(emptyEvents).isEmpty)
    assert(Events.funnel(emptyEvents).isEmpty)
    assert(Events.zscoreAnomalies(emptyEvents).isEmpty)
  }

  test("similarity family on empty embeddings") {
    assert(Similarity.norms(emptyEmbeddings).isEmpty)
    assert(Similarity.cosineTopK(emptyEmbeddings).isEmpty)
    assert(Similarity.cosineDupPairs(emptyEmbeddings, 0.0).isEmpty)
    assert(Similarity.annTopK(emptyEmbeddings).isEmpty)
    assert(Similarity.labelCentroids(emptyEmbeddings).isEmpty)
  }

  test("single-document / single-vector inputs produce no pairs but valid rows") {
    import spark.implicits._
    val oneDoc = Seq((1L, "only one document here now")).toDF("doc_id", "text")
    assert(Dedup.jaccardPairs(oneDoc).isEmpty)
    assert(Text.textStats(oneDoc).count() == 1)
    val oneVec = Seq((1L, Seq(1.0f, 2.0f), 0)).toDF("vec_id", "embedding", "label")
    assert(Similarity.cosineDupPairs(oneVec, 0.0).isEmpty)
    assert(Similarity.norms(oneVec).count() == 1)
  }

  test("round-5 additions: empty inputs return empty results, not exceptions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val emptyDocs = Seq.empty[(Long, String, String, Long)]
      .toDF("doc_id", "text", "source", "n_chars")
    assert(Text.prioritySample(emptyDocs, 10).collect().isEmpty)
    assert(Text.diversityFit(emptyDocs).collect().isEmpty)
    val emptyEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.pageRank(emptyEdges, iters = 2).collect().isEmpty)
    assert(Graph.connectedComponents(emptyEdges).collect().isEmpty)
    val emptyEmb = Seq.empty[(Long, Array[Double], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.knnGraph(emptyEmb, 3).collect().isEmpty)
    assert(Similarity.knnGraphLsh(emptyEmb, 3).collect().isEmpty)
    val emptyCust = Seq.empty[Long].toDF("c_custkey")
    val emptyOrd = Seq.empty[(Long, Double)].toDF("o_custkey", "o_totalprice")
    assert(Typed.customerOrderRollup(emptyCust, emptyOrd).collect().isEmpty)
    // corrMatrix: the global aggregate emits one all-null-sums row; every
    // pair must surface null r, never a divide-by-zero or NPE
    val cm = Stats.corrMatrix(Seq.empty[(Double, Double)].toDF("a", "b"), Seq("a", "b"))
      .collect()
    assert(cm.length == 1 && cm.head.isNullAt(3) && cm.head.getLong(2) == 0L)
  }

  test("round-5 additions: degenerate small inputs stay well-defined") {
    import spark.implicits._
    // single-node graph with a self-loop: rank 1.0 (all mass on the node)
    val ranks = Graph.pageRank(Seq((1L, 1L)).toDF("src", "dst"), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks.size == 1 && math.abs(ranks(1L) - 1.0) < 1e-9)
    // kNN with k larger than the corpus: every node gets all others
    val emb = Seq(
      (1L, Array(1.0, 0.0), 0), (2L, Array(0.0, 1.0), 0), (3L, Array(1.0, 1.0), 0)
    ).toDF("vec_id", "embedding", "label")
    val g = Similarity.knnGraph(emb, k = 10).collect()
    assert(g.length == 6, "3 nodes x 2 neighbors each when k exceeds corpus")
    // priority sample larger than the corpus returns every row
    val docs = Seq((1L, "t", "s", 5L), (2L, "u", "s", 9L))
      .toDF("doc_id", "text", "source", "n_chars")
    assert(Text.prioritySample(docs, 100).collect().length == 2)
    // HyperANF report over no edges: no seeds, so every hop reads zero
    // pairs inside the bound (the seed-summed estimate is 0, not null)
    val anf = Graph.neighborhoodReport(Seq.empty[(Long, Long)].toDF("src", "dst"), hops = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(4)))
    assert(anf.toSeq == Seq((1L, 0L, 0L, true), (2L, 0L, 0L, true)))
  }
}
