package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** PageRank invariants on graphs with known closed-form or symmetry
  * answers, plus the determinism contract the oracle depends on.
  */
class GraphSpec extends SparkSpec {

  private def edges(pairs: (Long, Long)*) = {
    val spark2 = spark
    import spark2.implicits._
    pairs.toDF("src", "dst")
  }

  test("pageRank: conserves total mass (no dangling nodes) and is a probability vector") {
    // directed 4-cycle: every node outdeg 1
    val ranks = Graph.pageRank(edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)), iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9)
    // a cycle is vertex-transitive: uniform stationary distribution
    ranks.values.foreach(v => assert(math.abs(v - 0.25) < 1e-12))
  }

  test("pageRank: star graph concentrates rank on the hub") {
    // undirected star: hub 0 <-> leaves 1..4 (symmetric edges, no dangling)
    val leaves = (1L to 4L)
    val e = edges(leaves.flatMap(l => Seq((0L, l), (l, 0L))): _*)
    val ranks = Graph.pageRank(e, iters = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9)
    leaves.foreach(l => assert(ranks(0L) > 2 * ranks(l), s"hub must dominate leaf $l"))
    // closed form for the undirected star (d = 0.85, n = 5):
    // hub = (1-d)/n + d·4·leaf_contrib ... verified numerically instead:
    // leaves are symmetric — all equal
    assert(leaves.map(ranks).distinct.size == 1)
  }

  test("pageRank: bit-identical under repartitioning (the oracle contract)") {
    val e = Graph.copurchaseEdges(
      graft.core.Tables.orders(spark, sfDir), graft.core.Tables.lineitem(spark, sfDir))
    val a = Graph.pageRank(e, iters = 3).collect().toSeq
    val b = Graph.pageRank(e.repartition(7), iters = 3).collect().toSeq
    assert(a == b, "decimal-exact contribution sums must make ranks partitioning-invariant")
  }

  test("pageRank: dangling mass is redistributed — probability vector on a directed chain") {
    // 1 -> 2 -> 3, node 3 dangling: without redistribution mass leaks to
    // (1-d) levels; with it the ranks stay a probability vector
    val ranks = Graph.pageRank(edges((1L, 2L), (2L, 3L)), iters = 30)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(ranks.values.sum - 1.0) < 1e-8,
      s"dangling mass must be redistributed: ${ranks.values.sum}")
    // downstream of the chain accumulates rank: 3 > 2 > 1's share of inflow
    assert(ranks(3L) > ranks(2L) && ranks(2L) > ranks(1L))
  }

  test("pageRank weighted: heavier edges attract proportionally more rank") {
    val spark2 = spark
    import spark2.implicits._
    // 1 sends 9/10 of its mass to 2 and 1/10 to 3; both return everything
    val e = Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    val ranks = Graph.pageRank(e, iters = 30, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // 9-decimal output rounding: up to n half-ulps of slack on the sum
    assert(math.abs(ranks.values.sum - 1.0) < 1e-8)
    assert(ranks(2L) > 2 * ranks(3L), s"the w=9 edge must dominate: $ranks")
    // w = 1 everywhere must equal the unweighted form bit-for-bit (the
    // identity the unchanged q_pagerank oracle depends on)
    val uw = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val w1 = uw.withColumn("w", org.apache.spark.sql.functions.lit(1L))
    val a = Graph.pageRank(uw, iters = 5).collect().toSeq
    val b = Graph.pageRank(w1, iters = 5, weightCol = Some("w")).collect().toSeq
    assert(a == b)
  }

  test("personalizedPageRank: mass conserved, seeds dominate, all-seeds ≈ uniform PageRank") {
    val spark2 = spark
    import spark2.implicits._
    // directed 4-cycle with node 1 as the only seed
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val seed1 = Seq(1L).toDF("node")
    val ppr = Graph.personalizedPageRank(e, seed1, iters = 30)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(ppr.values.sum - 1.0) < 1e-8)
    // proximity ordering on the directed cycle: mass flows 1→2→3→4, so
    // rank decreases with hop distance downstream of the seed
    assert(ppr(1L) > ppr(2L) && ppr(2L) > ppr(3L) && ppr(3L) > ppr(4L),
      s"rank must decay with distance from the seed: $ppr")
    // seeding EVERY node reduces to uniform teleport = standard PageRank
    // (up to last-ulp op-order differences: (1-d)*s vs (1-d)/n)
    val allSeeds = Seq(1L, 2L, 3L, 4L).toDF("node")
    val uni = Graph.pageRank(e, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pprAll = Graph.personalizedPageRank(e, allSeeds, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    uni.foreach { case (k, v) => assert(math.abs(pprAll(k) - v) < 1e-9) }
    // dangling chain: mass still conserved (dangling teleports to seeds)
    val chain = Graph.personalizedPageRank(edges((1L, 2L), (2L, 3L)), seed1, iters = 30)
      .collect().map(_.getDouble(1)).sum
    assert(math.abs(chain - 1.0) < 1e-8)
  }

  test("pageRank: rejects degenerate parameters") {
    intercept[IllegalArgumentException](Graph.pageRank(edges((1L, 2L)), iters = 0))
    intercept[IllegalArgumentException](Graph.pageRank(edges((1L, 2L)), damping = 1.0))
  }

  test("hits: directed star — center is the pure hub, leaves the pure authorities") {
    val out = Graph.hits(edges((0L, 1L), (0L, 2L), (0L, 3L)), iters = 5)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // every iteration is the fixpoint here: a(leaf) = 1/sqrt(3), h(center) = 1
    assert(out(0L) == ((0.0, 1.0)))
    (1L to 3L).foreach(l => assert(out(l) == ((0.577350269, 0.0))))
  }

  test("hits: complete bipartite 2x2 — uniform scores at 1/sqrt(2)") {
    val e = edges((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
    val out = Graph.hits(e, iters = 7)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val s = 0.707106781
    assert(out(1L) == ((0.0, s)) && out(2L) == ((0.0, s)))
    assert(out(3L) == ((s, 0.0)) && out(4L) == ((s, 0.0)))
  }

  test("hits: L2-normalized score vectors on the trade graph; bit-identical under repartitioning") {
    val e = Graph.tradeEdges(graft.core.Tables.lineitem(spark, sfDir),
      graft.core.Tables.orders(spark, sfDir),
      graft.core.Tables.customer(spark, sfDir),
      graft.core.Tables.supplier(spark, sfDir))
    val rows = Graph.hits(e, iters = 4).collect()
    assert(math.abs(rows.map(r => r.getDouble(1) * r.getDouble(1)).sum - 1.0) < 1e-6)
    assert(math.abs(rows.map(r => r.getDouble(2) * r.getDouble(2)).sum - 1.0) < 1e-6)
    assert(rows.toSeq == Graph.hits(e.repartition(7), iters = 4).collect().toSeq)
  }

  test("hits: rejects degenerate parameters") {
    intercept[IllegalArgumentException](Graph.hits(edges((1L, 2L)), iters = 0))
  }

  private def hops(maxHops: Int, seedIds: Seq[Long], pairs: (Long, Long)*): Map[Long, Long] = {
    val spark2 = spark
    import spark2.implicits._
    Graph.hopDistance(edges(pairs: _*), seedIds.toDF("node"), maxHops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("hopDistance: path graph distances from one end, cap drops far nodes") {
    // path 1-2-3-4-5-6, seed 1
    val p = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    assert(hops(4, Seq(1L), p: _*) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    assert(hops(2, Seq(1L), p: _*) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("hopDistance: multiple seeds take the nearest; off-graph seeds are ignored") {
    val p = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(hops(4, Seq(1L, 4L, 99L), p: _*) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("hopDistance: disconnected components stay unreached; bit-identical under repartitioning") {
    assert(hops(3, Seq(1L), (1L, 2L), (3L, 4L)) == Map(1L -> 0L, 2L -> 1L))
    val e = Graph.basketEdges(graft.core.Tables.lineitem(spark, sfDir))
    val seeds = graft.core.Tables.part(spark, sfDir)
      .filter(col("p_brand") === "Brand#1").select(col("p_partkey").as("node"))
    assert(Graph.hopDistance(e, seeds).collect().toSeq ==
      Graph.hopDistance(e.repartition(7), seeds).collect().toSeq)
  }

  private def core(k: Int, pairs: (Long, Long)*): Map[Long, Long] =
    Graph.kCore(edges(pairs: _*), k).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("kCore: K4 with a pendant path — the 3-core is exactly the K4") {
    // K4 on 1..4 plus path 4-5-6: 5 and 6 peel (deg < 3), K4 keeps deg 3
    val got = core(3, (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCore: multi-round peel — a tail unravels link by link") {
    // triangle 1-2-3 with tail 3-4-5-6: round 1 drops 6, round 2 drops 5,
    // round 3 drops 4 — the 2-core is the triangle with in-core degrees 2
    val got = core(2, (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore: a path has an empty 2-core; k=1 keeps every non-isolated node") {
    assert(core(2, (1L, 2L), (2L, 3L), (3L, 4L)).isEmpty)
    assert(core(1, (1L, 2L), (3L, 4L)) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("kCore: invariant to direction/duplicates; bit-identical under repartitioning") {
    val clean = core(2, (1L, 2L), (2L, 3L), (1L, 3L))
    val noisy = core(2, (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (1L, 1L))
    assert(clean == Map(1L -> 2L, 2L -> 2L, 3L -> 2L) && noisy == clean)
    val e = Graph.basketEdges(graft.core.Tables.lineitem(spark, sfDir))
    assert(Graph.kCore(e, 3).collect().toSeq == Graph.kCore(e.repartition(7), 3).collect().toSeq)
  }

  test("kCore: every member's in-core degree is >= k, and members only touch members") {
    val e = Graph.basketEdges(graft.core.Tables.lineitem(spark, sfDir))
    val got = Graph.kCore(e, 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.values.foreach(d => assert(d >= 3L))
    // recompute degrees within the returned node set independently
    val canon = Graph.canonicalEdges(e)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val inCore = canon.filter { case (a, b) => got.contains(a) && got.contains(b) }
    val deg = inCore.flatMap { case (a, b) => Seq(a, b) }.groupBy(identity).map { case (n, xs) => n -> xs.length.toLong }
    assert(deg == got, "returned degrees must be the in-core degrees")
  }

  test("kCore: rejects degenerate parameters and refuses to exceed maxIters") {
    intercept[IllegalArgumentException](Graph.kCore(edges((1L, 2L)), k = 0))
    // triangle+tail needs 3 peel rounds + 1 confirm at k=2; maxIters=2 must
    // throw, and leave none of its checkpoints resident
    val (added, _) = persistedDuring(intercept[IllegalStateException](
      Graph.kCore(edges((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)),
        k = 2, maxIters = 2)))
    assert(added.isEmpty, s"the throw left persisted RDDs ${added.toSeq.sorted}")
  }

  private def census(pairs: (Long, Long)*): (Long, Long, Long, Long, Double) = {
    val r = Graph.triangleStats(edges(pairs: _*)).collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
  }

  test("triangleStats: K4 — 4 triangles, clustering 1.0") {
    assert(census((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)) ==
      ((4L, 6L, 12L, 4L, 1.0)))
  }

  test("triangleStats: triangle with a pendant — 1 triangle over 5 wedges") {
    // deg 1:2, 2:2, 3:3, 4:1 -> wedges 1+1+3+0 = 5
    assert(census((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)) == ((4L, 4L, 5L, 1L, 0.6)))
  }

  test("triangleStats: triangle-free graph and empty edge cases") {
    assert(census((1L, 2L), (3L, 4L)) == ((4L, 2L, 0L, 0L, 0.0)))
    // path a-b-c: one open wedge, no triangle
    assert(census((1L, 2L), (2L, 3L)) == ((3L, 2L, 1L, 0L, 0.0)))
  }

  test("triangleStats: invariant to direction, duplicates and self-loops") {
    val clean = census((1L, 2L), (2L, 3L), (1L, 3L))
    val noisy = census((2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (2L, 2L))
    assert(clean == ((3L, 3L, 3L, 1L, 1.0)))
    assert(noisy == clean)
  }

  test("triangleStats: degree-ordered count equals the naive a<b<c triple join on the basket graph") {
    val li = graft.core.Tables.lineitem(spark, sfDir)
    val eRaw = Graph.basketEdges(li).persist()
    val fast = Graph.triangleStats(eRaw).collect().head
    val e = Graph.canonicalEdges(eRaw)
    val e1 = e.select(col("a").as("a1"), col("b").as("b1"))
    val e2 = e.select(col("a").as("a2"), col("b").as("b2"))
    val e3 = e.select(col("a").as("a3"), col("b").as("b3"))
    val naive = e1.join(e2, col("a2") === col("a1") && col("b2") > col("b1"))
      .join(e3, col("a3") === col("b1") && col("b3") === col("b2"))
      .count()
    eRaw.unpersist()
    assert(fast.getLong(3) == naive, "degree-ordered census must equal the naive count")
    assert(fast.getLong(3) > 0, "fixture basket graph should contain triangles")
  }

  test("triangleStats: bit-identical under repartitioning") {
    val e = Graph.basketEdges(graft.core.Tables.lineitem(spark, sfDir))
    assert(Graph.triangleStats(e).collect().toSeq ==
      Graph.triangleStats(e.repartition(7)).collect().toSeq)
  }

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("communities: two 3-cliques bridged by one edge settle into two communities") {
    // cliques {1,2,3} and {4,5,6}, bridge 3-4; hand-simulated sync LPA with
    // the min-label tie-break is STABLE from round 3 at {1,2,3}->1, {4,5,6}->3
    val e = edges((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val out = labelsOf(Graph.communities(e, rounds = 4))
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
    // stability: one more round changes nothing (the partition is a fixpoint)
    assert(labelsOf(Graph.communities(e, rounds = 5)) == out)
  }

  test("communities: min-label tie-break pinned on a triangle's first round") {
    // round 1 from self-labels: every neighbor label has count 1, so each
    // node adopts the SMALLEST neighbor id — node 1 takes 2, nodes 2/3 take 1
    val tri = edges((1L, 2L), (1L, 3L), (2L, 3L))
    assert(labelsOf(Graph.communities(tri, rounds = 1)) ==
      Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
    // and by round 2 the clique agrees on label 1 (stable thereafter)
    assert(labelsOf(Graph.communities(tri, rounds = 2)) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("communities: synchronous LPA 2-cycles on a 4-cycle — rounds is a semantic parameter") {
    // bipartite C4: from round 1 the labeling oscillates between
    // (2,1,2,1) on odd rounds and (1,2,1,2) on even rounds — the documented
    // reason operator and oracle agree on a FIXED round count
    val c4 = edges((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    val odd = Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 4L -> 1L)
    val even = Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 2L)
    assert(labelsOf(Graph.communities(c4, rounds = 3)) == odd)
    assert(labelsOf(Graph.communities(c4, rounds = 4)) == even)
  }

  test("communities: invariant to direction/duplicates; bit-identical under repartitioning") {
    val e = edges((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (1L, 3L))
    val base = labelsOf(Graph.communities(e, rounds = 2))
    assert(base == labelsOf(Graph.communities(e.repartition(7), rounds = 2)))
    assert(base == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    intercept[IllegalArgumentException](Graph.communities(e, rounds = 0))
  }

  test("refineCommunities: one move round lifts a suboptimal LPA-1 labeling's Q (two cliques + bridge)") {
    // cliques {1,2,3} and {4,5,6}, bridge 3-4. LPA-1 from self-labels gives
    // the fragmented {1->2, 2->1, 3->1, 4->3, 5->4, 6->4} (Q = 0.0102);
    // hand-simulated local moves with the swap guard: only node 1 has a
    // positive-gain down-move (to community 1, score 18 > 0), everyone
    // else stays -> {1,2,3}->1, 4->3, {5,6}->4, Q = 0.1939
    val e = edges((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val lpa1 = Graph.communities(e, rounds = 1)
    val refined = Graph.refineCommunities(e, lpa1, rounds = 1)
    assert(labelsOf(refined) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 4L, 6L -> 4L))
    val qBefore = Graph.modularity(e, lpa1).collect().head.getDouble(2)
    val qAfter = Graph.modularity(e, refined).collect().head.getDouble(2)
    assert(qAfter > qBefore,
      s"Louvain move round must lift LPA-1's modularity: $qBefore -> $qAfter")
    // a second move round changes nothing (local optimum reached)
    assert(labelsOf(Graph.refineCommunities(e, lpa1, rounds = 2)) == labelsOf(refined))
  }

  test("refineCommunities: the LPA-4 fixpoint on two cliques + bridge is already locally optimal") {
    val e = edges((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val lpa4 = Graph.communities(e, rounds = 4)
    assert(labelsOf(Graph.refineCommunities(e, lpa4, rounds = 2)) == labelsOf(lpa4))
  }

  test("louvainCoarsen: merges whole communities where single-node moves stall, lifting Q") {
    // 10 components, each two K3 cliques bridged by one edge; labels =
    // one community per clique. CLOSED FORM with m = 70: a bridge node
    // staying scores 2m·k_cur − deg·(d_cur − deg) = 140·2 − 3·4 = 268 vs
    // moving 140·1 − 3·7 = 119, so LEVEL 1 STALLS for every node; the
    // coarse level scores supernode-merge 140·1 − 7·7 = 91 > stay 0, so
    // each pair's larger clique moves down into the smaller — exactly the
    // whole-community move single-node rounds cannot express.
    val spark2 = spark
    import spark2.implicits._
    val comps = (0 until 10).map(_ * 6L)
    val es = comps.flatMap { o =>
      Seq((o + 1, o + 2), (o + 1, o + 3), (o + 2, o + 3),
        (o + 4, o + 5), (o + 4, o + 6), (o + 5, o + 6), (o + 3, o + 4))
    }
    val e = es.toDF("src", "dst")
    val cliqueLabels = comps.flatMap(o =>
      Seq((o + 1, o + 1), (o + 2, o + 1), (o + 3, o + 1),
        (o + 4, o + 4), (o + 5, o + 4), (o + 6, o + 4)))
      .toDF("node", "community")
    // level 1 stalls: local moves leave the per-clique labeling untouched
    assert(labelsOf(Graph.refineCommunities(e, cliqueLabels, rounds = 2)) ==
      cliqueLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // the coarse level merges each bridged pair into the smaller id
    val merged = Graph.louvainCoarsen(e, cliqueLabels, rounds = 2)
    val want = comps.flatMap(o => (1L to 6L).map(i => (o + i) -> (o + 1))).toMap
    assert(labelsOf(merged) == want)
    val q1 = Graph.modularity(e, cliqueLabels).collect().head.getDouble(2)
    val q2 = Graph.modularity(e, merged).collect().head.getDouble(2)
    assert(q2 > q1, s"coarse level must lift Q: $q1 -> $q2")
    // closed form: Q1 = 20·(3/70 − (7/140)²), Q2 = 10·(7/70 − (14/140)²)
    assert(math.abs(q1 - 0.807143) < 1e-6 && math.abs(q2 - 0.9) < 1e-6)
    // determinism under repartitioning
    assert(labelsOf(Graph.louvainCoarsen(e.repartition(7), cliqueLabels, rounds = 2)) == want)
    // isolated labeled nodes survive (r16, from the r15 ADVICE): a label
    // whose community has NO incident edge in edgeList has no coarse-graph
    // row — the old inner-join mapping silently dropped it; it must come
    // back with its level-1 community (an edgeless community never moves)
    val withIsolated = cliqueLabels
      .union(Seq((100L, 100L), (101L, 100L)).toDF("node", "community"))
    val mergedIso = labelsOf(Graph.louvainCoarsen(e, withIsolated, rounds = 2))
    assert(mergedIso == want ++ Map(100L -> 100L, 101L -> 100L),
      s"isolated labels must map through unchanged: $mergedIso")
  }

  test("refineCommunities: swap guard blocks the 2-swap oscillation; bit-identical under repartitioning") {
    // one edge 1-2 with swapped labels {1->2, 2->1}: unguarded synchronous
    // moves would trade communities forever; the guard lets only node 1
    // move down (community 1), node 2 must stay -> both land in 1
    val spark2 = spark
    import spark2.implicits._
    val e = edges((1L, 2L))
    val swapped = Seq((1L, 2L), (2L, 1L)).toDF("node", "community")
    assert(labelsOf(Graph.refineCommunities(e, swapped, rounds = 1)) ==
      Map(1L -> 1L, 2L -> 1L))
    val big = edges((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val lab = Graph.communities(big, rounds = 1)
    assert(labelsOf(Graph.refineCommunities(big.repartition(7), lab, rounds = 2)) ==
      labelsOf(Graph.refineCommunities(big, lab, rounds = 2)))
    intercept[IllegalArgumentException](Graph.refineCommunities(e, swapped, rounds = 0))
  }

  test("neighborhoodReport: exact ball counts on a path; estimates within bound; self-describing seeds") {
    // path 1-2-3-4-5, all 5 nodes seeded: |ball_1| = 2+3+3+3+2 = 13,
    // |ball_2| = 3+4+5+4+3 = 19, |ball_3| = 4+5+5+5+4 = 23
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val rows = Graph.neighborhoodReport(e, hops = 3, nSeeds = 5).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows.forall(_.getLong(1) == 5L))
    assert(rows.map(_.getLong(2)).toSeq == Seq(13L, 19L, 23L))
    assert(rows.forall(_.getBoolean(4)),
      "HLL ball estimates must land inside the declared bound on a 5-node graph")
  }

  test("neighborhoodReport: seed cap limits the exact side to the smallest node ids") {
    // seeds = {1, 2}: |ball_1| = 2+3 = 5, |ball_2| = 3+4 = 7
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val rows = Graph.neighborhoodReport(e, hops = 2, nSeeds = 2).collect()
    assert(rows.forall(_.getLong(1) == 2L))
    assert(rows.map(_.getLong(2)).toSeq == Seq(5L, 7L))
    intercept[IllegalArgumentException](Graph.neighborhoodReport(e, hops = 0))
  }

  test("modularity: two disjoint triangles under their clique labels score 0.5") {
    // m=6, each community: e_c=3, d_c=6 -> Q = 2*(3/6 - (6/12)^2) = 0.5
    val e = edges((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L))
    val labels = Graph.communities(e, rounds = 2) // settles to {1,..}->1, {4,..}->4
    val row = Graph.modularity(e, labels).collect().head
    assert(row.getLong(0) == 2 && row.getLong(1) == 6)
    assert(row.getDouble(2) == 0.5)
  }

  test("modularity: one giant community scores exactly 0; singletons score negative") {
    val spark2 = spark
    import spark2.implicits._
    val e = edges((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val allOne = Seq((1L, 9L), (2L, 9L), (3L, 9L), (4L, 9L)).toDF("node", "community")
    val one = Graph.modularity(e, allOne).collect().head
    assert(one.getLong(0) == 1 && one.getLong(1) == 4 && one.getDouble(2) == 0.0)
    val singletons = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)).toDF("node", "community")
    val sing = Graph.modularity(e, singletons).collect().head
    assert(sing.getLong(1) == 0 && sing.getDouble(2) < 0.0)
  }

  test("modularity: separated cliques beat a mixed labeling; bit-identical under repartitioning") {
    val e = edges((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val good = Graph.communities(e, rounds = 4)
    val qGood = Graph.modularity(e, good).collect().head.getDouble(2)
    val spark2 = spark
    import spark2.implicits._
    // mixed: split each clique across the two labels
    val mixed = Seq((1L, 1L), (2L, 2L), (3L, 1L), (4L, 2L), (5L, 1L), (6L, 2L))
      .toDF("node", "community")
    val qMixed = Graph.modularity(e, mixed).collect().head.getDouble(2)
    assert(qGood > qMixed, s"separated labeling must dominate: $qGood vs $qMixed")
    assert(Graph.modularity(e.repartition(5), good).collect().toSeq ==
      Graph.modularity(e, good).collect().toSeq)
  }

  test("triangleProfile: closed form on triangle + pendant (deg, n_tri, lcc per node)") {
    // triangle 1-2-3 with pendant edge 3-4
    val e = edges((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val rows = Graph.triangleProfile(e).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rows(1L) == ((2L, 1L, 1.0)))
    assert(rows(2L) == ((2L, 1L, 1.0)))
    assert(rows(3L) == ((3L, 1L, 0.333333))) // 2·1/(3·2)
    assert(rows(4L) == ((1L, 0L, 0.0)))      // deg < 2 → defined as 0
  }

  test("triangleProfile: Σn_tri = 3·triangles on the basket graph") {
    val e = Graph.basketEdges(graft.core.Tables.lineitem(spark, sfDir))
    val sumTri = Graph.triangleProfile(e).collect().map(_.getLong(2)).sum
    val global = Graph.triangleStats(e).collect().head.getLong(3)
    assert(sumTri == 3 * global, s"each triangle counted at 3 corners: $sumTri vs $global")
  }

  test("edgeEmbeddedness: closed form on triangle + pendant (common neighbors + Jaccard)") {
    val e = edges((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val rows = Graph.edgeEmbeddedness(e).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(rows((1L, 2L)) == ((2L, 2L, 1L, 0.333333))) // common {3}, 1/(2+2-1)
    assert(rows((1L, 3L)) == ((2L, 3L, 1L, 0.25)))     // common {2}, 1/(2+3-1)
    assert(rows((2L, 3L)) == ((2L, 3L, 1L, 0.25)))
    assert(rows((3L, 4L)) == ((3L, 1L, 0L, 0.0)))      // a local bridge
  }

  test("degreeAssortativity: star is -1, path is -1, regular graph hits the 0/0 → 0 contract") {
    val star = edges((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    val s = Graph.degreeAssortativity(star).collect().head
    assert(s.getLong(0) == 4 && s.getDouble(1) == -1.0)
    val path = edges((1L, 2L), (2L, 3L))
    assert(Graph.degreeAssortativity(path).collect().head.getDouble(1) == -1.0)
    // K3: every degree equal → zero variance → defined as 0.0
    val k3 = edges((1L, 2L), (1L, 3L), (2L, 3L))
    assert(Graph.degreeAssortativity(k3).collect().head.getDouble(1) == 0.0)
  }

  test("connectedComponents: two components labeled by their minima") {
    // path {1,2,3} + pair {10,11}: every node takes its component min
    val e = edges((2L, 3L), (1L, 2L), (10L, 11L))
    assert(labelsOf(Graph.connectedComponents(e)) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: pointer jumping collapses a 64-path in O(log d) rounds") {
    // path 0-1-…-63 (diameter 63): plain min propagation needs 63 rounds;
    // the relax+jump round reaches the fixpoint well inside 12 — the
    // log-round contract the 100 TB design depends on
    val path = edges((0L until 63L).map(i => (i, i + 1)): _*)
    val out = labelsOf(Graph.connectedComponents(path, maxIters = 12))
    assert(out.size == 64 && out.values.forall(_ == 0L))
    // and the safety fence THROWS (never a partial labeling) when capped
    // below what convergence + the one confirmation round need, leaving
    // none of its checkpoints resident
    val (added, _) = persistedDuring(intercept[IllegalStateException](
      Graph.connectedComponents(path, maxIters = 2)))
    assert(added.isEmpty, s"the throw left persisted RDDs ${added.toSeq.sorted}")
  }

  test("connectedComponents: invariant to direction/duplicates; bit-identical under repartitioning") {
    val e = edges((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (5L, 6L))
    val base = labelsOf(Graph.connectedComponents(e))
    assert(base == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    assert(base == labelsOf(Graph.connectedComponents(e.repartition(7))))
  }

  private def wedges(triples: (Long, Long, Long)*) = {
    val spark2 = spark
    import spark2.implicits._
    triples.toDF("src", "dst", "w")
  }
  private def seedsOf(ids: Long*) = {
    val spark2 = spark
    import spark2.implicits._
    ids.toDF("node")
  }

  test("shortestPaths: a cheap 2-hop path beats an expensive direct edge — rounds is semantic") {
    // 1-2 costs 10 direct, but 1-3-2 costs 1+1=2; one round sees only the
    // direct edge, two rounds find the cheap detour
    val e = wedges((1L, 2L, 10L), (2L, 3L, 1L), (1L, 3L, 1L))
    val r1 = labelsOf(Graph.shortestPaths(e, seedsOf(1L), rounds = 1))
    assert(r1 == Map(1L -> 0L, 2L -> 10L, 3L -> 1L))
    val r2 = labelsOf(Graph.shortestPaths(e, seedsOf(1L), rounds = 2))
    assert(r2 == Map(1L -> 0L, 2L -> 2L, 3L -> 1L))
  }

  test("shortestPaths: unit weights reproduce hopDistance; unreached nodes stay absent") {
    val uw = wedges((1L, 2L, 1L), (2L, 3L, 1L), (5L, 6L, 1L))
    val hop = labelsOf(Graph.hopDistance(
      edges((1L, 2L), (2L, 3L), (5L, 6L)), seedsOf(1L), maxHops = 3))
    val sp = labelsOf(Graph.shortestPaths(uw, seedsOf(1L), rounds = 3))
    assert(sp == hop && sp == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("shortestPaths: duplicate/opposite-direction edges keep the cheapest weight") {
    val e = wedges((1L, 2L, 5L), (2L, 1L, 3L), (1L, 2L, 7L))
    assert(labelsOf(Graph.shortestPaths(e, seedsOf(1L), rounds = 1)) ==
      Map(1L -> 0L, 2L -> 3L))
    intercept[IllegalArgumentException](Graph.shortestPaths(e, seedsOf(1L), rounds = 0))
  }

  test("componentSizes: size census on a mixed-shape graph") {
    // sizes: one 4-cycle (4), one triangle (3), two pairs (2,2)
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L),
      (7L, 8L), (8L, 9L), (7L, 9L), (20L, 21L), (30L, 31L))
    val sizes = Graph.componentSizes(Graph.connectedComponents(e))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes == Map(2L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("betweennessSampled: exact Brandes values on a path graph; seed restriction honored") {
    // path 1-2-3-4-5, all nodes as seeds, radius 4 = exact betweenness:
    // middle node 3 lies on 8 ordered (s,t) pairs, nodes 2/4 on 6, ends 0
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val all = Graph.betweennessSampled(e, nSeeds = 5, maxHops = 4, topK = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(all(3L) == 8.0)
    assert(all(2L) == 6.0 && all(4L) == 6.0)
    assert(all(1L) == 0.0 && all(5L) == 0.0)
    // single source (smallest node = 1): delta_1 = (3, 2, 1, 0) down the path
    val one = Graph.betweennessSampled(e, nSeeds = 1, maxHops = 4, topK = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(one(2L) == 3.0 && one(3L) == 2.0 && one(4L) == 1.0 && one(5L) == 0.0)
    // radius bound: maxHops 1 sees only direct neighbors -> no interior mass
    val r1 = Graph.betweennessSampled(e, nSeeds = 5, maxHops = 1, topK = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r1.values.forall(_ == 0.0))
  }

  test("harmonicCloseness: exact path-graph values; radius bound honored") {
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val out = Graph.harmonicCloseness(e, nSeeds = 5, maxHops = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    // end node: 1 + 1/2 + 1/3 + 1/4; middle node: 2/1 + 2/2
    assert(out(1L) == ((4L, BigDecimal(1.0 + 0.5 + (1.0 / 3) + 0.25)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(out(3L) == ((4L, 3.0)))
    assert(out(2L)._1 == 4L && out(4L)._1 == 4L)
    val r2 = Graph.harmonicCloseness(e, nSeeds = 5, maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(r2(1L) == 1.5, "radius 2 sees only two hops")
  }

  test("betweennessSampled and harmonicCloseness are bit-identical under edge repartitioning") {
    val spark2 = spark
    import spark2.implicits._
    // two triangles joined by a bridge — asymmetric enough that a
    // partition-order-dependent sum would show
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L))
    val e = pairs.toDF("src", "dst")
    val shuffled = pairs.toDF("src", "dst").repartition(5)
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    assert(same(Graph.betweennessSampled(e, 6, 3, 10),
      Graph.betweennessSampled(shuffled, 6, 3, 10)))
    assert(same(Graph.harmonicCloseness(e, 6, 3),
      Graph.harmonicCloseness(shuffled, 6, 3)))
    // and the bridge node carries the betweenness mass
    val top = Graph.betweennessSampled(e, 6, 3, 2).collect()
    assert(Set(3L, 4L).contains(top.head.getLong(0)),
      s"a bridge endpoint must rank first: ${top.mkString(";")}")
  }

  test("reciprocity: hand-computed edge and weight ratios; self-loops excluded") {
    val spark2 = spark
    import spark2.implicits._
    val e = Seq((1L, 2L, 3L), (2L, 1L, 1L), (1L, 3L, 2L), (4L, 4L, 9L))
      .toDF("src", "dst", "w")
    val r = Graph.reciprocity(e).collect().head
    assert(r.getAs[Long]("n_edges") == 3L, "self-loop excluded")
    assert(r.getAs[Long]("n_reciprocated") == 2L)
    assert(r.getAs[Double]("edge_reciprocity") ==
      BigDecimal(2.0 / 3.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // sum min(w, wr): (1->2): min(3,1)=1, (2->1): min(1,3)=1, (1->3): 0
    assert(r.getAs[Double]("weight_reciprocity") ==
      BigDecimal(2.0 / 6.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("degreeTailFit: an exact log-log-linear degree distribution fits alpha 2, r2 1") {
    val spark2 = spark
    import spark2.implicits._
    // degrees {1: 16 nodes, 2: 4, 4: 1}: ln n_d = -2 ln d + ln 16
    val star = Seq((100L, 1L), (100L, 2L), (100L, 3L), (100L, 4L)) // hub deg 4, 4 leaves
    val cycle = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L)) // 4 nodes deg 2
    val singles = (0 until 6).map(i => (200L + 2 * i, 201L + 2 * i)) // 12 leaves
    val e = (star ++ cycle ++ singles).toDF("src", "dst")
    val r = Graph.degreeTailFit(e, dmin = 1).collect().head
    assert(r.getAs[Long]("n_degrees") == 3L)
    assert(math.abs(r.getAs[Double]("alpha") - 2.0) <= 2e-3,
      s"alpha ${r.getAs[Double]("alpha")}")
    assert(r.getAs[Double]("r2") >= 0.9999)
  }
}
