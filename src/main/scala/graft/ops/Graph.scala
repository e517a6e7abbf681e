package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Link-analysis surface: damped PageRank over an edge list — the graph
  * primitive next to connected components ([[connectedComponents]]). A
  * curation pipeline uses it to propagate authority/quality through a
  * similarity or co-occurrence graph ([[Similarity.knnGraph]] edges, a
  * citation/link graph, the co-purchase graph the registered query builds).
  *
  * Determinism discipline: the per-node contribution sum is the ONLY
  * order-sensitive reduction in PageRank, so contributions are cast to
  * DECIMAL(28,18) and summed exactly (the [[Helpers.dsum]] contract at
  * rank scale) — every other step is per-row double arithmetic on
  * identical operands. That makes 10 iterations bit-stable under ANY
  * partitioning AND reproducible in ANSI SQL, so the operator carries a
  * full value oracle (generated, iteration-unrolled — the
  * `minhashOracleSql` pattern).
  */
object Graph {

  /** Rounds between the rank checkpoints of [[pageRank]] and
    * [[personalizedPageRank]]; chosen in PERF_HISTORY r5 and its
    * re-sweep (5 read the same as 3). Each checkpoint is an eager job, and
    * on a small graph those fixed materializations dominate wall clock
    * (measured 10 → ~4 jobs cutting the registered query ~3×). */
  private val RankCheckpointEvery = 3

  /** What [[pageRank]] and [[personalizedPageRank]] share, each frame
    * materialized once. Weighted input is normalized by summing duplicate
    * (src, dst) weights (long-exact); unweighted input runs THROUGH the
    * weighted arithmetic with w ≡ 1 — r·1.0/W is bit-identical to r/W and
    * sum(1.0) to count, so the unweighted oracle is untouched. Dangling
    * nodes (no out-edges) are detected once with one cheap key-only
    * anti-join job; a symmetric graph has none and its rounds omit the
    * correction term entirely.
    */
  private final class RankGraph(edgeList: DataFrame, weightCol: Option[String]) {
    private val edges = Checkpoints((weightCol match {
      case Some(w) =>
        edgeList.select(col("src").cast("long"), col("dst").cast("long"),
            col(w).cast("long").as("w"))
          .groupBy("src", "dst").agg(sum("w").as("w"))
      case None =>
        edgeList.select(col("src").cast("long"), col("dst").cast("long"))
          .distinct()
          .withColumn("w", lit(1L))
    }))
    private val outdeg = edges.groupBy("src")
      .agg(sum("w").cast("double").as("outdeg"))
    val nodes: DataFrame = Checkpoints(edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct())
    private val dangling = Checkpoints(nodes
      .join(edges.select(col("src").as("node")).distinct(), Seq("node"), "left_anti"))
    val hasDangling: Boolean = dangling.limit(1).count() > 0

    /** (node, csum): the exact-decimal Σ_{u→v} r(u)·w/W(u) — the only
      * order-sensitive reduction of a round. */
    def contribs(ranks: DataFrame): DataFrame = edges
      .join(ranks.select(col("node").as("src"), col("rank")), "src")
      .join(outdeg, "src")
      .select(col("dst").as("node"),
        (col("rank") * col("w").cast("double") / col("outdeg"))
          .cast(DecimalType(28, 18)).as("c"))
      .groupBy("node")
      .agg(sum("c").as("csum"))

    /** The 1-row (dmass): exact-decimal rank sum over the dangling nodes,
      * crossed in as a broadcast (the dispersion/scalar-subquery BNLJ
      * pattern). */
    def danglingMass(ranks: DataFrame): DataFrame =
      ranks.join(dangling, Seq("node"), "left_semi")
        .agg(coalesce(sum(col("rank").cast(DecimalType(28, 18))), lit(0))
          .cast("double").as("dmass"))
  }

  /** Damped PageRank, `iters` fixed synchronous iterations:
    * r⁰ = 1/n;  r^{t+1}(v) = (1−d)/n + d·(Σ_{u→v} r^t(u)/outdeg(u) + D^t/n)
    * where D^t is the total rank on DANGLING nodes (no out-edges) —
    * the standard lost-mass redistribution, so ranks stay a probability
    * vector on arbitrary directed graphs. When there are none (every
    * symmetric graph, e.g. the registered co-purchase query) the
    * correction term is omitted ENTIRELY, leaving those plans — and their
    * oracle arithmetic — exactly as before. Weighted form: contribution
    * r_u · w_uv / W_u with W_u the weighted out-degree ([[RankGraph]]).
    *
    * Scale shape: edges are deduped and lineage-truncated
    * (localCheckpoint) once; each iteration is one join (edges ⋈ ranks on
    * src) + one aggregate keyed by dst — the same keyed-shuffle round as
    * label propagation, run by [[Rounds]] at a cadence of
    * [[RankCheckpointEvery]]. The node count and out-degrees are computed
    * once; `n` is a driver scalar (one construction job, the documented
    * [[Search.bm25]] trade).
    */
  def pageRank(edgeList: DataFrame, iters: Int = 10,
               damping: Double = 0.85, sorted: Boolean = true,
               weightCol: Option[String] = None): DataFrame = Checkpoints.owned {
    require(iters >= 1 && damping > 0 && damping < 1)
    val g = new RankGraph(edgeList, weightCol)
    val n = g.nodes.count().toDouble // construction job (see scaladoc)
    // both constants derived with the same double ops the oracle writes:
    // 1/n and (1 - d)/n — identical IEEE sequences on both engines
    val teleport = (1.0 - damping) / n
    val ranks = Rounds.run(g.nodes.withColumn("rank", lit(1.0 / n)), iters,
        RankCheckpointEvery) { (r, _) =>
      val base = g.nodes.join(g.contribs(r), Seq("node"), "left")
      if (!g.hasDangling)
        base.select(col("node"),
          (lit(teleport) + lit(damping) *
            coalesce(col("csum").cast("double"), lit(0.0))).as("rank"))
      else
        base.crossJoin(broadcast(g.danglingMass(r)))
          .select(col("node"),
            (lit(teleport) + lit(damping) *
              (coalesce(col("csum").cast("double"), lit(0.0)) +
                col("dmass") / lit(n))).as("rank"))
    }
    // the two engines' DECIMAL(28,18) casts round their last place
    // differently, leaving a bounded ~1e-18 absolute drift after any
    // number of iterations (each round re-quantizes, so it never
    // compounds past the quantization scale). Emitting 9 decimals (6
    // significant digits at 1/n rank magnitude) absorbs it with a
    // vanishing tie window — the round(x, 6) discipline at rank scale.
    val out = ranks.select(col("node"), round(col("rank"), 9).as("rank"))
    if (sorted) out.orderBy(col("rank").desc, col("node")) else out
  }

  /** The co-purchase graph the registered query ranks: symmetric bipartite
    * customer↔part edges from observed order lines. Part ids are offset
    * into their own key space so the two roles never collide. DISTINCT
    * pairs only — edge multiplicity is not PageRank weight.
    */
  def copurchaseEdges(orders: DataFrame, lineitem: DataFrame,
                      partOffset: Long = 10000000L,
                      from: String = "1996-01-01", until: String = "1997-01-01"): DataFrame = {
    val pairs = orders
      .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
        col("o_orderdate") < lit(until).cast("timestamp"))
      .select("o_orderkey", "o_custkey")
      .join(lineitem.select("l_orderkey", "l_partkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"),
        (col("l_partkey") + partOffset).as("part"))
      .distinct()
    pairs.select(col("cust").as("src"), col("part").as("dst"))
      .unionByName(pairs.select(col("part").as("src"), col("cust").as("dst")))
  }

  /** Personalized (seeded) PageRank: teleport mass lands ONLY on the seed
    * set — the topic-sensitive variant a curation pipeline uses to expand
    * a trusted seed set through a similarity/co-occurrence graph
    * (rank(v) becomes "proximity of v to the seeds").
    *
    *   r⁰(v) = s(v);  r^{t+1}(v) = (1−d)·s(v) + d·(Σ_{u→v} r·w/W + D·s(v))
    *
    * with s(v) = 1/|S| on seeds, 0 elsewhere; dangling mass D teleports
    * to the seeds too (the standard PPR convention — total mass stays 1).
    * Same determinism discipline as [[pageRank]] (decimal-exact
    * contribution and dangling sums, per-iteration requantization), the
    * same [[RankGraph]] setup and [[Rounds]] cadence, and the same
    * generated-oracle pattern ([[seededTradeRankOracleSql]]). Each keeps
    * its own update expression: (1−d)/n and (1−d)·s(v) round differently
    * in IEEE double, and each oracle replays its own.
    */
  def personalizedPageRank(edgeList: DataFrame, seeds: DataFrame, iters: Int = 10,
                           damping: Double = 0.85, sorted: Boolean = true,
                           weightCol: Option[String] = None): DataFrame = Checkpoints.owned {
    require(iters >= 1 && damping > 0 && damping < 1)
    val g = new RankGraph(edgeList, weightCol)
    // seed indicator restricted to graph nodes; |S| counts members only
    val seedNodes = Checkpoints(g.nodes.join(
      seeds.select(col("node").cast("long")).distinct(), Seq("node"), "left_semi"))
    val nSeeds = seedNodes.count().toDouble
    require(nSeeds > 0, "personalizedPageRank needs at least one seed present in the graph")
    val seedMass = 1.0 / nSeeds
    // s(v) as a column: 1/|S| on seeds else 0 — one broadcastable
    // key-only semi side per iteration plan, not a per-node literal
    def withSeedCol(df: DataFrame): DataFrame =
      df.join(seedNodes.withColumn("_isSeed", lit(true)), Seq("node"), "left")
        .withColumn("_s",
          when(col("_isSeed"), lit(seedMass)).otherwise(lit(0.0)))
        .drop("_isSeed")
    val init = withSeedCol(g.nodes).select(col("node"), col("_s").as("rank"))
    val ranks = Rounds.run(init, iters, RankCheckpointEvery) { (r, _) =>
      val base = withSeedCol(g.nodes.join(g.contribs(r), Seq("node"), "left"))
      if (!g.hasDangling)
        base.select(col("node"),
          ((lit(1.0) - lit(damping)) * col("_s") + lit(damping) *
            coalesce(col("csum").cast("double"), lit(0.0))).as("rank"))
      else
        base.crossJoin(broadcast(g.danglingMass(r)))
          .select(col("node"),
            ((lit(1.0) - lit(damping)) * col("_s") + lit(damping) *
              (coalesce(col("csum").cast("double"), lit(0.0)) +
                col("dmass") * col("_s"))).as("rank"))
    }
    val out = ranks.select(col("node"), round(col("rank"), 9).as("rank"))
    if (sorted) out.orderBy(col("rank").desc, col("node")) else out
  }

  /** Directed, WEIGHTED nation-trade graph: supplier-nation → customer-
    * nation edges weighted by line count. Genuinely exercises both the
    * weighted contribution (w/W_out) and — at small scale factors, where
    * some nations host customers but no shipping suppliers — the dangling
    * correction. ~25 nodes: graph analytics cost is iteration overhead,
    * not data, so this rides the bench cheaply while the co-purchase
    * query covers the larger-graph shape.
    */
  def tradeEdges(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
                 supplier: DataFrame): DataFrame =
    lineitem.select("l_orderkey", "l_suppkey")
      .join(broadcast(supplier.select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(orders.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))

  /** Generated DuckDB oracle for the WEIGHTED [[pageRank]] over
    * [[tradeEdges]]. The dangling term is written unconditionally: when
    * no dangling node exists it contributes exactly +0.0, which is
    * bit-invisible — so one SQL shape covers both operator branches.
    */
  def tradeRankOracleSql(iters: Int = 10, damping: Double = 0.85): String = {
    val d = damping.toString
    // each round reads r{i-1} twice (dangling mass + contributions), so
    // every round MUST be MATERIALIZED: DuckDB inlines plain CTEs per
    // reference and the chain would otherwise expand 2^iters-fold
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (SELECT node,
         |  (CAST(1.0 AS DOUBLE) - $d) / n + $d * (COALESCE(c, CAST(0.0 AS DOUBLE)) + dm / n) AS rank
         |  FROM nodes CROSS JOIN nn
         |  CROSS JOIN (SELECT COALESCE(CAST(SUM(CAST(r.rank AS DECIMAL(28,18))) AS DOUBLE),
         |                              CAST(0.0 AS DOUBLE)) AS dm
         |              FROM r${i - 1} r
         |              WHERE r.node NOT IN (SELECT src FROM edges)) dmt
         |  LEFT JOIN (SELECT dst AS cnode,
         |               CAST(SUM(CAST(r.rank * CAST(w AS DOUBLE) / outdeg AS DECIMAL(28,18))) AS DOUBLE) AS c
         |             FROM edges JOIN r${i - 1} r ON edges.src = r.node
         |             JOIN deg ON edges.src = deg.dsrc
         |             GROUP BY dst) s ON node = cnode)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT s_nationkey AS src, c_nationkey AS dst, COUNT(*) AS w
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  GROUP BY src, dst),
       |nodes AS (SELECT DISTINCT src AS node FROM edges
       |          UNION SELECT DISTINCT dst FROM edges),
       |deg AS (SELECT src AS dsrc, CAST(SUM(w) AS DOUBLE) AS outdeg
       |        FROM edges GROUP BY src),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
       |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS rank FROM nodes CROSS JOIN nn),
       |$iterCtes
       |SELECT node, round(rank, 9) AS rank FROM r$iters
       |ORDER BY round(rank, 9) DESC, node""".stripMargin
  }

  /** Generated DuckDB oracle for [[personalizedPageRank]] over
    * [[tradeEdges]] with the nations of one region as seeds. Seed mass
    * s(v) is written as the same CASE/division both engines compute;
    * dangling mass teleports to seeds (· s(v)), mirroring the operator.
    */
  def seededTradeRankOracleSql(iters: Int = 10, damping: Double = 0.85,
                               regionName: String = "ASIA"): String = {
    val d = damping.toString
    val sExpr = "CASE WHEN node IN (SELECT node FROM seeds) " +
      "THEN CAST(1.0 AS DOUBLE) / nseeds ELSE CAST(0.0 AS DOUBLE) END"
    // r{i-1} is read twice per round: MATERIALIZED, as in tradeRankOracleSql
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (SELECT sn.node,
         |  (CAST(1.0 AS DOUBLE) - $d) * s + $d * (COALESCE(c, CAST(0.0 AS DOUBLE)) + dm * s) AS rank
         |  FROM (SELECT node, $sExpr AS s FROM nodes CROSS JOIN ns) sn
         |  CROSS JOIN (SELECT COALESCE(CAST(SUM(CAST(r.rank AS DECIMAL(28,18))) AS DOUBLE),
         |                              CAST(0.0 AS DOUBLE)) AS dm
         |              FROM r${i - 1} r
         |              WHERE r.node NOT IN (SELECT src FROM edges)) dmt
         |  LEFT JOIN (SELECT dst AS cnode,
         |               CAST(SUM(CAST(r.rank * CAST(w AS DOUBLE) / outdeg AS DECIMAL(28,18))) AS DOUBLE) AS c
         |             FROM edges JOIN r${i - 1} r ON edges.src = r.node
         |             JOIN deg ON edges.src = deg.dsrc
         |             GROUP BY dst) cs ON sn.node = cs.cnode)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT s_nationkey AS src, c_nationkey AS dst, COUNT(*) AS w
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  GROUP BY src, dst),
       |nodes AS (SELECT DISTINCT src AS node FROM edges
       |          UNION SELECT DISTINCT dst FROM edges),
       |deg AS (SELECT src AS dsrc, CAST(SUM(w) AS DOUBLE) AS outdeg
       |        FROM edges GROUP BY src),
       |seeds AS MATERIALIZED (
       |  SELECT node FROM nodes
       |  WHERE node IN (SELECT n_nationkey FROM nation
       |                 JOIN region ON n_regionkey = r_regionkey
       |                 WHERE r_name = '$regionName')),
       |ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nseeds FROM seeds),
       |r0 AS (SELECT node, $sExpr AS rank FROM nodes CROSS JOIN ns),
       |$iterCtes
       |SELECT node, round(rank, 9) AS rank FROM r$iters
       |ORDER BY round(rank, 9) DESC, node""".stripMargin
  }

  /** Generated DuckDB oracle for [[pageRank]] over [[copurchaseEdges]] —
    * the iterations unrolled as chained CTEs (recursive CTEs cannot
    * aggregate in the recursive term), every arithmetic step written with
    * the exact double/decimal sequence the operator executes.
    */
  def pageRankOracleSql(iters: Int = 10, damping: Double = 0.85,
                        partOffset: Long = 10000000L): String = {
    val d = damping.toString
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (SELECT node,
         |  (CAST(1.0 AS DOUBLE) - $d) / n + $d * COALESCE(c, CAST(0.0 AS DOUBLE)) AS rank
         |  FROM nodes CROSS JOIN nn
         |  LEFT JOIN (SELECT dst AS cnode,
         |               CAST(SUM(CAST(r.rank / outdeg AS DECIMAL(28,18))) AS DOUBLE) AS c
         |             FROM edges JOIN r${i - 1} r ON edges.src = r.node
         |             JOIN deg ON edges.src = deg.dsrc
         |             GROUP BY dst) s ON node = cnode)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey AS cust, l_partkey + $partOffset AS part
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
       |    AND o_orderdate < TIMESTAMP '1997-01-01'),
       |edges AS (
       |  SELECT cust AS src, part AS dst FROM pairs
       |  UNION ALL
       |  SELECT part AS src, cust AS dst FROM pairs),
       |nodes AS (SELECT DISTINCT src AS node FROM edges
       |          UNION SELECT DISTINCT dst FROM edges),
       |deg AS (SELECT src AS dsrc, CAST(COUNT(*) AS DOUBLE) AS outdeg
       |        FROM edges GROUP BY src),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
       |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS rank FROM nodes CROSS JOIN nn),
       |$iterCtes
       |SELECT node, round(rank, 9) AS rank FROM r$iters
       |ORDER BY round(rank, 9) DESC, node""".stripMargin
  }

  /** HITS hubs & authorities (Kleinberg), `iters` fixed synchronous
    * iterations with L2 normalization after each half-step:
    *   a(v) = Σ_{u→v} h(u) / ‖·‖₂ ;  h(u) = Σ_{u→v} a(v) / ‖·‖₂
    * — the second link-analysis signal next to [[pageRank]]: authority
    * scores what good hubs point AT, hub scores what points at good
    * authorities; on a citation/trade/link graph the two separate
    * producers from routers where PageRank conflates them.
    *
    * Determinism discipline (the [[pageRank]] contract extended to the
    * two-phase update): both per-node sums AND both norm-of-squares sums
    * are DECIMAL(28,18)-exact, and sqrt is IEEE-754 correctly rounded on
    * every engine — so the whole iteration is bit-stable under any
    * partitioning and replayable in ANSI SQL ([[hitsOracleSql]], the
    * iteration-unrolled pattern).
    *
    * Scale shape: identical to [[pageRank]] — edges deduped and
    * lineage-truncated once; each half-step is one keyed join + one keyed
    * aggregate; norms are 1-row broadcasts. Checkpoints run EVERY
    * iteration, not pageRank's batched 3: a HITS round embeds its
    * predecessor ~4× (two score subtrees × two norm broadcasts), so an
    * un-truncated window of k rounds executes ~4^k nested broadcast
    * jobs — measured 2× wall at k=3 vs k=1 on the fixture graph — where
    * pageRank's factor is ≤2 and batching wins instead ([[Rounds]] at a
    * cadence of 1). Score frames
    * stay node-sparse: a node with no in-edges simply never gets an
    * authority (≡ score 0) and costs nothing in the joins; the final
    * output densifies with COALESCE.
    */
  def hits(edgeList: DataFrame, iters: Int = 10,
           sorted: Boolean = true): DataFrame = Checkpoints.owned {
    require(iters >= 1)
    val edges = Checkpoints(edgeList.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct())
    val nodes = Checkpoints(edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct())
    val dec = DecimalType(28, 18)
    // one round state (node, a, h): only h feeds the next round (a is
    // recomputed through h's plan), and the last round's a is the other
    // half of the output, so each round's ONE checkpoint holds both score
    // frames, full-outer-joined on node. A node with no in-edges has a
    // null a (≡ 0) and one with no out-edges a null h, which never meets
    // an edge's src.
    val init = nodes.select(col("node"), lit(0.0).as("a"), lit(1.0).as("h"))
    val scores = Rounds.run(init, iters) { (st, _) =>
      // ua/uh each feed two consumers (their norm and their normalized
      // projection) inside ONE plan — ReuseExchange dedupes the shared
      // join+agg shuffle, so no explicit persist is needed at any scale
      val ua = edges.join(st.select(col("node").as("src"), col("h")), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("h").cast(dec)).cast("double").as("ua"))
      val na = ua.agg(
        sqrt(sum((col("ua") * col("ua")).cast(dec)).cast("double")).as("na"))
      val aPlan = ua.crossJoin(broadcast(na))
        .select(col("node"), (col("ua") / col("na")).as("a"))
      val uh = edges.join(aPlan.select(col("node").as("dst"), col("a")), "dst")
        .groupBy(col("src").as("node"))
        .agg(sum(col("a").cast(dec)).cast("double").as("uh"))
      val nh = uh.agg(
        sqrt(sum((col("uh") * col("uh")).cast(dec)).cast("double")).as("nh"))
      val hPlan = uh.crossJoin(broadcast(nh))
        .select(col("node"), (col("uh") / col("nh")).as("h"))
      aPlan.join(hPlan, Seq("node"), "full_outer")
    }
    // densify: every node has at least one edge, so it has an authority
    // (in-edges) or a hub score (out-edges) in the last round's state;
    // same 9-decimal emission as pageRank
    val out = scores
      .select(col("node"),
        round(coalesce(col("a"), lit(0.0)), 9).as("authority"),
        round(coalesce(col("h"), lit(0.0)), 9).as("hub"))
    if (sorted) out.orderBy(col("authority").desc, col("node")) else out
  }

  /** Generated DuckDB oracle for [[hits]] over [[tradeEdges]]' key pairs —
    * iterations unrolled as chained CTEs, every decimal sum / sqrt /
    * division written in the operator's exact sequence.
    */
  def hitsTradeOracleSql(iters: Int = 10): String = {
    // every CTE is referenced twice (score join + its own norm), so each
    // MUST be MATERIALIZED: DuckDB inlines plain CTEs per reference and
    // the chain would otherwise expand 4^iters-fold
    val iterCtes = (1 to iters).map { i =>
      s"""a${i}u AS MATERIALIZED (SELECT dst AS node,
         |    CAST(SUM(CAST(h.h AS DECIMAL(28,18))) AS DOUBLE) AS ua
         |  FROM edges JOIN h${i - 1} h ON edges.src = h.node GROUP BY dst),
         |a$i AS MATERIALIZED (SELECT node, ua / na AS a FROM a${i}u CROSS JOIN
         |  (SELECT sqrt(CAST(SUM(CAST(ua * ua AS DECIMAL(28,18))) AS DOUBLE)) AS na
         |   FROM a${i}u)),
         |h${i}u AS MATERIALIZED (SELECT src AS node,
         |    CAST(SUM(CAST(a.a AS DECIMAL(28,18))) AS DOUBLE) AS uh
         |  FROM edges JOIN a$i a ON edges.dst = a.node GROUP BY src),
         |h$i AS MATERIALIZED (SELECT node, uh / nh AS h FROM h${i}u CROSS JOIN
         |  (SELECT sqrt(CAST(SUM(CAST(uh * uh AS DECIMAL(28,18))) AS DOUBLE)) AS nh
         |   FROM h${i}u))""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT DISTINCT s_nationkey AS src, c_nationkey AS dst
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey),
       |nodes AS (SELECT DISTINCT src AS node FROM edges
       |          UNION SELECT DISTINCT dst FROM edges),
       |h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS h FROM nodes),
       |$iterCtes
       |SELECT nodes.node,
       |       round(COALESCE(a.a, CAST(0.0 AS DOUBLE)), 9) AS authority,
       |       round(COALESCE(h.h, CAST(0.0 AS DOUBLE)), 9) AS hub
       |FROM nodes
       |LEFT JOIN a$iters a ON nodes.node = a.node
       |LEFT JOIN h$iters h ON nodes.node = h.node
       |ORDER BY round(COALESCE(a.a, CAST(0.0 AS DOUBLE)), 9) DESC, nodes.node""".stripMargin
  }

  /** Canonical undirected edge set: self-loops dropped, duplicate and
    * reversed rows collapsed to one `(a, b)` row with `a < b`. Every
    * triangle/wedge count below is defined over this set, so callers can
    * hand in raw directed multi-edges.
    */
  def canonicalEdges(edgeList: DataFrame): DataFrame =
    edgeList.select(
        least(col("src").cast("long"), col("dst").cast("long")).as("a"),
        greatest(col("src").cast("long"), col("dst").cast("long")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()

  /** Distinct co-occurrence edges between parts appearing in the same
    * order — the basket projection the registered triangle query censuses
    * (two parts are adjacent iff some order contains both). The pair
    * generation self-joins co-partitioned on the order key and is bounded
    * by the max basket size (a small constant per order), so pair volume
    * is a constant multiple of the lineitem scan — linear at any scale.
    * Windowed to one ship-date year by default (the [[copurchaseEdges]]
    * convention): the date predicate pushes to the parquet scan.
    */
  def basketEdges(lineitem: DataFrame,
                  from: String = "1996-01-01", until: String = "1997-01-01"): DataFrame = {
    val items = lineitem
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    // no pair-level distinct here: every consumer canonicalizes its edge
    // input ([[canonicalEdges]] dedups), so it would be a duplicate shuffle
    items.as("x")
      .join(items.as("y"), col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
      .select(col("x.p").as("src"), col("y.p").as("dst"))
  }

  /** Bounded BFS hop distance from a seed set: min-plus relaxation for
    * exactly `maxHops` synchronous rounds over the undirected canonical
    * graph — dist(v) = length of the shortest path to any seed, emitted
    * only for nodes within the cap (the "proximity to trusted seeds"
    * feature a curation pipeline joins back; [[personalizedPageRank]] is
    * its smooth analog, this is the exact hop count). The cap is a
    * SEMANTIC parameter, not a convergence heuristic: distance-beyond-H
    * is "not near", so operator and oracle both run exactly H relaxation
    * rounds and agree by construction.
    *
    * It IS [[shortestPaths]] over unit weights (`dist + w` with w = 1 is
    * `dist + 1`, and the cheapest of duplicate unit edges is the distinct
    * edge), and delegates to it.
    */
  def hopDistance(edgeList: DataFrame, seeds: DataFrame, maxHops: Int = 4): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    shortestPaths(edgeList.withColumn("w", lit(1L)), seeds, maxHops)
  }

  /** The `WITH items` CTE every basket-graph oracle starts from: one
    * ship-date window's distinct (order, part) items ([[basketEdges]]). */
  private def basketItemsCte(from: String, until: String): String =
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
       |               WHERE l_shipdate >= TIMESTAMP '$from'
       |                 AND l_shipdate < TIMESTAMP '$until')""".stripMargin

  /** [[basketItemsCte]] plus `e(a, b)`, the distinct canonical basket
    * edges ([[canonicalEdges]] of [[basketEdges]]). */
  private def basketEdgeCtes(from: String, until: String): String =
    s"""${basketItemsCte(from, until)},
       |e AS MATERIALIZED (
       |  SELECT DISTINCT x.p AS a, y.p AS b FROM items x
       |  JOIN items y ON x.ok = y.ok AND x.p < y.p)""".stripMargin

  /** The CTEs c1..c`rounds` of synchronous label propagation over `nbr`
    * from `c0`, as chained MATERIALIZED CTEs, the arg-max replayed as
    * `ROW_NUMBER() OVER (ORDER BY count DESC, label)` — [[communities]]'
    * rounds in the oracles that build on its labeling. */
  private def lpaRoundCtes(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT node, community FROM (
         |    SELECT node, community,
         |           ROW_NUMBER() OVER (PARTITION BY node
         |                              ORDER BY cnt DESC, community) AS rn
         |    FROM (SELECT n.node, l.community, COUNT(*) AS cnt
         |          FROM nbr n JOIN c${i - 1} l ON n.nb = l.node
         |          GROUP BY n.node, l.community))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  /** The CTEs d1..d`rounds` of synchronous min-plus relaxation from `d0`
    * over `e(a, b)` in both directions, each hop costing `w` — the
    * [[shortestPaths]] rounds, with `w = "1"` the [[hopDistance]] ones. */
  private def relaxCtes(rounds: Int, w: String): String =
    (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node, MIN(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.b AS node, d.dist + $w AS dist FROM e JOIN d${i - 1} d ON e.a = d.node
         |    UNION ALL
         |    SELECT e.a AS node, d.dist + $w AS dist FROM e JOIN d${i - 1} d ON e.b = d.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")

  /** Generated DuckDB oracle for [[hopDistance]] over [[basketEdges]]
    * with one brand's parts as seeds — the `maxHops` relaxation rounds
    * unrolled as chained MATERIALIZED CTEs.
    */
  def hopDistanceOracleSql(brand: String, maxHops: Int = 4,
                           from: String = "1996-01-01",
                           until: String = "1997-01-01"): String = {
    s"""${basketEdgeCtes(from, until)},
       |nodes AS (SELECT a AS node FROM e UNION SELECT b FROM e),
       |d0 AS MATERIALIZED (
       |  SELECT node, CAST(0 AS BIGINT) AS dist FROM nodes
       |  WHERE node IN (SELECT p_partkey FROM part WHERE p_brand = '$brand')),
       |${relaxCtes(maxHops, "1")}
       |SELECT node, dist FROM d$maxHops ORDER BY node""".stripMargin
  }

  /** Weighted single-source(-set) shortest paths: `rounds` synchronous
    * Bellman-Ford relaxations over an undirected weighted graph —
    * dist(v) = minimum total weight among paths from any seed to v using
    * at most `rounds` edges, emitted only for nodes reached within the
    * cap. The weighted generalization of [[hopDistance]] (which is this
    * operator with unit weights), and like it the round cap is a SEMANTIC
    * parameter — "reachable cheaply within H steps" — not a convergence
    * heuristic, so operator and oracle run exactly H relaxations and
    * agree by construction. Weights are LONGS: every relaxation sums
    * exactly, so min-of-sums is order-free and the value oracle is total
    * (a double weight would make tie-breaking float-order-dependent).
    * Duplicate/opposite-direction input edges keep the cheapest weight.
    *
    * Scale shape: per round two keyed edge⋈dist joins (one per
    * direction) + one map-side-combining MIN aggregate; the dist frame
    * stays frontier-sparse (only reached nodes exist); [[Rounds]] runs
    * the rounds.
    */
  def shortestPaths(weightedEdges: DataFrame, seeds: DataFrame,
                    rounds: Int = 4): DataFrame = Checkpoints.owned {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val edges = Checkpoints(weightedEdges.select(
        least(col("src").cast("long"), col("dst").cast("long")).as("a"),
        greatest(col("src").cast("long"), col("dst").cast("long")).as("b"),
        col("w").cast("long").as("w"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(min("w").as("w")))
    val nodes = edges.select(col("a").as("node"))
      .union(edges.select(col("b").as("node"))).distinct()
    val seeded = Checkpoints(nodes
      .join(seeds.select(col("node").cast("long")).distinct(), Seq("node"), "left_semi")
      .withColumn("dist", lit(0L)))
    val dist = Rounds.run(seeded, rounds) { (d, _) =>
      val viaA = edges.join(d.select(col("node").as("a"), col("dist")), "a")
        .select(col("b").as("node"), (col("dist") + col("w")).as("dist"))
      val viaB = edges.join(d.select(col("node").as("b"), col("dist")), "b")
        .select(col("a").as("node"), (col("dist") + col("w")).as("dist"))
      d.unionByName(viaA).unionByName(viaB)
        .groupBy("node").agg(min("dist").as("dist"))
    }
    dist.orderBy("node")
  }

  /** Co-purchase PROXIMITY weights for [[shortestPaths]] over the basket
    * graph: per canonical pair, cnt = number of orders containing both
    * parts, weight = (max cnt over all pairs) + 1 − cnt — an exact-integer
    * monotone inverse of tie strength, so strongly co-purchased parts are
    * CLOSE and the cheapest path is the strongest chain of associations.
    * The max is a 1-row broadcast (the dispersion/scalar-subquery
    * pattern); everything else is the [[basketEdges]] pair aggregate.
    */
  def basketProximityEdges(lineitem: DataFrame,
                           from: String = "1996-01-01",
                           until: String = "1997-01-01"): DataFrame = {
    val cnt = basketEdges(lineitem, from, until)
      .groupBy(col("src").as("a"), col("dst").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val mx = cnt.agg(max(col("cnt")).as("m"))
    cnt.crossJoin(broadcast(mx))
      .select(col("a").as("src"), col("b").as("dst"),
        (col("m") + 1 - col("cnt")).as("w"))
  }

  /** Generated DuckDB oracle for [[shortestPaths]] over
    * [[basketProximityEdges]] with one brand's parts as seeds — the
    * weighted twin of [[hopDistanceOracleSql]]'s unrolled relaxations.
    */
  def shortestPathsOracleSql(brand: String, rounds: Int = 4,
                             from: String = "1996-01-01",
                             until: String = "1997-01-01"): String = {
    s"""${basketItemsCte(from, until)},
       |ep AS MATERIALIZED (
       |  SELECT x.p AS a, y.p AS b, CAST(COUNT(*) AS BIGINT) AS cnt FROM items x
       |  JOIN items y ON x.ok = y.ok AND x.p < y.p GROUP BY 1, 2),
       |mx AS (SELECT MAX(cnt) AS m FROM ep),
       |e AS MATERIALIZED (SELECT a, b, m + 1 - cnt AS w FROM ep, mx),
       |nodes AS (SELECT a AS node FROM e UNION SELECT b FROM e),
       |d0 AS MATERIALIZED (
       |  SELECT node, CAST(0 AS BIGINT) AS dist FROM nodes
       |  WHERE node IN (SELECT p_partkey FROM part WHERE p_brand = '$brand')),
       |${relaxCtes(rounds, "e.w")}
       |SELECT node, dist FROM d$rounds ORDER BY node""".stripMargin
  }

  /** k-core extraction: the maximal subgraph in which every node has
    * degree ≥ k, by synchronous peeling — each round recomputes degrees
    * over the surviving subgraph and drops nodes below k, until a round
    * drops nobody (the classic density/spam filter: nodes that only
    * connect to peeled periphery peel too, so a k-core member's support
    * is itself k-core). Output: the core's nodes with their IN-CORE
    * degrees.
    *
    * Scale shape: each round is two semi-joins (edge endpoints against the
    * survivor set) + one map-side-combining degree aggregate — all keyed
    * shuffles on the edge partitioning established once up front; the
    * driver sees one survivor COUNT per round (the [[Rounds.fixpoint]]
    * probe, shared with [[connectedComponents]]) and the kernel THROWS
    * past `maxIters` rather than silently returning a non-fixpoint. Peel
    * depth, not diameter, bounds the rounds; the registered basket query
    * converges in 2-3 rounds at every fixture scale (measured), and the
    * generated oracle unrolls a fixed 10 — extra rounds past the fixpoint
    * are no-ops, so the two agree whenever the operator converges within the
    * unrolled rounds. Registered `maxIters` must therefore equal the
    * oracle's `rounds` (the registration pins both to 10): with a larger
    * maxIters, a corpus converging in rounds 11..maxIters would succeed
    * here while the oracle silently returned a non-fixpoint.
    */
  def kCore(edgeList: DataFrame, k: Int, maxIters: Int = 20): DataFrame = Checkpoints.owned {
    require(k >= 1 && maxIters >= 1, s"need k >= 1 and maxIters >= 1, got $k/$maxIters")
    val edges = Checkpoints(canonicalEdges(edgeList))
    val all = Checkpoints(edges.select(col("a").as("node"))
      .union(edges.select(col("b").as("node"))).distinct()
      .withColumn("deg", lit(-1L))) // placeholder; replaced by round 1
    val core = Rounds.fixpoint(s"kCore(k=$k)", all, maxIters,
        initProbe = Some(all.count()))(_.count()) { survivors =>
      val aliveKeys = survivors.select("node")
      val live = edges
        .join(aliveKeys.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(aliveKeys.select(col("node").as("b")), Seq("b"), "left_semi")
      live.select(col("a").as("node"))
        .unionByName(live.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
    }
    core.orderBy("node")
  }

  /** Generated DuckDB oracle for [[kCore]] over [[basketEdges]]: `rounds`
    * fixed peel rounds unrolled as chained MATERIALIZED CTEs (each alive
    * set is read three times — both endpoint filters and the next round).
    */
  def kCoreBasketOracleSql(k: Int, rounds: Int = 10,
                           from: String = "1996-01-01",
                           until: String = "1997-01-01"): String = {
    val iterCtes = (1 to rounds).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |    SELECT a AS node FROM e
         |    WHERE a IN (SELECT node FROM a${i - 1}) AND b IN (SELECT node FROM a${i - 1})
         |    UNION ALL
         |    SELECT b FROM e
         |    WHERE a IN (SELECT node FROM a${i - 1}) AND b IN (SELECT node FROM a${i - 1}))
         |  GROUP BY node HAVING COUNT(*) >= $k)""".stripMargin
    }.mkString(",\n")
    s"""${basketEdgeCtes(from, until)},
       |a0 AS MATERIALIZED (SELECT a AS node FROM e UNION SELECT b FROM e),
       |$iterCtes
       |SELECT node, deg FROM a$rounds ORDER BY node""".stripMargin
  }

  /** Community detection by synchronous label propagation (Raghavan et al.
    * 2007, the RAK algorithm): every node starts as its own label; each
    * round, every node simultaneously adopts the most frequent label among
    * its neighbors, ties broken toward the SMALLEST label — the
    * deterministic restatement of the paper's random tie-break, so a fixed
    * round count yields one reproducible labeling on both engines (the
    * [[hopDistance]] philosophy: the round count is a semantic parameter,
    * not a convergence heuristic — synchronous LPA can 2-cycle on
    * bipartite-ish structure, so "run R rounds" is the contract and
    * operator and oracle agree by construction). Output: `(node,
    * community)` where the community id is the surviving label.
    *
    * Scale shape: each round is two keyed edge⋈label joins (one
    * per direction of the undirected canonical edge set) + one combining
    * (node, label) count + one per-node arg-max folded into a single
    * `min(struct(-count, label))` aggregate — NO window sort anywhere;
    * [[Rounds]] runs the rounds at a cadence of 2. Label volume per
    * round is exactly one row per (node, distinct-neighbor-label) pair,
    * bounded by the edge count — linear at any scale.
    */
  def communities(edgeList: DataFrame, rounds: Int = 4,
                  sorted: Boolean = true): DataFrame = Checkpoints.owned {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val edges = Checkpoints(canonicalEdges(edgeList))
    val own = Checkpoints(edges.select(col("a").as("node"))
      .union(edges.select(col("b").as("node"))).distinct()
      .withColumn("community", col("node")))
    // checkpoint every 2 rounds (r16): an LPA round embeds the previous
    // labeling TWICE (viaA + viaB), so a 2-round window executes 2² = 4
    // copies of the last checkpoint — the pageRank cadence trade (its
    // nesting factor is also ≤2), NOT the HITS one (×4 nesting forces
    // per-round checkpoints there)
    val labels = Rounds.run(own, rounds, every = 2) { (lab, _) =>
      val viaA = edges
        .join(lab.select(col("node").as("a"), col("community")), "a")
        .select(col("b").as("node"), col("community"))
      val viaB = edges
        .join(lab.select(col("node").as("b"), col("community")), "b")
        .select(col("a").as("node"), col("community"))
      viaA.unionByName(viaB)
        .groupBy("node", "community").agg(count(lit(1)).as("c"))
        .groupBy("node")
        .agg(min(struct((-col("c")).as("nc"), col("community").as("lab"))).as("m"))
        .select(col("node"), col("m.lab").as("community"))
    }
    if (sorted) labels.orderBy("node") else labels
  }

  /** Generated DuckDB oracle for [[communities]] over [[basketEdges]]:
    * `rounds` synchronous label-propagation rounds unrolled as chained
    * MATERIALIZED CTEs, arg-max replayed as `ROW_NUMBER() OVER (ORDER BY
    * count DESC, label)`.
    */
  def communitiesBasketOracleSql(rounds: Int = 4,
                                 from: String = "1996-01-01",
                                 until: String = "1997-01-01"): String = {
    s"""${basketEdgeCtes(from, until)},
       |nbr AS MATERIALIZED (
       |  SELECT a AS node, b AS nb FROM e UNION ALL SELECT b, a FROM e),
       |c0 AS MATERIALIZED (SELECT DISTINCT node, node AS community FROM nbr),
       |${lpaRoundCtes(rounds)}
       |SELECT node, community FROM c$rounds ORDER BY node""".stripMargin
  }

  /** Newman modularity of a node labeling over the undirected canonical
    * graph — the quality score a user checks BEFORE trusting a
    * [[communities]] partition for source-mixture decisions:
    * Q = Σ_c (e_c/m − (d_c/2m)²), where m is the (distinct canonical) edge
    * count, e_c the intra-community edge count and d_c the total degree of
    * community c. Q ≈ 0 for a labeling no better than random (or one giant
    * community), approaches 1 for dense well-separated modules. Output is
    * one row: `(n_communities, n_intra_edges, modularity)`.
    *
    * Determinism: m, the intra count, and Σd_c² are exact integer/decimal
    * aggregates (order-independent); Σd_c² sums in DECIMAL(38,0) so a
    * 100 TB graph's squared degrees cannot overflow a long. Only the final
    * two divisions run in double — one expression both engines replay
    * bit-identically (round(·, 6) discipline, [[triangleStats]]).
    *
    * Scale shape: one edges⋈labels⋈labels join folded into a 1-row
    * aggregate, one degree aggregate joined to labels and reduced to a
    * second 1-row aggregate, then a broadcast cross of the two single rows
    * — every step a keyed shuffle or a 1-row broadcast, nothing collected.
    * The labels frame is read three times; callers holding an expensive
    * labeling (an iterative [[communities]] run) should pass the operator
    * its checkpointed output — the registered query does.
    */
  def modularity(edgeList: DataFrame, labels: DataFrame): DataFrame = {
    val e = Checkpoints(canonicalEdges(edgeList))
    val lab = labels.select(col("node").cast("long").as("node"),
      col("community").cast("long").as("community"))
    val em = e
      .join(lab.select(col("node").as("a"), col("community").as("ca")), "a")
      .join(lab.select(col("node").as("b"), col("community").as("cb")), "b")
      .agg(count(lit(1)).as("m"),
        coalesce(sum(when(col("ca") === col("cb"), 1L).otherwise(0L)), lit(0L))
          .as("intra"))
    val dsq = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .join(lab, "node")
      .groupBy("community").agg(sum(col("deg")).as("d"))
      .agg(count(lit(1)).as("n_communities"),
        coalesce(sum(col("d").cast(DecimalType(18, 0)) *
          col("d").cast(DecimalType(18, 0))), lit(0).cast(DecimalType(38, 0)))
          .as("sdd"))
    val md = greatest(col("m").cast("double"), lit(1.0))
    em.crossJoin(broadcast(dsq))
      .select(col("n_communities"), col("intra").as("n_intra_edges"),
        round(col("intra").cast("double") / md -
          col("sdd").cast("double") / (lit(4.0) * md * md), 6).as("modularity"))
  }

  /** Generated DuckDB oracle for [[modularity]] over the
    * [[communities]]-labeled basket graph: the same `rounds` unrolled LPA
    * CTEs as [[communitiesBasketOracleSql]], then the modularity arithmetic
    * replayed — integer aggregates (HUGEINT for Σd²), double only in the
    * final rounded expression.
    */
  def modularityBasketOracleSql(rounds: Int = 4,
                                from: String = "1996-01-01",
                                until: String = "1997-01-01"): String = {
    s"""${basketEdgeCtes(from, until)},
       |nbr AS MATERIALIZED (
       |  SELECT a AS node, b AS nb FROM e UNION ALL SELECT b, a FROM e),
       |c0 AS MATERIALIZED (SELECT DISTINCT node, node AS community FROM nbr),
       |${lpaRoundCtes(rounds)},
       |lab AS MATERIALIZED (SELECT node, community FROM c$rounds),
       |em AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
       |              CAST(SUM(CASE WHEN la.community = lb.community
       |                            THEN 1 ELSE 0 END) AS BIGINT) AS intra
       |       FROM e JOIN lab la ON e.a = la.node
       |              JOIN lab lb ON e.b = lb.node),
       |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM nbr GROUP BY node),
       |dc AS (SELECT l.community, SUM(d.deg) AS d
       |       FROM deg d JOIN lab l ON d.node = l.node GROUP BY l.community),
       |dsq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       |               SUM(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS sdd
       |        FROM dc)
       |SELECT n_communities, intra AS n_intra_edges,
       |       round(CAST(intra AS DOUBLE) / greatest(CAST(m AS DOUBLE), 1.0) -
       |             CAST(sdd AS DOUBLE) / (4.0 * greatest(CAST(m AS DOUBLE), 1.0)
       |                                        * greatest(CAST(m AS DOUBLE), 1.0)),
       |             6) AS modularity
       |FROM em, dsq""".stripMargin
  }

  /** Louvain-style local-move refinement of a community labeling — the
    * modularity ASCENT step on top of [[communities]] (which proposes
    * labelings) and [[modularity]] (which grades them): each round, every
    * node considers its neighbors' communities and adopts the one with the
    * best exact modularity gain, or stays. `rounds` fixed synchronous
    * rounds (the [[communities]] contract), so operator and oracle replay
    * identical decisions.
    *
    * Gain arithmetic is EXACT: moving v to community c changes Q by
    * (k_{v,c} − k_{v,cur})/m − deg_v·(d'_c − d'_cur)/(2m²) with d'_c the
    * community degree sum excluding v when v ∈ c — so argmax_c of
    * score(c) = 2m·k_{v,c} − deg_v·d'_c, an INTEGER (computed in
    * DECIMAL(38,0): 2m·k at 1e14 edges is ~1e28, overflow-free), decides
    * the move with no floating point anywhere. Ties prefer staying, then
    * the smallest community id — fully deterministic.
    *
    * Synchronous local moves can 2-swap forever (two adjacent nodes
    * trading communities each round — the [[communities]] bipartite
    * oscillation in gain form), so moves carry the standard parallel-
    * Louvain swap guard (Lu, Halappanavar & Kalyanaraman 2015, "Parallel
    * heuristics for scalable community detection"): a node may only move
    * to a community with a SMALLER id than its current one. Swaps need
    * one node moving up, so no swap cycle survives the guard; the ascent
    * direction is preserved because any positive-gain 2-swap has a
    * positive-gain smaller-id half.
    *
    * The rounds are [[localMoves]] over unit weights (Σw over 1s is the
    * neighbor count k_{v,c}) — the move round [[louvainCoarsen]] runs on
    * the weighted coarse graph. Scale shape per round: one nbr⋈labels
    * join + aggregate for k_{v,c}, one degree⋈labels aggregate for d_c, a
    * keyed candidate join and one min(struct) argmax. m, deg are computed
    * once from the checkpointed edge set.
    */
  def refineCommunities(edgeList: DataFrame, labels: DataFrame,
                        rounds: Int = 2, sorted: Boolean = true): DataFrame = Checkpoints.owned {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val edges = Checkpoints(canonicalEdges(edgeList))
    val m = edges.count() // one job over already-checkpointed blocks
    val nbr = edges.select(col("a").as("node"), col("b").as("nb"))
      .unionByName(edges.select(col("b").as("node"), col("a").as("nb")))
      .withColumn("w", lit(1L))
    val deg = Checkpoints(nbr.groupBy("node").agg(count(lit(1)).as("deg")))
    val lab = Checkpoints(labels.select(col("node").cast("long").as("node"),
      col("community").cast("long").as("community")))
    val moved = localMoves(nbr, deg, lab, m, rounds)
    if (sorted) moved.orderBy("node") else moved
  }

  /** `rounds` synchronous local-move rounds over a weighted neighbor
    * relation — the move round of [[refineCommunities]] (unit weights) and
    * [[louvainCoarsen]] (coarse-graph weights), with the former's exact
    * integer score, swap guard and (stay, smallest-id) tie order. `nbr` is
    * (node, nb, w) with every undirected edge in both directions, `deg`
    * (node, deg) the weighted degree, `m` the total edge weight.
    */
  private def localMoves(nbr: DataFrame, deg: DataFrame, init: DataFrame,
                         m: Long, rounds: Int): DataFrame = {
    val dec = DecimalType(38, 0)
    val twoM = lit(m).cast(dec) * lit(2)
    Rounds.run(init, rounds) { (lab, _) =>
      val dc = lab.join(deg, "node")
        .groupBy("community").agg(sum(col("deg")).as("d"))
      val k = nbr
        .join(lab.select(col("node").as("nb"), col("community").as("c")), "nb")
        .groupBy("node", "c").agg(sum(col("w")).as("k"))
      // the current community rides the candidate set with k >= 0 (a node
      // may have no remaining neighbor in it), via a max-merge of a 0-row
      val cand = k
        .unionByName(lab.select(col("node"), col("community").as("c"),
          lit(0L).as("k")))
        .groupBy("node", "c").agg(max(col("k")).as("k"))
      val scored = cand
        .join(lab, "node")
        .filter(col("c") <= col("community")) // swap guard: stay or move down
        .join(deg, "node")
        .join(dc.select(col("community").as("c"), col("d")), "c")
        .select(col("node"), col("c"),
          (twoM * col("k").cast(dec) -
            col("deg").cast(dec) * (col("d").cast(dec) -
              when(col("c") === col("community"), col("deg"))
                .otherwise(lit(0L)).cast(dec))).as("score"),
          when(col("c") === col("community"), 0).otherwise(1).as("not_cur"))
      scored.groupBy("node")
        .agg(min(struct((-col("score")).as("ns"), col("not_cur").as("nc"),
          col("c").as("lab"))).as("m"))
        .select(col("node"), col("m.lab").as("community"))
    }
  }

  /** Generated DuckDB oracle for [[refineCommunities]] over the
    * [[communities]]-labeled basket graph: the `lpaRounds` unrolled LPA
    * CTEs, then `moveRounds` unrolled local-move rounds — the same
    * integer score, swap guard and (stay, smallest-id) tie order replayed
    * via ROW_NUMBER.
    */
  def louvainBasketOracleSql(lpaRounds: Int = 4, moveRounds: Int = 2,
                             from: String = "1996-01-01",
                             until: String = "1997-01-01"): String = {
    val moveCtes = (1 to moveRounds).map { i =>
      val prev = if (i == 1) s"c$lpaRounds" else s"l${i - 1}"
      s"""dc$i AS (SELECT l.community, SUM(CAST(d.deg AS HUGEINT)) AS d
         |         FROM deg d JOIN $prev l ON d.node = l.node
         |         GROUP BY l.community),
         |k$i AS (SELECT n.node, l.community AS c, CAST(COUNT(*) AS HUGEINT) AS k
         |        FROM nbr n JOIN $prev l ON n.nb = l.node
         |        GROUP BY n.node, l.community),
         |cand$i AS (SELECT node, c, MAX(k) AS k FROM (
         |             SELECT node, c, k FROM k$i
         |             UNION ALL
         |             SELECT node, community AS c, CAST(0 AS HUGEINT) AS k
         |             FROM $prev)
         |           GROUP BY node, c),
         |sc$i AS (SELECT cand.node, cand.c,
         |                2 * mm.m * cand.k - CAST(deg.deg AS HUGEINT) *
         |                  (dc.d - CASE WHEN cand.c = l.community
         |                               THEN deg.deg ELSE 0 END) AS score,
         |                CASE WHEN cand.c = l.community THEN 0 ELSE 1 END AS not_cur
         |         FROM cand$i cand
         |         JOIN $prev l ON cand.node = l.node
         |         JOIN deg ON cand.node = deg.node
         |         JOIN dc$i dc ON cand.c = dc.community
         |         CROSS JOIN mm
         |         WHERE cand.c <= l.community),
         |l$i AS MATERIALIZED (
         |  SELECT node, c AS community FROM (
         |    SELECT node, c, ROW_NUMBER() OVER (PARTITION BY node
         |             ORDER BY score DESC, not_cur ASC, c ASC) AS rn
         |    FROM sc$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""${basketEdgeCtes(from, until)},
       |nbr AS MATERIALIZED (
       |  SELECT a AS node, b AS nb FROM e UNION ALL SELECT b, a FROM e),
       |deg AS MATERIALIZED (
       |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM nbr GROUP BY node),
       |mm AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM e),
       |c0 AS MATERIALIZED (SELECT DISTINCT node, node AS community FROM nbr),
       |${lpaRoundCtes(lpaRounds)},
       |$moveCtes
       |SELECT node, community FROM l$moveRounds ORDER BY node""".stripMargin
  }

  /** One MORE Louvain level on top of a refined labeling — the coarsening
    * step [[refineCommunities]] deliberately omitted (and the r14 review
    * named as the next gap): communities become SUPERNODES, parallel
    * edges collapse to weights, intra-community edges to self-loops, and
    * the same exact-integer local-move ascent runs on the weighted coarse
    * graph (modularity over the coarse graph with m unchanged equals
    * modularity over the original — the classic Louvain invariant, Blondel
    * et al. 2008). This unlocks exactly the moves single-node rounds
    * cannot make: merging WHOLE communities whose pairwise gain is
    * positive while every individual member is better off staying
    * (spec-asserted on a closed-form bridged-cliques fixture where level
    * 1 stalls and this level strictly improves Q).
    *
    * Weighted gain arithmetic stays exact: k_{V,C} = Σ edge weights from
    * supernode V to community C, deg_V the weighted degree (self-loops
    * count twice), all integers in DECIMAL(38,0); the move round is
    * [[refineCommunities]]' own ([[localMoves]]).
    *
    * Scale shape: the coarse graph is |communities|-sized — the
    * coarsening aggregate over the edge table is the only full-scale
    * work; every move round then shuffles the tiny super-graph. Output:
    * original node → final coarse community.
    */
  def louvainCoarsen(edgeList: DataFrame, labels: DataFrame,
                     rounds: Int = 2, sorted: Boolean = true): DataFrame = Checkpoints.owned {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val lab = Checkpoints(labels.select(col("node").cast("long").as("node"),
      col("community").cast("long").as("community")))
    // coarsen: (community(a), community(b)) with multiplicity; canonical
    // least/greatest keeps one row per unordered super-pair, self-loops
    // carry the intra-community edge mass. The ONLY full-scale pass —
    // canonical edges are consumed exactly once, so they are not
    // re-materialized (m comes from the coarse table: Σw ≡ |E|).
    val ce = Checkpoints(canonicalEdges(edgeList)
      .join(lab.select(col("node").as("a"), col("community").as("_ca")), "a")
      .join(lab.select(col("node").as("b"), col("community").as("_cb")), "b")
      .select(least(col("_ca"), col("_cb")).as("a"),
        greatest(col("_ca"), col("_cb")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w")))
    val m = ce.agg(coalesce(sum("w"), lit(0L)).as("m")).head().getLong(0)
    // nbr/clab0 are narrow projections of checkpointed frames — their
    // re-evaluation per consumer is a block read, not a recompute, so
    // only ce and deg (each behind an aggregate) hold checkpoints
    val cross = ce.filter(col("a") =!= col("b"))
    val nbr = cross.select(col("a").as("node"), col("b").as("nb"), col("w"))
      .unionByName(cross.select(col("b").as("node"), col("a").as("nb"), col("w")))
    // weighted degree: cross edges once per direction, self-loops twice
    val deg = Checkpoints(nbr.select(col("node"), col("w"))
      .unionByName(ce.filter(col("a") === col("b"))
        .select(col("a").as("node"), (col("w") * 2).as("w")))
      .groupBy("node").agg(sum("w").as("deg")))
    // every supernode starts as its own community (standard Louvain)
    val clab = localMoves(nbr, deg, deg.select(col("node"), col("node").as("community")),
      m, rounds)
    // map original nodes through their level-1 community to its final one.
    // LEFT join (r16, from the r15 ADVICE): the coarse graph only contains
    // communities with at least one incident edge in edgeList, so a label
    // whose community is edgeless (isolated nodes carried in `labels`)
    // has no clab row — an inner join silently dropped such nodes from
    // the output. An edgeless community can never gain from a move, so
    // its final community IS its level-1 id: coalesce to _cn.
    val out = Checkpoints(lab.select(col("node"), col("community").as("_cn"))
      .join(clab.select(col("node").as("_cn"), col("community")), Seq("_cn"), "left")
      .select(col("node"), coalesce(col("community"), col("_cn")).as("community")))
    if (sorted) out.orderBy("node") else out
  }

  /** Generated DuckDB oracle for the registered two-level Louvain over
    * the basket graph: [[louvainBasketOracleSql]]'s unrolled LPA + local
    * moves, then the coarsening aggregate and `coarseRounds` unrolled
    * WEIGHTED move rounds — identical integer scores, swap guard and tie
    * order, mapped back through the level-1 labeling.
    */
  def louvainMultilevelBasketOracleSql(lpaRounds: Int = 4, moveRounds: Int = 2,
                                       coarseRounds: Int = 2,
                                       from: String = "1996-01-01",
                                       until: String = "1997-01-01"): String = {
    val base = louvainBasketOracleSql(lpaRounds, moveRounds, from, until)
    val prefix = base.substring(0, base.lastIndexOf("SELECT node, community"))
    val lvl1 = s"l$moveRounds"
    val wCtes = (1 to coarseRounds).map { i =>
      val prev = if (i == 1) "w0" else s"w${i - 1}"
      s"""wdc$i AS (SELECT l.community, SUM(CAST(d.deg AS HUGEINT)) AS d
         |          FROM wdeg d JOIN $prev l ON d.node = l.node
         |          GROUP BY l.community),
         |wk$i AS (SELECT n.node, l.community AS c, CAST(SUM(n.w) AS HUGEINT) AS k
         |         FROM wnbr n JOIN $prev l ON n.nb = l.node
         |         GROUP BY n.node, l.community),
         |wcand$i AS (SELECT node, c, MAX(k) AS k FROM (
         |              SELECT node, c, k FROM wk$i
         |              UNION ALL
         |              SELECT node, community AS c, CAST(0 AS HUGEINT) AS k
         |              FROM $prev)
         |            GROUP BY node, c),
         |wsc$i AS (SELECT cand.node, cand.c,
         |                 2 * mm.m * cand.k - CAST(wdeg.deg AS HUGEINT) *
         |                   (wdc.d - CASE WHEN cand.c = l.community
         |                                 THEN wdeg.deg ELSE 0 END) AS score,
         |                 CASE WHEN cand.c = l.community THEN 0 ELSE 1 END AS not_cur
         |          FROM wcand$i cand
         |          JOIN $prev l ON cand.node = l.node
         |          JOIN wdeg ON cand.node = wdeg.node
         |          JOIN wdc$i wdc ON cand.c = wdc.community
         |          CROSS JOIN mm
         |          WHERE cand.c <= l.community),
         |w$i AS MATERIALIZED (
         |  SELECT node, c AS community FROM (
         |    SELECT node, c, ROW_NUMBER() OVER (PARTITION BY node
         |             ORDER BY score DESC, not_cur ASC, c ASC) AS rn
         |    FROM wsc$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""${prefix.trim},
       |sup AS MATERIALIZED (
       |  SELECT least(la.community, lb.community) AS a,
       |         greatest(la.community, lb.community) AS b,
       |         CAST(COUNT(*) AS HUGEINT) AS w
       |  FROM e JOIN $lvl1 la ON e.a = la.node
       |  JOIN $lvl1 lb ON e.b = lb.node
       |  GROUP BY 1, 2),
       |wnbr AS MATERIALIZED (
       |  SELECT a AS node, b AS nb, w FROM sup WHERE a <> b
       |  UNION ALL SELECT b, a, w FROM sup WHERE a <> b),
       |wdeg AS MATERIALIZED (
       |  SELECT node, SUM(w) AS deg FROM (
       |    SELECT node, w FROM wnbr
       |    UNION ALL SELECT a AS node, 2 * w AS w FROM sup WHERE a = b)
       |  GROUP BY node),
       |w0 AS MATERIALIZED (SELECT node, node AS community FROM wdeg),
       |$wCtes
       |SELECT l.node, w.community
       |FROM $lvl1 l JOIN w$coarseRounds w ON l.community = w.node
       |ORDER BY l.node""".stripMargin
  }

  /** Connected components of the undirected canonical graph, run to
    * CONVERGENCE (not a fixed round count): every node is labeled with
    * the minimum node id reachable from it. [[communities]] answers
    * "which dense module"; this answers "which component" — the exact
    * partition leakage-safe train/eval splits and transitive duplicate
    * closures key on.
    *
    * Algorithm: PRAM-style min-label propagation WITH POINTER JUMPING.
    * Each round first relaxes labels across edges
    * (label(v) ← min over {v} ∪ Γ(v)), then shortcuts through the label
    * relation itself (label(v) ← label(label(v))) — valid because a label
    * is always the id of a node already known connected to v, so adopting
    * THAT node's label stays within the component. The shortcut step
    * collapses label chains geometrically: convergence in O(log diameter)
    * rounds instead of plain propagation's O(diameter) — on a path graph
    * of length 1000 that is ~10 rounds, not 1000 (spec-pinned).
    *
    * Convergence is detected exactly and cheaply: per node the label is
    * monotone non-increasing and bounded below by the component minimum,
    * so Σ labels (DECIMAL(38,0) — overflow-free at any node count)
    * strictly decreases every round until the global fixpoint — one
    * scalar aggregate action per round, no row-level diff join. At the
    * fixpoint the relaxation leaves every label ≤ its neighbors' labels,
    * forcing labels constant across each edge, hence constant per
    * component; that constant is a node whose own label is itself and is
    * ≤ the component minimum's label — i.e. the minimum.
    *
    * Scale shape per round: two keyed edge⋈label joins + one
    * map-side-combining MIN aggregate + one label⋈label self-join keyed
    * on the label value, over the once-checkpointed edge set, run by
    * [[Rounds.fixpoint]] with Σ labels as its probe. `maxIters` is a
    * safety fence, not a semantic knob: the operator THROWS
    * (IllegalStateException, as [[kCore]] does) if the fixpoint is not
    * reached rather than returning a partial labeling
    * (2·log₂(n) pointer-jumped rounds cover any graph; 64 covers n = 2⁶⁴
    * nodes).
    */
  def connectedComponents(edgeList: DataFrame, maxIters: Int = 64,
                          sorted: Boolean = true): DataFrame = Checkpoints.owned {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val edges = Checkpoints(canonicalEdges(edgeList))
    val own = Checkpoints(edges.select(col("a").as("node"))
      .union(edges.select(col("b").as("node"))).distinct()
      .withColumn("comp", col("node")))
    val labels = Rounds.fixpoint("connectedComponents", own, maxIters)(
        _.agg(sum(col("comp").cast(DecimalType(38, 0)))).head.getDecimal(0)) { lab =>
      val viaA = edges.join(lab.select(col("node").as("a"), col("comp")), "a")
        .select(col("b").as("node"), col("comp"))
      val viaB = edges.join(lab.select(col("node").as("b"), col("comp")), "b")
        .select(col("a").as("node"), col("comp"))
      val relaxed = lab.unionByName(viaA).unionByName(viaB)
        .groupBy("node").agg(min("comp").as("comp"))
      // pointer jump: adopt the current label OF the label node. Every
      // label value is itself a node (labels only ever take node ids), so
      // the left join always hits; coalesce is belt-and-braces for the
      // self-labeled roots.
      relaxed
        .join(relaxed.select(col("node").as("comp"), col("comp").as("jump")),
          Seq("comp"), "left")
        .select(col("node"), coalesce(col("jump"), col("comp")).as("comp"))
    }
    if (sorted) labels.orderBy("node") else labels
  }

  /** Component-size census over a [[connectedComponents]] labeling: for
    * each component cardinality, how many components have it — the
    * one-glance shape check (is there one giant component? a long tail of
    * pairs?) a dedup pipeline reads before trusting transitive closures.
    * Two map-side-combining aggregates; output rows bounded by the number
    * of distinct sizes (≤ √(2·V)).
    */
  def componentSizes(labels: DataFrame): DataFrame =
    labels.groupBy(col("comp")).agg(count(lit(1)).as("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_components"))
      .orderBy("size")

  private def componentsClosureCtes(from: String, until: String): String =
    s"""items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
       |          WHERE l_shipdate >= TIMESTAMP '$from'
       |            AND l_shipdate < TIMESTAMP '$until'),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT x.p AS a, y.p AS b FROM items x
       |  JOIN items y ON x.ok = y.ok AND x.p < y.p),
       |nbr AS MATERIALIZED (
       |  SELECT a AS node, b AS nb FROM e UNION ALL SELECT b, a FROM e),
       |nodes AS (SELECT DISTINCT node FROM nbr),
       |reach(node, lab) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT n.nb, r.lab FROM reach r JOIN nbr n ON n.node = r.node),
       |comp AS MATERIALIZED (
       |  SELECT node, MIN(lab) AS comp FROM reach GROUP BY node)""".stripMargin

  /** Generated DuckDB oracle for [[connectedComponents]] over
    * [[basketEdges]] — deliberately a DIFFERENT algorithm: a
    * recursive-CTE transitive closure (minimum reachable id per node),
    * so the two engines agree only if the iterative Spark fixpoint
    * equals true graph reachability, independent of round structure.
    */
  def componentsBasketOracleSql(from: String = "1996-01-01",
                                until: String = "1997-01-01"): String =
    s"""WITH RECURSIVE ${componentsClosureCtes(from, until)}
       |SELECT node, comp FROM comp ORDER BY node""".stripMargin

  /** Generated DuckDB oracle for [[componentSizes]] over the same
    * closure: size → component count. */
  def componentSizesBasketOracleSql(from: String = "1996-01-01",
                                    until: String = "1997-01-01"): String =
    s"""WITH RECURSIVE ${componentsClosureCtes(from, until)},
       |cs AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS size
       |       FROM comp GROUP BY comp)
       |SELECT size, CAST(COUNT(*) AS BIGINT) AS n_components
       |FROM cs GROUP BY size ORDER BY size""".stripMargin

  /** Global triangle census: nodes, edges, wedges (2-paths), triangles and
    * the global clustering coefficient 3·triangles / wedges — one summary
    * row.
    *
    * Scale shape: the naive node-iterator enumerates Σ_v C(deg(v), 2)
    * wedges, which a single celebrity node makes quadratic. This is the
    * DEGREE-ORDERED formulation (the MapReduce triangle-counting scheme of
    * Suri & Vassilvitskii, WWW'11): orient every canonical edge from the
    * endpoint earlier in (degree, id) order to the later one. Out-degrees
    * under that orientation are O(√E), wedges are generated only between a
    * node's ORIENTED successors (Σ outdeg² ≤ E^{3/2} total, skew-immune),
    * and a wedge (x, y) ordered the same way closes into a triangle iff
    * the oriented edge x→y exists — one equi-join. Every step is a keyed
    * shuffle (join/agg); nothing is collected. Each triangle is counted
    * exactly once, at its minimum vertex in the (degree, id) total order —
    * spec-asserted equal to the naive a<b<c triple-join on fixture graphs.
    *
    * Determinism: all counts are exact integers; the only double is the
    * final coefficient, one multiply + divide both engines replay
    * identically (round(·, 6) discipline).
    */
  def triangleStats(edgeList: DataFrame): DataFrame = {
    val e = Checkpoints(canonicalEdges(edgeList))
    val nEdges = e.count() // free — e just materialized
    val deg = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // wedge total straight from the degree distribution (exact longs;
    // deg·(deg−1) is even so integral DIV 2 is exact)
    val census = deg.agg(
      count(lit(1)).as("n_nodes"),
      coalesce(sum(expr("deg * (deg - 1) DIV 2")), lit(0L)).as("n_wedges"))
    val tri = cornersFrom(e, deg).agg(count(lit(1)).as("n_triangles"))
    tri.crossJoin(broadcast(census))
      .select(col("n_nodes"), lit(nEdges).as("n_edges"),
        col("n_wedges"), col("n_triangles"),
        round(col("n_triangles").cast("double") * lit(3.0) /
          greatest(col("n_wedges").cast("double"), lit(1.0)), 6).as("clustering"))
  }

  /** Undirected degree of every node of the canonical edge set `e` —
    * `(node, deg)`, one map-side-combining aggregate over both endpoint
    * columns. `e` MUST already be canonical ([[canonicalEdges]]). */
  private def degreesOf(e: DataFrame): DataFrame =
    e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** Degree-ordered triangle enumeration shared by [[triangleStats]],
    * [[triangleCorners]] and the per-node/per-edge profiles: orient every
    * canonical edge from the (degree, id)-earlier endpoint to the later
    * one, generate wedges only between a node's oriented SUCCESSORS
    * (Σ outdeg² ≤ E^{3/2}, skew-immune — Suri & Vassilvitskii, WWW'11),
    * and close each wedge with one oriented equi-join. Returns `(u, x, y)`
    * — each triangle EXACTLY once, `u` its (degree, id)-minimum corner;
    * x/y carry no id order (they are (degree, id)-ordered), so consumers
    * canonicalize derived pairs with least/greatest themselves.
    */
  private def cornersFrom(e: DataFrame, deg: DataFrame): DataFrame = {
    val da = deg.select(col("node").as("a"), col("deg").as("da"))
    val db = deg.select(col("node").as("b"), col("deg").as("db"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = Checkpoints(e.join(da, "a").join(db, "b")
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"),
        when(aFirst, col("db")).otherwise(col("da")).as("dv")))
    // successor pairs of each center u, ordered by the SAME (degree, id)
    // order the orientation used — so the closing edge, when present, is
    // oriented exactly x→y and one inner equi-join finds it
    val wedges = oriented.select(col("u"), col("v").as("x"), col("dv").as("dx"))
      .join(oriented.select(col("u"), col("v").as("y"), col("dv").as("dy")), "u")
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
      .select("u", "x", "y")
    wedges.join(oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select("u", "x", "y")
  }

  /** The triangle LIST of the graph: one `(u, x, y)` row per triangle of
    * the canonical undirected edge set, each triangle exactly once (`u`
    * its (degree, id)-minimum corner; row order undefined — sort or
    * canonicalize downstream). This is the enumeration the derived
    * profiles ([[triangleProfile]], [[edgeEmbeddedness]]) run inside.
    *
    * Scale shape: identical to [[triangleStats]] (same joins, no final
    * aggregate) — every step a keyed shuffle, wedge volume bounded
    * E^{3/2} by the degree orientation, nothing collected.
    */
  def triangleCorners(edgeList: DataFrame): DataFrame = Checkpoints.owned {
    val e = Checkpoints(canonicalEdges(edgeList))
    cornersFrom(e, degreesOf(e))
  }

  /** Per-node triangle profile: `(node, deg, n_tri, lcc)` — undirected
    * degree, triangles through the node, and the LOCAL clustering
    * coefficient 2·tri / (deg·(deg−1)) (0 for deg < 2) — the classic
    * Watts-Strogatz density feature a curation pipeline thresholds to
    * find spam cliques (lcc ≈ 1 at moderate degree) and bridge/hub nodes
    * (lcc ≈ 0 at high degree).
    *
    * Scale shape: the triangle enumeration, a row-local ×3 corner
    * explode, then one combining count keyed by node + one left join
    * onto the degree frame — nothing beyond the enumeration itself.
    *
    * Determinism: counts are exact longs; lcc is one double expression
    * replayed identically by the oracle (round(·, 6) discipline).
    */
  def triangleProfile(edgeList: DataFrame): DataFrame = {
    val e = Checkpoints(canonicalEdges(edgeList))
    val deg = degreesOf(e)
    val tri = cornersFrom(e, deg)
      .select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    val d = col("deg").cast("double")
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(when(col("deg") >= 2,
            lit(2.0) * coalesce(col("n_tri"), lit(0L)).cast("double") /
              (d * (d - lit(1.0))))
          .otherwise(lit(0.0)), 6).as("lcc"))
      .orderBy("node")
  }

  /** Per-edge embeddedness: for every canonical edge `(a, b)` the number
    * of COMMON neighbors and the neighborhood Jaccard
    * |N(a)∩N(b)| / |N(a)∪N(b)| = common / (deg(a)+deg(b)−common) — the
    * strong-tie score of structural link analysis (embedded edges sit
    * inside communities; zero-common edges are local bridges). The
    * denominator is ≥ 2 by construction (each endpoint is in the other's
    * neighborhood), so the ratio is total.
    *
    * A common neighbor of an ADJACENT pair is exactly a triangle through
    * that edge, so the counts come from the shared triangle enumeration:
    * explode each triangle into its three canonicalized edges, one
    * combining count keyed by the pair, one left join back onto the edge
    * set (triangle-free edges keep count 0), two keyed degree joins.
    */
  def edgeEmbeddedness(edgeList: DataFrame): DataFrame = {
    // Edges and degree table materialized EAGERLY (round 18): the two
    // aliased degree lookups below plan as two broadcast exchanges, and
    // broadcast subtrees execute on concurrent threads at the start of the
    // main action — over lazy inputs each broadcast build recomputed the
    // full canonicalEdges distinct + degree aggregate from scratch (the
    // r18 stage probe put ~all of this query's summed task time in exactly
    // those two 64-task broadcast stages). Materialized, both broadcast
    // builds are bounded block reads.
    val e = Checkpoints(canonicalEdges(edgeList))
    val deg = Checkpoints(degreesOf(e))
    def cedge(p: Column, q: Column): Column =
      struct(least(p, q).as("a"), greatest(p, q).as("b"))
    val common = cornersFrom(e, deg)
      .select(explode(array(
        cedge(col("u"), col("x")),
        cedge(col("u"), col("y")),
        cedge(col("x"), col("y")))).as("t"))
      .select(col("t.a").as("a"), col("t.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
    val nc = coalesce(col("n_common"), lit(0L))
    e.join(common, Seq("a", "b"), "left")
      .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), col("deg_a"), col("deg_b"),
        nc.as("n_common"),
        round(nc.cast("double") /
          (col("deg_a") + col("deg_b") - nc).cast("double"), 6).as("jaccard"))
      .orderBy("a", "b")
  }

  /** Degree assortativity: the Pearson correlation of endpoint degrees
    * over the edge set (each undirected edge contributing both ordered
    * directions, the standard Newman 2002 convention) — one summary row
    * `(n_edges, assortativity)`. Positive r: hubs link to hubs (social
    * graphs); negative: hubs link to leaves (star-like / web graphs);
    * the one-number health check beside [[triangleStats]]' clustering.
    *
    * With both directions included the x/y marginals coincide, so
    * r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²) with M = 2·edges — computed
    * from four exact sums. All sums run in DECIMAL(38,0) (squared degrees
    * summed over a 100 TB graph overflow a long); the sums are then cast
    * to double BEFORE the num/den products — forming M·Σxy and (Σx)² in
    * DECIMAL(38,0) would overflow to NULL on an extreme-skew graph
    * (hub degree ~1e10 ⇒ Σd² ≈ 1e20 ⇒ (Σd²)² ≈ 1e40 > 1e38) and report a
    * silent NULL. Precision is unaffected in practice: the output is a
    * 6-decimal-rounded double, and the oracle replays the identical
    * double sequence. When every degree is equal the denominator is 0 and
    * r is defined as 0.0.
    *
    * Scale shape: two keyed degree joins folded into one 1-row aggregate
    * — nothing collected, no driver loop.
    */
  def degreeAssortativity(edgeList: DataFrame): DataFrame = {
    // same materialized-degree shape as [[edgeEmbeddedness]] (round 18):
    // the two aliased degree joins broadcast-build concurrently, and over
    // lazy inputs each recomputed the canonical-edge distinct + degree
    // aggregate; the eager checkpoints compute that mass exactly once
    val e = Checkpoints(canonicalEdges(edgeList))
    val deg = Checkpoints(degreesOf(e))
    val dec = DecimalType(38, 0)
    val x = col("da").cast(dec)
    val y = col("db").cast(dec)
    val s = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .agg(count(lit(1)).as("m"),
        coalesce(sum(x + y), lit(0).cast(dec)).as("sx"),
        coalesce(sum(x * x + y * y), lit(0).cast(dec)).as("sxx"),
        coalesce(sum(x * y * lit(2)), lit(0).cast(dec)).as("sxy"))
    val mm = col("m").cast("double") * lit(2.0)
    val sxD = col("sx").cast("double")
    val num = mm * col("sxy").cast("double") - sxD * sxD
    val den = mm * col("sxx").cast("double") - sxD * sxD
    s.select(col("m").as("n_edges"),
      round(when(den === 0.0, lit(0.0)).otherwise(num / den), 6)
        .as("assortativity"))
  }

  /** Shared basket-graph CTE prefix for the triangle-derived oracles:
    * `items`, canonical `e`, the triangle list `tri` (naive a<b<c triple
    * join — the fixture-scale reference the degree-ordered enumeration is
    * spec-equivalent to), both-direction `nbr` and `deg`.
    */
  private def triBasketCtes(from: String, until: String): String =
    s"""${basketEdgeCtes(from, until)},
       |tri AS MATERIALIZED (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
       |            JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
       |nbr AS (SELECT a AS node, b AS nb FROM e UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM nbr GROUP BY node)""".stripMargin

  /** Generated DuckDB oracle for [[triangleProfile]] over [[basketEdges]]. */
  def triangleProfileBasketOracleSql(from: String = "1996-01-01",
                                     until: String = "1997-01-01"): String =
    s"""${triBasketCtes(from, until)},
       |tpn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
       |          SELECT x AS node FROM tri
       |          UNION ALL SELECT y FROM tri
       |          UNION ALL SELECT z FROM tri) GROUP BY node)
       |SELECT d.node, d.deg, COALESCE(t.n_tri, 0) AS n_tri,
       |       round(CASE WHEN d.deg >= 2
       |                  THEN 2.0 * CAST(COALESCE(t.n_tri, 0) AS DOUBLE) /
       |                       (CAST(d.deg AS DOUBLE) * (CAST(d.deg AS DOUBLE) - 1.0))
       |                  ELSE 0.0 END, 6) AS lcc
       |FROM deg d LEFT JOIN tpn t ON d.node = t.node
       |ORDER BY d.node""".stripMargin

  /** Generated DuckDB oracle for [[edgeEmbeddedness]] over [[basketEdges]]. */
  def edgeEmbeddednessBasketOracleSql(from: String = "1996-01-01",
                                      until: String = "1997-01-01"): String =
    s"""${triBasketCtes(from, until)},
       |te AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_common FROM (
       |         SELECT least(x, y) AS a, greatest(x, y) AS b FROM tri
       |         UNION ALL SELECT least(x, z), greatest(x, z) FROM tri
       |         UNION ALL SELECT least(y, z), greatest(y, z) FROM tri)
       |       GROUP BY a, b)
       |SELECT e.a, e.b, da.deg AS deg_a, db.deg AS deg_b,
       |       COALESCE(te.n_common, 0) AS n_common,
       |       round(CAST(COALESCE(te.n_common, 0) AS DOUBLE) /
       |             CAST(da.deg + db.deg - COALESCE(te.n_common, 0) AS DOUBLE),
       |             6) AS jaccard
       |FROM e LEFT JOIN te ON e.a = te.a AND e.b = te.b
       |       JOIN deg da ON e.a = da.node
       |       JOIN deg db ON e.b = db.node
       |ORDER BY e.a, e.b""".stripMargin

  /** HyperANF neighborhood-function report (Boldi, Rosa & Vigna 2011,
    * "HyperANF: approximating the neighbourhood function of very large
    * graphs on a budget"): per hop h = 1..`hops`, how many (node,
    * reachable-node) pairs lie within distance ≤ h — the curve effective
    * diameter, spid and reachability audits read. The sketch path IS
    * HyperANF: every node holds an HLL sketch, initialized to {node}, and
    * each round unions in its neighbors' sketches — per-register max is
    * commutative/associative/idempotent, so h rounds give exactly the
    * sketch of the h-ball, at O(n·2^lgK) state instead of the exact
    * ball's O(n²) worst case.
    *
    * Reported the exact-bound way ([[Sketches.weeklyDistinctReport]] /
    * q_ann_recall): sketches and their estimates stay OUT of the output —
    * each row carries the EXACT ball-pair count over a bounded probe set
    * (the `nSeeds` smallest node ids, BFS-materialized — bounded by
    * nSeeds·n rows, never n²), the declared kσ·1.04/√2^lgK HLL bound, and
    * whether the seed-summed sketch estimates land inside it. Every
    * emitted column is DuckDB-reproducible; the oracle pins
    * `within_bound = TRUE`, so estimator drift turns the row red instead
    * of hiding in an unverifiable estimate column.
    *
    * Scale shape per hop: one nbr⋈sketch join + one `hll_union_agg` keyed
    * by node (map-side combining — register-max merges partially), the
    * sketch generation checkpointed and the superseded one released; the
    * exact side is one frontier join + distinct over seed-bounded pairs.
    * Driver traffic is one scalar per hop per side ([[connectedComponents]]
    * convergence-sum discipline).
    */
  def neighborhoodReport(edgeList: DataFrame, hops: Int = 3, lgK: Int = 10,
                         kSigma: Double = 3.0, nSeeds: Int = 64): DataFrame = Checkpoints.owned {
    require(hops >= 1 && hops <= 16, s"hops must be in [1,16], got $hops")
    require(nSeeds >= 1, s"nSeeds must be >= 1, got $nSeeds")
    val spark = edgeList.sparkSession
    import spark.implicits._
    val edges = Checkpoints(canonicalEdges(edgeList))
    val nbr = edges.select(col("a").as("node"), col("b").as("nb"))
      .unionByName(edges.select(col("b").as("node"), col("a").as("nb")))
    val nodes = nbr.select("node").distinct()
    val seeds = Checkpoints(nodes.orderBy("node").limit(nSeeds))
    val nSeedsActual = seeds.count()
    var sk = Checkpoints(nodes.groupBy("node")
      .agg(expr(s"hll_sketch_agg(node, $lgK)").as("sk")))
    var ball = Checkpoints(seeds.select(col("node").as("seed"), col("node").as("reached")))
    val bound = Sketches.relErrBound(lgK, kSigma)
    val rows = (1 to hops).map { h =>
      val viaNbr = nbr
        .join(sk.withColumnRenamed("node", "nb"), "nb")
        .select(col("node"), col("sk"))
      val skNext = Checkpoints(viaNbr.unionByName(sk.select("node", "sk"))
        .groupBy("node").agg(expr("hll_union_agg(sk)").as("sk")))
      Checkpoints.release(sk)
      sk = skNext
      // no seeds (an empty graph) sums to null: coalesce to 0
      val est = sk.join(broadcast(seeds), "node")
        .agg(coalesce(sum(expr("hll_sketch_estimate(sk)")), lit(0L)).as("est"))
        .head.getAs[Number]("est").doubleValue()
      val grown = Checkpoints(ball.unionByName(
        ball.join(nbr, ball("reached") === nbr("node"))
          .select(col("seed"), col("nb").as("reached")))
        .distinct())
      Checkpoints.release(ball)
      ball = grown
      val exact = ball.count()
      (h.toLong, nSeedsActual, exact, bound,
        math.abs(est - exact.toDouble) <= bound * exact.toDouble)
    }
    rows.toDF("h", "n_seeds", "n_reach_exact", "rel_err_bound", "within_bound")
      .orderBy("h")
  }

  /** Generated DuckDB oracle for [[neighborhoodReport]] over
    * [[basketEdges]]: the seed balls BFS-unrolled as chained distinct
    * CTEs, exact pair counts per hop, the declared bound as a literal,
    * and `TRUE` pinned for every bound check.
    */
  def anfBasketOracleSql(hops: Int = 3, lgK: Int = 10, kSigma: Double = 3.0,
                         nSeeds: Int = 64,
                         from: String = "1996-01-01",
                         until: String = "1997-01-01"): String = {
    val bound = Sketches.relErrBound(lgK, kSigma)
    val ballCtes = (1 to hops).map { i =>
      s"""b$i AS MATERIALIZED (
         |  SELECT DISTINCT seed, reached FROM (
         |    SELECT seed, reached FROM b${i - 1}
         |    UNION ALL
         |    SELECT b.seed, n.nb FROM b${i - 1} b JOIN nbr n ON b.reached = n.node))""".stripMargin
    }.mkString(",\n")
    val branches = (1 to hops).map { i =>
      s"""  SELECT CAST($i AS BIGINT) AS h,
         |         (SELECT CAST(COUNT(*) AS BIGINT) FROM seeds) AS n_seeds,
         |         (SELECT CAST(COUNT(*) AS BIGINT) FROM b$i) AS n_reach_exact,
         |         CAST($bound AS DOUBLE) AS rel_err_bound,
         |         TRUE AS within_bound""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""${basketEdgeCtes(from, until)},
       |nbr AS MATERIALIZED (
       |  SELECT a AS node, b AS nb FROM e UNION ALL SELECT b, a FROM e),
       |seeds AS MATERIALIZED (
       |  SELECT DISTINCT node FROM nbr ORDER BY node LIMIT $nSeeds),
       |b0 AS (SELECT node AS seed, node AS reached FROM seeds),
       |$ballCtes
       |SELECT * FROM (
       |$branches
       |) ORDER BY h""".stripMargin
  }

  /** Generated DuckDB oracle for [[degreeAssortativity]] over
    * [[basketEdges]] — the four exact sums in HUGEINT, then the sums cast
    * to double BEFORE the num/den products (the engine's overflow-safe
    * double sequence, replayed operation-for-operation). */
  def assortativityBasketOracleSql(from: String = "1996-01-01",
                                   until: String = "1997-01-01"): String =
    s"""${basketEdgeCtes(from, until)},
       |nbr AS (SELECT a AS node, b AS nb FROM e UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM nbr GROUP BY node),
       |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
       |             SUM(CAST(da.deg AS HUGEINT) + db.deg) AS sx,
       |             SUM(CAST(da.deg AS HUGEINT) * da.deg
       |                 + CAST(db.deg AS HUGEINT) * db.deg) AS sxx,
       |             SUM(CAST(da.deg AS HUGEINT) * db.deg * 2) AS sxy
       |      FROM e JOIN deg da ON e.a = da.node
       |             JOIN deg db ON e.b = db.node)
       |SELECT m AS n_edges,
       |       round(CASE WHEN CAST(m AS DOUBLE) * 2.0 * CAST(sxx AS DOUBLE)
       |                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0 THEN 0.0
       |                  ELSE (CAST(m AS DOUBLE) * 2.0 * CAST(sxy AS DOUBLE)
       |                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
       |                       (CAST(m AS DOUBLE) * 2.0 * CAST(sxx AS DOUBLE)
       |                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |             END, 6) AS assortativity
       |FROM s""".stripMargin

  /** Directed-graph reciprocity — the trade-balance audit: of the
    * weighted directed edges (excluding self-loops), what fraction have
    * a reverse edge, and how much of the edge MASS flows both ways
    * (Σ min(w_ab, w_ba) / Σ w — the weighted reciprocity of Squartini
    * et al.)? One self-join of the post-aggregate edge table on the
    * reversed key — never the fact table. Exact longs throughout; the
    * two ratios are doubles over identical operands.
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("w"))
    val rev = e.select(col("dst").as("src"), col("src").as("dst"),
      col("w").as("_wr"))
    val joined = e.join(rev, Seq("src", "dst"), "left")
    joined.agg(
        count(lit(1)).as("n_edges"),
        sum(when(col("_wr").isNotNull, 1L).otherwise(0L)).as("n_reciprocated"),
        sum(col("w")).as("_tw"),
        sum(least(col("w"), coalesce(col("_wr"), lit(0L)))).as("_tm"))
      .select(col("n_edges"), col("n_reciprocated"),
        round(col("n_reciprocated").cast("double") / col("n_edges").cast("double"), 6)
          .as("edge_reciprocity"),
        round(col("_tm").cast("double") / col("_tw").cast("double"), 6)
          .as("weight_reciprocity"))
  }

  /** Generated DuckDB oracle for [[reciprocity]]: `edgeSql` must yield
    * the same (src, dst, w) rows. */
  def reciprocityOracleSql(edgeSql: String): String =
    s"""WITH e AS (SELECT src, dst, w FROM ($edgeSql) WHERE src <> dst),
       |j AS (SELECT e.src, e.dst, e.w, r.w AS wr
       |      FROM e LEFT JOIN e r ON r.src = e.dst AND r.dst = e.src)
       |SELECT COUNT(*) AS n_edges,
       |       CAST(SUM(CASE WHEN wr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_reciprocated,
       |       round(CAST(SUM(CASE WHEN wr IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |             / COUNT(*), 6) AS edge_reciprocity,
       |       round(CAST(SUM(least(w, COALESCE(wr, 0))) AS DOUBLE)
       |             / CAST(SUM(w) AS DOUBLE), 6) AS weight_reciprocity
       |FROM j""".stripMargin

  /** Power-law tail fit of the degree distribution — the is-this-graph
    * scale-free diagnostic: OLS over (ln d, ln n_d) for degrees
    * d >= dmin, reported as the exponent estimate alpha = -slope with
    * fit r². The regression runs over the POST-AGGREGATE (degree,
    * frequency) table — at most max-degree rows — with the
    * [[Text.linearFit]] determinism contract: ln products quantize to
    * round-6 decimals (Helpers.dsum) so the sums are order-free and a
    * last-ulp libm ln cannot move them. One row out.
    */
  def degreeTailFit(edgeList: DataFrame, dmin: Int = 2): DataFrame = {
    val e = canonicalEdges(edgeList)
    val dist = degreesOf(e).groupBy("deg").agg(count(lit(1)).as("n_nodes"))
      .filter(col("deg") >= dmin)
    val x = log(col("deg").cast("double"))
    val y = log(col("n_nodes").cast("double"))
    val agg = dist.agg(
      count(lit(1)).cast("double").as("_n"),
      Helpers.dsum(x, 6).as("_sx"), Helpers.dsum(y, 6).as("_sy"),
      Helpers.dsum(x * y, 6).as("_sxy"), Helpers.dsum(x * x, 6).as("_sxx"),
      Helpers.dsum(y * y, 6).as("_syy"))
    val n = col("_n")
    val cov = n * col("_sxy") - col("_sx") * col("_sy")
    val vx = n * col("_sxx") - col("_sx") * col("_sx")
    val vy = n * col("_syy") - col("_sy") * col("_sy")
    agg.select(
      col("_n").cast("long").as("n_degrees"),
      round(-cov / vx, 4).as("alpha"),
      round(when(vy > 0, (cov * cov) / (vx * vy)).otherwise(lit(1.0)), 4)
        .as("r2"))
  }

  /** Generated DuckDB oracle for [[degreeTailFit]]: `edgeSql` must yield
    * the same canonical (a, b) edges the Spark side derives. */
  def degreeTailFitOracleSql(edgeSql: String, dmin: Int = 2): String =
    s"""WITH e AS ($edgeSql),
       |deg AS (SELECT node, COUNT(*) AS deg FROM (
       |          SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
       |        GROUP BY node),
       |dist AS (SELECT deg, COUNT(*) AS n_nodes FROM deg GROUP BY deg
       |         HAVING deg >= $dmin),
       |agg AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |  CAST(SUM(CAST(ln(CAST(deg AS DOUBLE)) AS DECIMAL(18,6))) AS DOUBLE) AS sx,
       |  CAST(SUM(CAST(ln(CAST(n_nodes AS DOUBLE)) AS DECIMAL(18,6))) AS DOUBLE) AS sy,
       |  CAST(SUM(CAST(ln(CAST(deg AS DOUBLE)) * ln(CAST(n_nodes AS DOUBLE)) AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
       |  CAST(SUM(CAST(ln(CAST(deg AS DOUBLE)) * ln(CAST(deg AS DOUBLE)) AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
       |  CAST(SUM(CAST(ln(CAST(n_nodes AS DOUBLE)) * ln(CAST(n_nodes AS DOUBLE)) AS DECIMAL(18,6))) AS DOUBLE) AS syy
       |  FROM dist)
       |SELECT CAST(n AS BIGINT) AS n_degrees,
       |       round(-(n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS alpha,
       |       round(CASE WHEN (n * syy - sy * sy) > 0 THEN
       |               ((n * sxy - sx * sy) * (n * sxy - sx * sy))
       |               / ((n * sxx - sx * sx) * (n * syy - sy * sy))
       |             ELSE 1.0 END, 4) AS r2
       |FROM agg""".stripMargin

  /** Seed-sampled bounded-hop betweenness centrality (Brandes 2001,
    * restricted to shortest paths of length ≤ `maxHops` from `nSeeds`
    * deterministic source nodes — smallest node ids, so the SQL oracle
    * can replay seed choice). The production contract at 100 TB is
    * exactly this restriction: exact all-pairs Brandes is O(V·E) and no
    * one runs it on a web-scale graph — you sample sources (Brandes &
    * Pich 2007) and bound the radius, and the estimate is the sum of the
    * per-source dependency deltas.
    *
    * Forward: level-synchronized BFS keyed by (seed, node) with exact
    * DECIMAL(38,0) path counts σ (level d+1 = frontier⋈edges, anti-join
    * visited, combining Σσ). Backward: δ accumulates down the levels,
    * δ(v) = Σ_{w ∈ succ(v)} σv/σw·(1+δw), every term rounded to 12 and
    * summed in DECIMAL(28,12) — order-free, and σ/δ inputs are exact so
    * both engines produce identical terms. Per-level frames are
    * localCheckpointed (the pagerank lineage discipline). Output: top-k
    * nodes by summed dependency (desc, node ties), seeds excluded —
    * Brandes' δ never credits the source itself.
    */
  def betweennessSampled(edgeList: DataFrame, nSeeds: Int = 8,
                         maxHops: Int = 3, topK: Int = 20): DataFrame = Checkpoints.owned {
    require(nSeeds >= 1 && maxHops >= 1 && topK >= 1)
    val sigmaT = DecimalType(38, 0)
    val deltaT = DecimalType(28, 12)
    val e = canonicalEdges(edgeList)
    // localCheckpoint (not a released persist): the BFS runs 2·maxHops
    // actions against this frame — a release-after-first-action cache
    // would recompute the union for every level
    val nbr = Checkpoints(e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v"))))
    val seeds = nbr.select(col("u").as("node")).distinct()
      .orderBy("node").limit(nSeeds)
    // forward: levels(d) = (seed, node, sigma) first reached at hop d
    val l0 = Checkpoints(seeds.select(col("node").as("seed"), col("node"),
      lit(1).cast(sigmaT).as("sigma")))
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](l0)
    var visited = l0.select("seed", "node")
    for (_ <- 1 to maxHops) {
      val nxt = Checkpoints(levels.last.join(nbr, col("node") === col("u"))
        .select(col("seed"), col("v").as("node"), col("sigma"))
        .join(visited.select(col("seed").as("_s"), col("node").as("_n")),
          col("seed") === col("_s") && col("node") === col("_n"), "left_anti")
        .groupBy("seed", "node").agg(sum("sigma").cast(sigmaT).as("sigma")))
      levels += nxt
      visited = Checkpoints(visited.unionByName(nxt.select("seed", "node")))
    }
    // backward: deepest level has delta 0; each level pulls from the one
    // below it through the edge table
    var below = Checkpoints(levels(maxHops)
      .select(col("seed"), col("node"), col("sigma"),
        lit(0).cast(deltaT).as("delta")))
    val deltas = scala.collection.mutable.ArrayBuffer[DataFrame]()
    if (maxHops >= 1) deltas += below // level maxHops (delta 0 rows count too)
    // stop at d = 1: level 0 is the seeds themselves, whose self-deltas are
    // excluded from bw by design (Brandes' δ never credits the source), so
    // a d = 0 pass would checkpoint a full delta frame nothing ever reads
    for (d <- (maxHops - 1) to 1 by -1) {
      val contrib = levels(d).join(nbr, col("node") === col("u"))
        .join(below.select(col("seed").as("_ws"), col("node").as("_w"),
            col("sigma").as("_sw"), col("delta").as("_dw")),
          col("seed") === col("_ws") && col("v") === col("_w"))
        .select(col("seed"), col("node"),
          round(col("sigma").cast("double") / col("_sw").cast("double")
            * (lit(1.0) + col("_dw").cast("double")), 12).cast(deltaT).as("_t"))
        .groupBy("seed", "node").agg(sum("_t").cast(deltaT).as("delta"))
      val lvl = Checkpoints(levels(d).select(col("seed"), col("node"), col("sigma"))
        .join(contrib, Seq("seed", "node"), "left")
        .select(col("seed"), col("node"), col("sigma"),
          coalesce(col("delta"), lit(0).cast(deltaT)).as("delta")))
      deltas += lvl
      below = lvl
    }
    val bw = deltas.map(_.select(col("node"), col("delta")))
      .reduce(_.unionByName(_))
      .groupBy("node").agg(sum(col("delta")).as("_b"))
    // global top-k as orderBy+limit (plans TakeOrderedAndProject — a
    // per-partition bounded heap + driver merge) instead of ranking the
    // whole seed-ball union through one single-task window; the rank is
    // then a window over the ≤ topK surviving rows only. (_b desc, node)
    // is a total order, so the limit set and the ranks are identical.
    val top = bw.orderBy(col("_b").desc, col("node")).limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("_b").desc, col("node"))
    Checkpoints(top.withColumn("rn", row_number().over(w).cast("long"))
      .select(col("node"), round(col("_b").cast("double"), 6).as("betweenness"),
        col("rn"))
      .orderBy("rn"))
  }

  /** Generated DuckDB oracle for [[betweennessSampled]]: the BFS levels
    * and dependency accumulation fully unrolled as CTEs (the
    * lloydReplayCtes precedent), identical σ/δ arithmetic. `edgeSql`
    * must yield the same canonical (a, b) edges. */
  def betweennessOracleSql(edgeSql: String, nSeeds: Int = 8,
                           maxHops: Int = 3, topK: Int = 20): String = {
    val fwd = (1 to maxHops).map { d =>
      val prevVisited = (0 until d).map(i => s"SELECT seed, node FROM f$i").mkString(" UNION ALL ")
      s"""f$d AS (
         |  SELECT p.seed, n.v AS node, CAST(SUM(p.sigma) AS DECIMAL(38,0)) AS sigma
         |  FROM f${d - 1} p JOIN nbr n ON n.u = p.node
         |  WHERE NOT EXISTS (SELECT 1 FROM ($prevVisited) vis
         |                    WHERE vis.seed = p.seed AND vis.node = n.v)
         |  GROUP BY p.seed, n.v)""".stripMargin
    }
    val bwd = ((maxHops - 1) to 0 by -1).map { d =>
      s"""c$d AS (
         |  SELECT p.seed, p.node,
         |         SUM(CAST(round(CAST(p.sigma AS DOUBLE) / CAST(w.sigma AS DOUBLE)
         |               * (1.0 + CAST(w.delta AS DOUBLE)), 12) AS DECIMAL(28,12))) AS delta
         |  FROM f$d p JOIN nbr n ON n.u = p.node
         |  JOIN d${d + 1} w ON w.seed = p.seed AND w.node = n.v
         |  GROUP BY p.seed, p.node),
         |d$d AS (
         |  SELECT f.seed, f.node, f.sigma,
         |         COALESCE(c.delta, CAST(0 AS DECIMAL(28,12))) AS delta
         |  FROM f$d f LEFT JOIN c$d c ON c.seed = f.seed AND c.node = f.node)""".stripMargin
    }
    val deltaUnion = (1 to maxHops).map(d => s"SELECT node, delta FROM d$d").mkString("\n  UNION ALL ")
    s"""WITH e AS ($edgeSql),
       |nbr AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
       |seeds AS (SELECT DISTINCT u AS node FROM nbr ORDER BY node LIMIT $nSeeds),
       |f0 AS (SELECT node AS seed, node, CAST(1 AS DECIMAL(38,0)) AS sigma FROM seeds),
       |${fwd.mkString(",\n")},
       |d$maxHops AS (SELECT seed, node, sigma, CAST(0 AS DECIMAL(28,12)) AS delta
       |              FROM f$maxHops),
       |${bwd.mkString(",\n")},
       |bw AS (SELECT node, SUM(delta) AS b FROM (
       |  $deltaUnion) GROUP BY node),
       |rk AS (SELECT node, b, ROW_NUMBER() OVER (ORDER BY b DESC, node) AS rn FROM bw)
       |SELECT node, round(CAST(b AS DOUBLE), 6) AS betweenness, CAST(rn AS BIGINT) AS rn
       |FROM rk WHERE rn <= $topK ORDER BY rn""".stripMargin
  }

  /** Harmonic closeness of the sampled seed nodes within `maxHops` —
    * the how-central-are-these-hubs companion to [[betweennessSampled]],
    * over the same deterministic smallest-id seed set and bounded
    * radius (harmonic form: Σ 1/d over reached nodes — defined on
    * disconnected graphs where classic closeness is not). The BFS is
    * the betweenness forward pass without path counts; the score sums
    * exact per-level counts as round-9 decimal count/d terms (≤ maxHops
    * terms per seed, order-free).
    */
  def harmonicCloseness(edgeList: DataFrame, nSeeds: Int = 8,
                        maxHops: Int = 3): DataFrame = Checkpoints.owned {
    require(nSeeds >= 1 && maxHops >= 1)
    val e = canonicalEdges(edgeList)
    val nbr = Checkpoints(e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v"))))
    val seeds = nbr.select(col("u").as("node")).distinct()
      .orderBy("node").limit(nSeeds)
    var frontier = Checkpoints(seeds.select(col("node").as("seed"), col("node")))
    var visited = frontier
    val perLevel = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (d <- 1 to maxHops) {
      val nxt = Checkpoints(frontier.join(nbr, col("node") === col("u"))
        .select(col("seed"), col("v").as("node")).distinct()
        .join(visited.select(col("seed").as("_s"), col("node").as("_n")),
          col("seed") === col("_s") && col("node") === col("_n"), "left_anti"))
      perLevel += nxt.groupBy("seed")
        .agg(count(lit(1)).as("_c")).withColumn("_d", lit(d))
      frontier = nxt
      visited = Checkpoints(visited.unionByName(nxt))
    }
    val levels = perLevel.reduce(_.unionByName(_))
    Checkpoints(seeds.select(col("node").as("seed"))
      .join(
        levels.groupBy("seed").agg(
          sum("_c").as("n_reached"),
          sum(round(col("_c").cast("double") / col("_d").cast("double"), 9)
            .cast(DecimalType(28, 9))).as("_h")),
        Seq("seed"), "left")
      .select(col("seed"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        round(coalesce(col("_h").cast("double"), lit(0.0)), 6)
          .as("harmonic_closeness"))
      .orderBy("seed"))
  }

  /** Generated DuckDB oracle for [[harmonicCloseness]] — unrolled BFS
    * levels, same round-9 decimal count/d terms. */
  def harmonicClosenessOracleSql(edgeSql: String, nSeeds: Int = 8,
                                 maxHops: Int = 3): String = {
    val lvls = (1 to maxHops).map { d =>
      val prev = (0 until d).map(i => s"SELECT seed, node FROM l$i").mkString(" UNION ALL ")
      s"""l$d AS (
         |  SELECT DISTINCT p.seed, n.v AS node
         |  FROM l${d - 1} p JOIN nbr n ON n.u = p.node
         |  WHERE NOT EXISTS (SELECT 1 FROM ($prev) vis
         |                    WHERE vis.seed = p.seed AND vis.node = n.v))""".stripMargin
    }
    val counts = (1 to maxHops).map(d =>
      s"SELECT seed, COUNT(*) AS c, $d AS d FROM l$d GROUP BY seed").mkString("\n  UNION ALL ")
    s"""WITH e AS ($edgeSql),
       |nbr AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
       |seeds AS (SELECT DISTINCT u AS node FROM nbr ORDER BY node LIMIT $nSeeds),
       |l0 AS (SELECT node AS seed, node FROM seeds),
       |${lvls.mkString(",\n")},
       |lv AS (
       |  $counts),
       |agg AS (SELECT seed, SUM(c) AS n_reached,
       |               SUM(CAST(round(CAST(c AS DOUBLE) / d, 9) AS DECIMAL(28,9))) AS h
       |        FROM lv GROUP BY seed)
       |SELECT s.node AS seed,
       |       CAST(COALESCE(n_reached, 0) AS BIGINT) AS n_reached,
       |       round(COALESCE(CAST(h AS DOUBLE), 0.0), 6) AS harmonic_closeness
       |FROM seeds s LEFT JOIN agg ON agg.seed = s.node
       |ORDER BY seed""".stripMargin
  }
}
