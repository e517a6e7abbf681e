package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Market-basket affinity mining: frequent item pairs, association rules
  * (support / confidence / lift) and item-to-item neighbors (cosine) —
  * the classic co-occurrence analytics next to the graph projections
  * ([[Graph.basketEdges]] censuses the same baskets structurally; this
  * scores them statistically).
  *
  * Scale shape — Apriori, level 2, all keyed shuffles:
  *   1. one distinct projects (basket, item) pairs;
  *   2. item supports are one map-side-combining aggregate;
  *   3. baskets are pruned to FREQUENT items before any pairing
  *      (monotonicity: a pair can never out-support its rarer item), so
  *      the quadratic-in-basket-size pair explosion runs over the pruned
  *      baskets only — with a sane support threshold the surviving items
  *      per basket are few even when raw baskets are huge;
  *   4. pair occurrences are generated ROW-LOCALLY from a per-basket
  *      sorted item array (one aggregate keyed by basket + a nested
  *      `transform` expansion) instead of a basket-keyed self-join — one
  *      fewer full shuffle of the basket-item table, same pair multiset
  *      (spec-asserted); the pair counts are then one more combining
  *      aggregate keyed by the pair.
  * Nothing is collected; the basket count rides as a 1-row broadcast (the
  * scalar-subquery pattern).
  *
  * Determinism: all counts are exact longs; support/confidence/lift and
  * the neighbor cosine are single double expressions over those longs
  * written identically in the oracle (round(·, 6) discipline), and every
  * output carries a total order.
  */
object Affinity {

  /** (basket, item) pairs from order lines — the input shape
    * [[associationRules]] mines. NOT deduplicated here: the mining
    * operators distinct their input as part of their own contract, so a
    * distinct at the source would be a second identical shuffle. */
  def basketItems(lineitem: DataFrame): DataFrame =
    lineitem
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))

  /** Brand-level baskets: the same orders with items coarsened to the
    * part BRAND through a broadcast dimension join — the item space a
    * support-threshold miner actually wants (25 brands co-occur often;
    * 20 k part keys almost never repeat as pairs), and the registered
    * rule query's domain. */
  def brandBaskets(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey").as("basket"), col("l_partkey"))
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("basket"), col("p_brand").as("item"))

  /** Row-local unordered-pair expansion of each basket: one aggregate
    * keyed by basket builds the sorted item array, then a nested
    * `transform` emits every (x, y) with x < y — codegen'd, no self-join.
    * Quadratic ONLY in the (pruned) basket size, by construction.
    */
  private def pairOccurrences(basketItems: DataFrame): DataFrame = {
    val arr = basketItems.groupBy("basket")
      .agg(sort_array(collect_list(col("item"))).as("arr"))
    arr.select(explode(flatten(transform(col("arr"), (x, i) =>
        transform(slice(col("arr"), i + lit(2), size(col("arr"))),
          y => struct(x.as("x"), y.as("y")))))).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
  }

  /** Frequent pairs with both endpoint supports:
    * (x, y, cp, cx, cy), x < y, cp ≥ minPairs. `b` must be the DISTINCT
    * (basket, item) frame (read twice — callers materialize it).
    *
    * `pruneItems` toggles the Apriori frequent-item pre-filter. It is a
    * pure PERFORMANCE guard — monotonicity means it can never change the
    * result (spec-asserted) — that costs two shuffles (explode + regroup
    * around the semi-join). Keep it on when rare items could blow up the
    * per-basket pair expansion; turn it off when the item space is small
    * or the threshold cannot prune (the registered brand-level rules and
    * the minPairs=1 neighbor query both pass false).
    */
  private def countedPairs(b: DataFrame, minPairs: Long,
                           pruneItems: Boolean): DataFrame = {
    val itemN = b.groupBy("item").agg(count(lit(1)).as("c"))
    val fb =
      if (pruneItems)
        b.join(itemN.filter(col("c") >= minPairs).select("item"), Seq("item"), "left_semi")
      else b
    pairOccurrences(fb)
      .groupBy("x", "y").agg(count(lit(1)).as("cp"))
      .filter(col("cp") >= minPairs)
      .join(itemN.select(col("item").as("x"), col("c").as("cx")), "x")
      .join(itemN.select(col("item").as("y"), col("c").as("cy")), "y")
  }

  /** Association rules over item pairs co-occurring in at least `minPairs`
    * baskets. Both directions of each frequent pair are emitted:
    * support = c(x,y)/N, confidence = c(x,y)/c(antecedent),
    * lift = confidence / (c(consequent)/N) — lift is direction-symmetric
    * (spec-asserted).
    */
  def associationRules(baskets: DataFrame, minPairs: Long = 2L,
                       pruneItems: Boolean = true): DataFrame = {
    require(minPairs >= 1, s"minPairs must be >= 1, got $minPairs")
    // read three times (basket count, item supports, pair generation) —
    // one scan
    val b = Checkpoints(baskets.select("basket", "item").distinct())
    val nBaskets = b.agg(countDistinct("basket").as("n"))
    val joined = countedPairs(b, minPairs, pruneItems)
    val fwd = joined.select(col("x").as("antecedent"), col("y").as("consequent"),
      col("cp"), col("cx").as("ca"), col("cy").as("cc"))
    val bwd = joined.select(col("y").as("antecedent"), col("x").as("consequent"),
      col("cp"), col("cy").as("ca"), col("cx").as("cc"))
    fwd.unionByName(bwd)
      .crossJoin(broadcast(nBaskets))
      .select(col("antecedent"), col("consequent"), col("cp").as("pair_n"),
        round(col("cp").cast("double") / col("n").cast("double"), 6).as("support"),
        round(col("cp").cast("double") / col("ca").cast("double"), 6).as("confidence"),
        round((col("cp").cast("double") / col("ca").cast("double")) /
          (col("cc").cast("double") / col("n").cast("double")), 6).as("lift"))
      .orderBy("antecedent", "consequent")
  }

  /** Item-to-item neighbors: for every item, the `topK` most-associated
    * other items by co-occurrence cosine c(x,y)/√(c(x)·c(y)) — the
    * item-space kNN of classic item-item collaborative filtering ("users
    * who bought x also bought …"), ranked per item through the custom
    * bounded-heap top-k operator ([[graft.plans.TopK.perGroup]]: no
    * global window sort, heap state = k rows per item).
    */
  def itemNeighbors(baskets: DataFrame, topK: Int = 5, minPairs: Long = 2L,
                    pruneItems: Boolean = true): DataFrame = {
    require(topK >= 1 && minPairs >= 1, s"need topK/minPairs >= 1, got $topK/$minPairs")
    val b = Checkpoints(baskets.select("basket", "item").distinct())
    val joined = countedPairs(b, minPairs, pruneItems)
    def cosine(cp: Column, ca: Column, cb: Column): Column =
      round(cp.cast("double") / sqrt(ca.cast("double") * cb.cast("double")), 6)
    val scored = joined.select(col("x").as("item"), col("y").as("neighbor"),
        col("cp").as("pair_n"), cosine(col("cp"), col("cx"), col("cy")).as("cosine"))
      .unionByName(joined.select(col("y").as("item"), col("x").as("neighbor"),
        col("cp").as("pair_n"), cosine(col("cp"), col("cy"), col("cx")).as("cosine")))
    graft.plans.TopK.perGroup(scored, groupCols = Seq("item"),
        sortSpec = Seq(("cosine", false), ("neighbor", true)), k = topK)
      .orderBy("item", "rn")
  }
}
