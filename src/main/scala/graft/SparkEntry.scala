package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.{ChunkedFetcher, Tables}
import graft.ops._

/** The query registry — see SURVEY.md §7.
  *
  * Every operator from SURVEY.md §2 is reachable through one record of
  * [[registry]]: the query's build next to its DuckDB oracle (same column
  * names, same deterministic ORDER BY — the two full results are
  * hash-compared). Approximate and hash-seeded operators (MinHash, SimHash,
  * LSH-ANN) have oracles too, which replay the operator's portable hash
  * family or seeded construction; their recall against the exact
  * counterparts is asserted in the scalatest suite. [[queries]] and
  * [[oracleSql]] are the name-keyed views that `Verify`, the oracle
  * compare and the benchmark read.
  */
object SparkEntry {

  private type Q = (SparkSession, String) => DataFrame
  private def t(name: String)(f: DataFrame => DataFrame): Q =
    (s, dir) => f(Tables.load(s, dir, name))

  // The two edge derivations several graph queries start from: the
  // one-year part co-occurrence (basket) graph and the directed
  // nation-trade graph. Each query builds its own; a query that reads the
  // graph more than once passes the one frame to every consumer.
  private def basketEdgesOf(s: SparkSession, dir: String): DataFrame =
    Graph.basketEdges(Tables.lineitem(s, dir))
  private def tradeEdgesOf(s: SparkSession, dir: String): DataFrame =
    Graph.tradeEdges(Tables.lineitem(s, dir), Tables.orders(s, dir),
      Tables.customer(s, dir), Tables.supplier(s, dir))
  // Louvain level 1 over one edge frame: the 4-round LPA labeling refined
  // by 2 local-move rounds (q_louvain, q_louvain_multilevel); the LPA
  // labels are released once refineCommunities has copied them
  private def louvainLabels(edges: DataFrame): DataFrame = Checkpoints.owned {
    Graph.refineCommunities(edges, Graph.communities(edges, rounds = 4, sorted = false),
      rounds = 2, sorted = false)
  }
  private val ndcgQuerySets =
    Seq(Seq("join", "vector"), Seq("dup", "spark"), Seq("the", "data"))
  private def brandSeedsOf(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir).filter(col("p_brand") === "Brand#1")
      .select(col("p_partkey").as("node"))
  // every 50th doc stands in for a benchmark/eval set (the decontamination
  // guards' self-benchmark shape, replayed by their oracles)
  private def evalSubset(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(50)) === 0)
  private val curationMix = (10 to 19).map(i => s"src$i" -> 8).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Reference-shaped chunked fetch (distinct keys → chunks → filtered
    * scans → union) feeding a star-join aggregate.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val fetcher = ChunkedFetcher(spark, dir, "orders")
    val chunks = fetcher.chunks("o_custkey", byNbChunks = Some(4))
    val orders = fetcher.fetchAll(chunks)
    Relational.revenueByRegion(orders,
      Tables.customer(spark, dir), Tables.nation(spark, dir), Tables.region(spark, dir))
  }

  // decimal-exact double sum the oracle mirrors bit-for-bit; scale must
  // cover the value's decimal digits (see Helpers.dsum)
  private def DS(c: String, scale: Int = 4) = s"CAST(SUM(CAST($c AS DECIMAL(18,$scale))) AS DOUBLE)"

  // BM25 demo query: a mix of common and rare fixture vocabulary
  private val bm25Terms = Seq("join", "vector", "dup", "spark")

  // q_curation_lsh shares q_curation's oracle verbatim: its MinHash-LSH
  // edges are exactly verified (⊆ exact edges) and the fixture's duplicate
  // pairs are all high-Jaccard — far inside 16×4 banding recall — so the
  // survivor sets (verified identical at sf0.001 AND sf0.01) and every
  // deterministic downstream stage coincide. PipelinesSpec asserts the
  // superset direction that holds structurally at any scale.
  //
  // the full pipeline: quality gate -> jaccard dedup keep-list (on the
  // gated corpus) -> md5 mixture -> split -> contiguous packing
  private val curationOracle =
    """WITH RECURSIVE
         s0 AS (SELECT doc_id, length(text) AS nc,
                  regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents),
         gate AS (SELECT doc_id FROM s0
                  WHERE round(CAST(nc AS DOUBLE) / greatest(len(tk), 1), 6) BETWEEN 4.0 AND 9.0
                    AND round(CAST(len(list_distinct(tk)) AS DOUBLE) / greatest(len(tk), 1), 6) >= 0.3),
         docs AS (SELECT d.* FROM documents d JOIN gate USING (doc_id)),
         toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM docs),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  generate_series(1, greatest(len(t) - 2, 0)),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle FROM toks),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         jp AS (SELECT id_a, id_b FROM (
                  SELECT id_a, id_b,
                         round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
                  FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id)
                WHERE jaccard >= 0.5),
         edges AS (SELECT id_a, id_b FROM jp UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM jp),
         reach(src, dst) AS (
           SELECT id_a, id_a FROM edges
           UNION
           SELECT r.src, e.id_b FROM reach r JOIN edges e ON r.dst = e.id_a),
         cl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
         dd AS (SELECT d.* FROM docs d LEFT JOIN cl ON d.doc_id = cl.doc_id
                WHERE cl.doc_id IS NULL OR cl.cluster_id = d.doc_id),
         mixed AS (SELECT * FROM dd
                   WHERE CASE WHEN source IN ('src10','src11','src12','src13','src14',
                                              'src15','src16','src17','src18','src19')
                         THEN strpos('0123456789abcdef',
                                     substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 8
                         ELSE TRUE END),
         t2 AS (SELECT doc_id, source,
                  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens,
                  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4') THEN 'val' ELSE 'train' END AS split
                FROM mixed),
         c2 AS (SELECT doc_id, source, n_tokens, split,
                  SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t2)
         SELECT doc_id, source, n_tokens, split, CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id
         FROM c2 ORDER BY doc_id"""

  /** One registered query: how to build it from a fixture directory, and
    * the DuckDB SQL its full result must hash-match.
    */
  private[graft] final case class QueryDef(
      name: String, build: (SparkSession, String) => DataFrame, oracle: String)

  // a lazy val, so an oracle that interpolates a val of this object never
  // reads it before the object is initialized
  private[graft] lazy val registry: Seq[QueryDef] = Seq(
    // ---- A/B/C/D: reference surface (scan/filter/distinct/agg/chunks) ----
    QueryDef("q_scan_filter", t("lineitem")(Relational.filteredScan(_, Seq("A", "R"))),
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, l_extendedprice
         FROM lineitem WHERE l_returnflag IN ('A','R')
         ORDER BY l_orderkey, l_linenumber, l_returnflag, l_quantity, l_extendedprice"""),
    QueryDef("q_distinct", t("customer")(Relational.distinctValues),
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"),
    QueryDef("q_groupby_count", t("orders")(Relational.groupByCount),
      "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    QueryDef("q_scalar_sum", t("lineitem")(Relational.scalarSum),
      s"SELECT ${DS("l_quantity")} AS sum_qty, ${DS("l_extendedprice")} AS sum_price, COUNT(*) AS n FROM lineitem"),
    QueryDef("q_dispersion", t("orders")(Relational.dispersion(_)),
      """WITH counts AS (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey),
         m AS (SELECT AVG(cnt) AS mean_cnt FROM counts)
         SELECT round(m.mean_cnt, 6) AS mean_cnt,
                round(CAST(SUM(CASE WHEN abs(cnt - m.mean_cnt) > m.mean_cnt * 0.25 THEN 1 ELSE 0 END) AS DOUBLE)
                      / COUNT(*), 6) AS frac_outside
         FROM counts, m GROUP BY m.mean_cnt"""),
    QueryDef("q_chunked_fetch", (s, dir) => {
      val fetcher = ChunkedFetcher(s, dir, "orders")
      val chunks = fetcher.chunks("o_custkey", byNbChunks = Some(8))
      fetcher.fetchAll(chunks)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
            .cast("double").as("revenue"))
        .orderBy("o_orderstatus")
    },
      s"""SELECT o_orderstatus, COUNT(*) AS n, ${DS("o_totalprice")} AS revenue
          FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    // the scale form of the chunked fetch: no driver-side key list at all —
    // the "chunks" are hash partitions of the scan (D3/D4 at 100 TB)
    QueryDef("q_chunked_fetch_partitioned", (s, dir) => {
      val fetcher = ChunkedFetcher(s, dir, "orders")
      fetcher.fetchAllPartitioned("o_custkey", 8)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
            .cast("double").as("revenue"))
        .orderBy("o_orderstatus")
    },
      s"""SELECT o_orderstatus, COUNT(*) AS n, ${DS("o_totalprice")} AS revenue
          FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    // the DSv2 connector under the hash gate: agg leg answered from chunk
    // metadata (aggregate pushdown), rows leg through the filter-folded
    // row reader with payload content hashed (see ChunkedSource.gateQuery)
    QueryDef("q_chunked_source", (s, _) => graft.sources.ChunkedSource.gateQuery(s),
      graft.sources.ChunkedSource.gateOracleSql),
    QueryDef("q_pricing_summary", t("lineitem")(Relational.pricingSummary),
      s"""SELECT l_returnflag, l_linestatus,
                 ${DS("l_quantity")} AS sum_qty,
                 ${DS("l_extendedprice")} AS sum_base_price,
                 ${DS("l_extendedprice * (1.0 - l_discount)", 6)} AS sum_disc_price,
                 ${DS("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 6)} AS sum_charge,
                 ${DS("l_quantity")} / COUNT(l_quantity) AS avg_qty,
                 ${DS("l_extendedprice")} / COUNT(l_extendedprice) AS avg_price,
                 COUNT(*) AS count_order
          FROM lineitem GROUP BY l_returnflag, l_linestatus
          ORDER BY l_returnflag, l_linestatus"""),
    QueryDef("q_shipping_priority", (s, dir) => Relational.shippingPriority(
      Tables.lineitem(s, dir), Tables.orders(s, dir), Tables.customer(s, dir)),
      s"""SELECT l_orderkey, ${DS("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue,
                 CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_date, o_orderpriority
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE c_mktsegment = 'BUILDING'
          GROUP BY l_orderkey, o_orderdate, o_orderpriority
          ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
    // ---- E: joins ----
    QueryDef("q_join_star", (s, dir) => Relational.revenueByRegion(
      Tables.orders(s, dir), Tables.customer(s, dir), Tables.nation(s, dir), Tables.region(s, dir)),
      s"""SELECT r_name, ${DS("o_totalprice")} AS revenue, COUNT(*) AS n_orders
          FROM orders JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name ORDER BY r_name"""),
    QueryDef("q_local_volume", (s, dir) => Relational.localSupplierVolume(
      Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir),
      Tables.supplier(s, dir), Tables.nation(s, dir), Tables.region(s, dir)),
      s"""SELECT n_name, ${DS("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue,
                 COUNT(*) AS n_lines
          FROM customer JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1998-01-01'
          GROUP BY n_name ORDER BY revenue DESC, n_name"""),
    QueryDef("q_volume_shipping", (s, dir) => Relational.volumeShipping(
      Tables.lineitem(s, dir), Tables.orders(s, dir), Tables.customer(s, dir),
      Tables.supplier(s, dir), Tables.nation(s, dir)),
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(l_shipdate) AS BIGINT) AS l_year,
                 ${DS("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE l_shipdate >= TIMESTAMP '1995-01-01'
            AND l_shipdate < TIMESTAMP '1999-01-01'
            AND ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
              OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
          GROUP BY supp_nation, cust_nation, l_year
          ORDER BY supp_nation, cust_nation, l_year"""),
    QueryDef("q_returned_items", (s, dir) => Relational.returnedItems(
      Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir),
      Tables.nation(s, dir)),
      s"""WITH agg AS (
            SELECT o_custkey, ${DS("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-07-01'
              AND l_returnflag = 'R'
            GROUP BY o_custkey)
          SELECT c_custkey, c_name, n_name, round(c_acctbal, 2) AS c_acctbal, revenue
          FROM agg JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          ORDER BY revenue DESC, c_custkey LIMIT 20"""),
    QueryDef("q_promo_effect", (s, dir) => Relational.promoRevenue(
      Tables.lineitem(s, dir), Tables.part(s, dir)),
      s"""SELECT CAST(floor(epoch(date_trunc('month', l_shipdate))) AS BIGINT) AS ship_month,
                 ${DS("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END", 6)} AS promo_revenue,
                 ${DS("l_extendedprice * (1.0 - l_discount)", 6)} AS total_revenue,
                 round(100.0 * ${DS("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END", 6)}
                       / ${DS("l_extendedprice * (1.0 - l_discount)", 6)}, 6) AS promo_share
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1997-01-01'
          GROUP BY ship_month ORDER BY ship_month"""),
    QueryDef("q_market_share", (s, dir) => Relational.marketShare(
      Tables.lineitem(s, dir), Tables.orders(s, dir), Tables.customer(s, dir),
      Tables.supplier(s, dir), Tables.nation(s, dir), Tables.region(s, dir),
      Tables.part(s, dir)),
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                 ${DS("CASE WHEN n2.n_name = 'NATION_19' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END", 6)} AS nation_revenue,
                 ${DS("l_extendedprice * (1.0 - l_discount)", 6)} AS total_revenue,
                 round(${DS("CASE WHEN n2.n_name = 'NATION_19' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END", 6)}
                       / ${DS("l_extendedprice * (1.0 - l_discount)", 6)}, 6) AS mkt_share
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN region ON n1.n_regionkey = r_regionkey
          JOIN lineitem ON l_orderkey = o_orderkey
          JOIN part ON l_partkey = p_partkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
            AND o_orderdate >= TIMESTAMP '1995-01-01'
            AND o_orderdate < TIMESTAMP '1999-01-01'
          GROUP BY o_year ORDER BY o_year"""),
    QueryDef("q_nation_profit", (s, dir) => Relational.nationProfit(
      Tables.lineitem(s, dir), Tables.orders(s, dir), Tables.supplier(s, dir),
      Tables.nation(s, dir), Tables.part(s, dir)),
      s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
                 ${DS("l_extendedprice * (1.0 - l_discount) - p_retailprice * 0.1 * l_quantity", 6)} AS profit
          FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN orders ON l_orderkey = o_orderkey
          WHERE p_name LIKE 'red%'
          GROUP BY n_name, year(o_orderdate) ORDER BY nation, o_year"""),
    QueryDef("q_late_lines", (s, dir) => Relational.latePriorityLines(
      Tables.lineitem(s, dir), Tables.orders(s, dir)),
      """SELECT l_returnflag,
                CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_shipdate >= o_orderdate + INTERVAL 90 DAY
         GROUP BY l_returnflag ORDER BY l_returnflag"""),
    // ---- E+: subquery / decorrelation family (Q2/Q4/Q11/Q13/Q16/Q17/Q18/Q19/Q21/Q22 shapes) ----
    QueryDef("q_big_orders", (s, dir) => Subqueries.bigOrders(
      Tables.lineitem(s, dir), Tables.orders(s, dir), Tables.customer(s, dir)),
      s"""WITH q AS (
            SELECT l_orderkey AS qk, ${DS("l_quantity")} AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING ${DS("l_quantity")} > 200.0)
          SELECT c_custkey, c_name, o_orderkey,
                 CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_date,
                 round(o_totalprice, 2) AS o_totalprice, sum_qty
          FROM orders JOIN q ON o_orderkey = qk
          JOIN customer ON o_custkey = c_custkey
          ORDER BY sum_qty DESC, o_orderkey LIMIT 100"""),
    QueryDef("q_priority_exists", (s, dir) => Subqueries.orderPriorityCheck(
      Tables.orders(s, dir), Tables.lineitem(s, dir)),
      """SELECT o_orderpriority, COUNT(*) AS n_orders
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    QueryDef("q_important_parts", t("lineitem")(Subqueries.importantParts(_)),
      s"""WITH v AS (
            SELECT l_partkey, ${DS("l_extendedprice * (1.0 - l_discount)", 6)} AS part_value
            FROM lineitem GROUP BY l_partkey)
          SELECT l_partkey, part_value FROM v
          WHERE part_value > 0.0008 * (SELECT CAST(SUM(CAST(part_value AS DECIMAL(18,6))) AS DOUBLE) FROM v)
          ORDER BY part_value DESC, l_partkey"""),
    QueryDef("q_corr_matrix", t("lineitem")(Stats.corrMatrix(_,
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
      Stats.corrOracleSql("lineitem",
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
    QueryDef("q_iqr_outliers", t("orders")(Stats.iqrOutliers(_, "o_totalprice", "o_orderstatus")),
      """WITH f AS (
           SELECT o_orderstatus,
                  quantile_cont(o_totalprice, 0.25) AS q1,
                  quantile_cont(o_totalprice, 0.75) AS q3
           FROM orders GROUP BY o_orderstatus)
         SELECT o.o_orderstatus, round(q1, 4) AS q1, round(q3, 4) AS q3,
                CAST(SUM(CASE WHEN o_totalprice < q1 - 1.5 * (q3 - q1)
                                 OR o_totalprice > q3 + 1.5 * (q3 - q1)
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                COUNT(*) AS n_rows
         FROM orders o JOIN f ON o.o_orderstatus = f.o_orderstatus
         GROUP BY o.o_orderstatus, q1, q3
         ORDER BY o.o_orderstatus"""),
    // the remediation sibling: raw vs winsorized mean with the tail
    // clamped to the 5th/95th percentile fences, all sums exact decimals
    QueryDef("q_winsorized", t("orders")(Stats.winsorizedStats(_, "o_totalprice", "o_orderstatus")),
      // o_totalprice loads as double → the operator derives the documented
      // DECIMAL(30,6) fence for non-decimal value columns; keep in sync
      Stats.winsorizedOracleSql("orders", "o_totalprice", "o_orderstatus",
        fenceType = "DECIMAL(30,6)")),
    // the breakdown-0.5 robust sibling: median/MAD fences instead of
    // percentile clamps, grouped by priority to exercise a different key
    QueryDef("q_mad_outliers", t("orders")(Stats.madOutliers(_, "o_totalprice", "o_orderpriority")),
      Stats.madOracleSql("orders", "o_totalprice", "o_orderpriority")),
    // one window (user, time) computes first+last touch together; revenue
    // is an order-free decimal sum
    QueryDef("q_attribution", t("events")(Events.attribution(_)),
      Events.attributionOracleSql()),
    // RFM quintiles via broadcast exact-percentile fences — deliberately
    // NOT a global ntile window (single-task at scale)
    QueryDef("q_rfm", t("orders")(Relational.rfmSegments(_)),
      Relational.rfmOracleSql()),
    // row-local Flesch reading-ease over the library's one tokenization
    QueryDef("q_readability", t("documents")(Text.readability(_)),
      Text.readabilityOracleSql()),
    // first-occurrence n-gram novelty: what does a new snapshot actually add
    QueryDef("q_ngram_novelty", t("documents")(Text.ngramNovelty(_)),
      Text.ngramNoveltyOracleSql()),
    // weighted lexical near-dup: tf-idf cosine over df-capped shingle postings
    QueryDef("q_tfidf_pairs", t("documents")(Dedup.tfidfCosinePairs(_)),
      Dedup.tfidfPairsOracleSql()),
    QueryDef("q_dup_rate", t("documents")(Dedup.dupRateBySource),
      """WITH d AS (SELECT doc_id, source, sha256(text) AS digest FROM documents),
         c AS (SELECT digest, COUNT(*) AS n_copies FROM d GROUP BY digest)
         SELECT source, COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
                round(CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                      / COUNT(*), 6) AS dup_rate
         FROM d JOIN c ON d.digest = c.digest
         GROUP BY source ORDER BY source"""),
    QueryDef("q_order_count_dist", (s, dir) => Subqueries.orderCountDistribution(
      Tables.customer(s, dir), Tables.orders(s, dir)),
      """WITH counts AS (
           SELECT c_custkey, COUNT(o_orderkey) AS c_count
           FROM customer LEFT JOIN (
             SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT') o
             ON c_custkey = o_custkey
           GROUP BY c_custkey)
         SELECT c_count, COUNT(*) AS custdist FROM counts
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""),
    QueryDef("q_supplier_counts", (s, dir) => Subqueries.supplierCounts(
      Tables.lineitem(s, dir), Tables.part(s, dir), Tables.supplier(s, dir)),
      """SELECT p_brand, p_type, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
         JOIN part ON l_partkey = p_partkey
         WHERE p_size BETWEEN 1 AND 25
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type
         ORDER BY supplier_cnt DESC, p_brand, p_type"""),
    QueryDef("q_small_qty_revenue", (s, dir) => Subqueries.smallQuantityRevenue(
      Tables.lineitem(s, dir), Tables.part(s, dir)),
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly
         FROM lineitem l1 JOIN part ON l_partkey = p_partkey
         WHERE p_brand = 'Brand#13'
           AND l_quantity < 0.5 * (
             SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity)
             FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)"""),
    QueryDef("q_disjunctive_join", (s, dir) => Subqueries.disjunctiveRevenue(
      Tables.lineitem(s, dir), Tables.part(s, dir)),
      s"""SELECT ${DS("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue,
                 COUNT(*) AS n_lines
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
             OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
             OR (p_brand = 'Brand#5'  AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)"""),
    QueryDef("q_min_cost_supplier", (s, dir) => Subqueries.minCostSupplier(
      Tables.lineitem(s, dir), Tables.part(s, dir), Tables.supplier(s, dir),
      Tables.nation(s, dir)),
      """WITH offers AS (
           SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS offer_price
           FROM lineitem GROUP BY l_partkey, l_suppkey)
         SELECT p_partkey, p_name, s_name, n_name,
                round(s_acctbal, 2) AS s_acctbal, offer_price AS min_price
         FROM offers
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE p_type = 'PROMO' AND p_size >= 45
           AND offer_price = (SELECT MIN(o2.offer_price) FROM offers o2
                              WHERE o2.l_partkey = offers.l_partkey)
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey"""),
    QueryDef("q_sole_blame", (s, dir) => Subqueries.soleBlame(
      Tables.lineitem(s, dir), Tables.supplier(s, dir)),
      """WITH rl AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'),
            al AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
         SELECT s_name, numwait FROM (
           SELECT l_suppkey, COUNT(*) AS numwait
           FROM rl l1
           WHERE EXISTS (SELECT 1 FROM al l2
                         WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
             AND NOT EXISTS (SELECT 1 FROM rl l3
                             WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
           GROUP BY l_suppkey) w
         JOIN supplier ON l_suppkey = s_suppkey
         ORDER BY numwait DESC, s_name"""),
    QueryDef("q_idle_customers", (s, dir) => Subqueries.idleCustomers(
      Tables.customer(s, dir), Tables.orders(s, dir)),
      s"""SELECT c_nationkey, COUNT(*) AS n_custs, ${DS("c_acctbal")} AS total_bal
          FROM customer
          WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(c_acctbal)
                             FROM customer WHERE c_acctbal > 0)
            AND NOT EXISTS (SELECT 1 FROM orders
                            WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01')
          GROUP BY c_nationkey ORDER BY c_nationkey"""),
    QueryDef("q_forecast_revenue", t("lineitem")(Subqueries.forecastRevenue(_)),
      s"""SELECT ${DS("l_extendedprice * l_discount", 6)} AS revenue_effect,
                 COUNT(*) AS n_lines
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
            AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24.0"""),
    QueryDef("q_top_supplier", (s, dir) => Subqueries.topSupplier(
      Tables.lineitem(s, dir), Tables.supplier(s, dir)),
      s"""WITH rev AS (
            SELECT l_suppkey, ${DS("l_extendedprice * (1.0 - l_discount)", 6)} AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey)
          SELECT s_suppkey, s_name, total_revenue
          FROM rev JOIN supplier ON l_suppkey = s_suppkey
          WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
          ORDER BY s_suppkey"""),
    QueryDef("q_excess_shippers", (s, dir) => Subqueries.excessShippers(
      Tables.lineitem(s, dir), Tables.part(s, dir), Tables.supplier(s, dir)),
      """WITH shipped AS (
            SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE 'red%'
              AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l_partkey, l_suppkey),
          qual AS (
            SELECT DISTINCT l_suppkey FROM (
              SELECT l_suppkey, qty, SUM(qty) OVER (PARTITION BY l_partkey) AS total
              FROM shipped) t
            WHERE qty > 0.5 * total)
          SELECT s_suppkey, s_name
          FROM supplier JOIN qual ON s_suppkey = l_suppkey
          ORDER BY s_suppkey"""),
    QueryDef("q_join_inner", (s, dir) => Relational.joinInner(Tables.lineitem(s, dir), Tables.orders(s, dir)),
      s"""SELECT o_orderpriority, COUNT(*) AS n_lines, ${DS("l_extendedprice")} AS sum_price
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    QueryDef("q_join_left", (s, dir) => Relational.joinLeft(Tables.customer(s, dir), Tables.orders(s, dir)),
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey"""),
    QueryDef("q_join_right", (s, dir) => Relational.joinRight(Tables.orders(s, dir), Tables.customer(s, dir)),
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
         FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
         GROUP BY c_custkey ORDER BY c_custkey"""),
    QueryDef("q_join_full", (s, dir) => Relational.joinFullOuter(Tables.customer(s, dir), Tables.orders(s, dir)),
      """WITH cust AS (SELECT DISTINCT c_custkey AS k FROM customer),
         big AS (SELECT o_custkey AS k2, COUNT(*) AS n FROM orders GROUP BY o_custkey HAVING COUNT(*) > 8)
         SELECT COALESCE(k, k2) AS custkey, k IS NOT NULL AS in_customer, k2 IS NOT NULL AS in_big
         FROM cust FULL OUTER JOIN big ON k = k2 ORDER BY custkey"""),
    QueryDef("q_join_semi", (s, dir) => Relational.joinSemi(Tables.customer(s, dir), Tables.orders(s, dir)),
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey"""),
    QueryDef("q_join_anti", (s, dir) => Relational.joinAnti(Tables.customer(s, dir), Tables.orders(s, dir)),
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey"""),
    QueryDef("q_join_range", t("part")(Relational.joinRangeBands),
      s"""SELECT band, COUNT(*) AS n_parts, ${DS("p_retailprice")} AS sum_price
          FROM part JOIN (SELECT * FROM (VALUES ('low', 0.0, 1200.0), ('mid', 1200.0, 1600.0),
                          ('high', 1600.0, 1e18)) AS v(band, lo, hi)) bands
          ON p_retailprice >= lo AND p_retailprice < hi
          GROUP BY band ORDER BY band"""),
    QueryDef("q_range_join_binned", t("events")(ev => {
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), unix_timestamp(col("ts")).as("lo"))
        .withColumn("hi", col("lo") + 600)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), unix_timestamp(col("ts")).as("pt"))
      Relational.binnedRangeJoin(purchases, errors, "pt", "lo", "hi", 600)
        .select("err_id", "purchase_id")
        .orderBy("err_id", "purchase_id")
    }),
      """SELECT e.event_id AS err_id, p.event_id AS purchase_id
         FROM (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS lo
               FROM events WHERE event_type = 'error') e
         JOIN (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS pt
               FROM events WHERE event_type = 'purchase') p
           ON p.pt >= e.lo AND p.pt <= e.lo + 600
         ORDER BY err_id, purchase_id"""),
    QueryDef("q_join_cross", (s, dir) => Relational.crossCount(Tables.nation(s, dir), Tables.region(s, dir)),
      """SELECT r_name, COUNT(*) AS n_pairs FROM nation CROSS JOIN region
         GROUP BY r_name ORDER BY r_name"""),
    // damped PageRank over the symmetric customer<->part co-purchase graph;
    // decimal-exact contribution sums make 10 iterations bit-stable and
    // fully oracle-able (generated, iteration-unrolled SQL)
    // 5 iterations on the 3.5k-node co-purchase graph (per-round overhead
    // dominates at fixture scale — PERF.md); the trade query below keeps
    // the full 10-iteration demonstration on its 25-node graph
    QueryDef("q_pagerank", (s, dir) =>
      Graph.pageRank(Graph.copurchaseEdges(Tables.orders(s, dir), Tables.lineitem(s, dir)),
        iters = 5, sorted = false).orderBy(col("rank").desc, col("node")),
      Graph.pageRankOracleSql(iters = 5)),
    // degree-ordered triangle census over the part co-occurrence (basket)
    // graph — wedge generation bounded by oriented out-degrees (O(sqrt E)),
    // skew-immune; oracle replays the naive a<b<c triple join
    QueryDef("q_triangles", (s, dir) => Graph.triangleStats(basketEdgesOf(s, dir)),
      // naive formulation: each triangle x<y<z found once via its two
      // lower edges + the closing edge; wedges from the degree distribution
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
                        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                          AND l_shipdate < TIMESTAMP '1997-01-01'),
         pairs AS MATERIALIZED (
           SELECT DISTINCT x.p AS a, y.p AS b FROM items x
           JOIN items y ON x.ok = y.ok AND x.p < y.p),
         deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
                   SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs)
                 GROUP BY node),
         census AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                           CAST(COALESCE(SUM(deg * (deg - 1) // 2), 0) AS BIGINT) AS n_wedges
                    FROM deg),
         ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pairs),
         tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
                 FROM pairs e1
                 JOIN pairs e2 ON e2.a = e1.a AND e2.b > e1.b
                 JOIN pairs e3 ON e3.a = e1.b AND e3.b = e2.b)
         SELECT n_nodes, n_edges, n_wedges, n_triangles,
                round(CAST(n_triangles AS DOUBLE) * 3.0
                      / greatest(CAST(n_wedges AS DOUBLE), 1.0), 6) AS clustering
         FROM tri CROSS JOIN census CROSS JOIN ne"""),
    // Apriori level-2 association rules at the BRAND level (25-item
    // space over a broadcast dim join — where support thresholds bite;
    // 20k raw part keys almost never repeat as pairs): frequent pairs
    // scored by support/confidence/lift, both rule directions
    QueryDef("q_assoc_rules", (s, dir) =>
      Affinity.associationRules(Affinity.brandBaskets(Tables.lineitem(s, dir), Tables.part(s, dir)),
        minPairs = 2, pruneItems = false).orderBy("antecedent", "consequent"),
      // same counts, Apriori pruning elided (monotonicity makes it
      // invisible); support/confidence/lift written as the operator's exact
      // double-division sequence
      """WITH b AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS basket, p_brand AS item
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         n AS (SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n FROM b),
         itemn AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY item),
         pairs AS (SELECT x.item AS x, y.item AS y, CAST(COUNT(*) AS BIGINT) AS cp
                   FROM b x JOIN b y ON x.basket = y.basket AND x.item < y.item
                   GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         j AS (SELECT p.x, p.y, p.cp, cx.c AS cxc, cy.c AS cyc
               FROM pairs p
               JOIN itemn cx ON p.x = cx.item
               JOIN itemn cy ON p.y = cy.item),
         r AS (SELECT x AS antecedent, y AS consequent, cp, cxc AS ca, cyc AS cc FROM j
               UNION ALL
               SELECT y, x, cp, cyc, cxc FROM j)
         SELECT antecedent, consequent, cp AS pair_n,
                round(CAST(cp AS DOUBLE) / CAST(n AS DOUBLE), 6) AS support,
                round(CAST(cp AS DOUBLE) / CAST(ca AS DOUBLE), 6) AS confidence,
                round((CAST(cp AS DOUBLE) / CAST(ca AS DOUBLE))
                      / (CAST(cc AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS lift
         FROM r CROSS JOIN n
         ORDER BY antecedent, consequent"""),
    // 8-core of the THREE-year basket graph via synchronous peeling — the
    // dense backbone a density/spam filter extracts; the wider window
    // keeps the core non-empty at every fixture scale (one year's 5-core
    // is empty at sf0.001) and the higher k peels to fixpoint in 2-3
    // rounds; oracle unrolls 10, and maxIters is pinned to the SAME 10 so
    // a slow-converging corpus throws the designed fail-fast instead of
    // letting the operator run rounds the oracle never replays (round-10
    // review: maxIters=20 vs rounds=10 could silently hash-mismatch)
    QueryDef("q_kcore", (s, dir) => Graph.kCore(
      Graph.basketEdges(Tables.lineitem(s, dir), until = "1999-01-01"),
      k = 8, maxIters = 10).orderBy("node"),
      Graph.kCoreBasketOracleSql(k = 8, rounds = 10, until = "1999-01-01")),
    // community detection: 4 synchronous label-propagation rounds over
    // the basket graph, deterministic min-label tie-break — the round
    // count is the semantic contract (sync LPA can oscillate), so the
    // oracle unrolls exactly the same 4 rounds
    QueryDef("q_communities", (s, dir) =>
      Graph.communities(basketEdgesOf(s, dir), rounds = 4, sorted = false).orderBy("node"),
      Graph.communitiesBasketOracleSql(rounds = 4)),
    // modularity of that same 4-round LPA partition — the quality score a
    // user checks before acting on the communities (the operator reads the
    // labels three times; communities returns them checkpointed)
    QueryDef("q_modularity", (s, dir) => {
      val edges = basketEdgesOf(s, dir)
      Graph.modularity(edges, Graph.communities(edges, rounds = 4, sorted = false))
    },
      Graph.modularityBasketOracleSql(rounds = 4)),
    // Louvain-style refinement of that same LPA partition: 2 synchronous
    // local-move rounds, each node adopting the neighbor community with
    // the best EXACT integer modularity gain (swap-guarded, stay-on-tie)
    // — the modularity ASCENT step LPA proposes and q_modularity grades
    QueryDef("q_louvain", (s, dir) => louvainLabels(basketEdgesOf(s, dir)).orderBy("node"),
      Graph.louvainBasketOracleSql(lpaRounds = 4, moveRounds = 2)),
    // one MORE Louvain level — coarsen the level-1 labeling to supernodes
    // and rerun the exact-integer local moves on the weighted coarse graph
    QueryDef("q_louvain_multilevel", (s, dir) => {
      val edges = basketEdgesOf(s, dir)
      Graph.louvainCoarsen(edges, louvainLabels(edges), rounds = 2)
    },
      Graph.louvainMultilevelBasketOracleSql(
        lpaRounds = 4, moveRounds = 2, coarseRounds = 2)),
    // HyperANF neighborhood function of the basket graph: per hop, the
    // exact ≤h-hop pair count over 64 probe seeds + the declared HLL
    // bound + whether the sketch-propagation estimate lands inside it —
    // the exact-bound pattern (estimates stay OUT of the hashed columns)
    QueryDef("q_anf", (s, dir) => Graph.neighborhoodReport(basketEdgesOf(s, dir)).orderBy("h"),
      Graph.anfBasketOracleSql()),
    // connected components of the basket graph, run to CONVERGENCE
    // (pointer-jumped min-label propagation, O(log diameter) rounds) —
    // the oracle is a recursive-CTE transitive closure, a deliberately
    // different algorithm, so agreement certifies true reachability
    QueryDef("q_components", (s, dir) =>
      Graph.connectedComponents(basketEdgesOf(s, dir), sorted = false).orderBy("node"),
      Graph.componentsBasketOracleSql()),
    // component-size census of that labeling: size → component count,
    // the shape check (one giant component? a tail of pairs?) a dedup
    // pipeline reads before trusting transitive closures
    QueryDef("q_component_sizes", (s, dir) =>
      Graph.componentSizes(Graph.connectedComponents(basketEdgesOf(s, dir), sorted = false)),
      Graph.componentSizesBasketOracleSql()),
    // per-node triangle profile over the basket graph: degree, triangle
    // count, local clustering coefficient — the Watts-Strogatz density
    // feature (spam cliques score ≈1, bridges/hubs ≈0)
    QueryDef("q_tri_profile", (s, dir) => Graph.triangleProfile(basketEdgesOf(s, dir)),
      Graph.triangleProfileBasketOracleSql()),
    // per-edge embeddedness: common-neighbor count + neighborhood Jaccard
    // for every basket-graph edge — the strong-tie/local-bridge score
    QueryDef("q_embeddedness", (s, dir) => Graph.edgeEmbeddedness(basketEdgesOf(s, dir)),
      Graph.edgeEmbeddednessBasketOracleSql()),
    // degree assortativity of the basket graph: Pearson correlation of
    // endpoint degrees (Newman 2002, both directions) — one summary row,
    // decimal-exact sums, double only in the final division
    QueryDef("q_assortativity", (s, dir) =>
      Graph.degreeAssortativity(basketEdgesOf(s, dir)),
      Graph.assortativityBasketOracleSql()),
    // bounded BFS from one brand's parts over the basket graph: exact
    // hop distance to the nearest seed within 4 hops — the discrete
    // proximity feature beside personalized PageRank
    QueryDef("q_hop_distance", (s, dir) => Graph.hopDistance(basketEdgesOf(s, dir),
      brandSeedsOf(s, dir), maxHops = 4).orderBy("node"),
      Graph.hopDistanceOracleSql("Brand#1", maxHops = 4)),
    // weighted shortest paths from the same brand seeds: Bellman-Ford
    // over co-purchase PROXIMITY weights (maxCnt+1−cnt, exact longs —
    // strong ties are short), 4 relaxation rounds as the semantic cap;
    // the weighted twin of q_hop_distance
    QueryDef("q_shortest_paths", (s, dir) => Graph.shortestPaths(
      Graph.basketProximityEdges(Tables.lineitem(s, dir)), brandSeedsOf(s, dir), rounds = 4)
      .orderBy("node"),
      Graph.shortestPathsOracleSql("Brand#1", rounds = 4)),
    // item-item collaborative filtering: top-3 neighbors per part by
    // co-occurrence cosine over one ship-date year (the basket-graph
    // window), ranked through the custom bounded-heap top-k operator
    // (second consumer of TopKPerGroupExec); minPairs=1 — kNN wants the
    // best-available neighbor, not a support threshold
    QueryDef("q_item_neighbors", t("lineitem")(li =>
      Affinity.itemNeighbors(Affinity.basketItems(
        li.filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))),
        topK = 3, minPairs = 1, pruneItems = false).orderBy("item", "rn")),
      // the operator generates pairs row-locally from sorted basket arrays;
      // the oracle replays the equivalent basket self-join (same multiset)
      """WITH b AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1997-01-01'),
         itemn AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY item),
         pairs AS (SELECT x.item AS x, y.item AS y, CAST(COUNT(*) AS BIGINT) AS cp
                   FROM b x JOIN b y ON x.basket = y.basket AND x.item < y.item
                   GROUP BY 1, 2 HAVING COUNT(*) >= 1),
         j AS (SELECT p.x, p.y, p.cp, cx.c AS cxc, cy.c AS cyc
               FROM pairs p
               JOIN itemn cx ON p.x = cx.item
               JOIN itemn cy ON p.y = cy.item),
         s AS (SELECT x AS item, y AS neighbor, cp AS pair_n,
                      round(CAST(cp AS DOUBLE)
                            / sqrt(CAST(cxc AS DOUBLE) * CAST(cyc AS DOUBLE)), 6) AS cosine
               FROM j
               UNION ALL
               SELECT y, x, cp,
                      round(CAST(cp AS DOUBLE)
                            / sqrt(CAST(cyc AS DOUBLE) * CAST(cxc AS DOUBLE)), 6)
               FROM j),
         w AS (SELECT item, neighbor, pair_n, cosine,
                      row_number() OVER (PARTITION BY item
                                         ORDER BY cosine DESC, neighbor) AS rn
               FROM s)
         SELECT item, neighbor, pair_n, cosine, rn FROM w
         WHERE rn <= 3 ORDER BY item, rn"""),
    // WEIGHTED + dangling-corrected PageRank on the ~25-node directed
    // nation-trade graph (supplier nation -> customer nation, line-count
    // weights); at small SFs some nations host no shipping suppliers, so
    // the dangling redistribution is genuinely on the exercised path
    QueryDef("q_pagerank_trade", (s, dir) =>
      Graph.pageRank(tradeEdgesOf(s, dir), weightCol = Some("w"), sorted = false)
        .orderBy(col("rank").desc, col("node")),
      Graph.tradeRankOracleSql()),
    // HITS hubs/authorities on the same directed trade graph: authority =
    // pointed at by good hubs, hub = points at good authorities — the
    // producer/router split PageRank conflates; decimal-exact sums + IEEE
    // sqrt make the normalized iterations fully oracle-able. 3 iterations
    // (below the q_pagerank fixture-scale 5): HITS pays FOUR norm/score
    // jobs per round where PageRank pays two, so per-round overhead
    // dominates twice as fast — and on the 25-node trade graph the
    // score ORDER is already fixed by round 3 (spectral gap; the
    // closed-form specs pin the math at higher iteration counts)
    QueryDef("q_hits", (s, dir) =>
      Graph.hits(tradeEdgesOf(s, dir), iters = 3, sorted = false)
        .orderBy(col("authority").desc, col("node")),
      Graph.hitsTradeOracleSql(iters = 3)),
    // personalized PageRank: teleport restricted to one region's nations —
    // rank becomes proximity-to-seeds (topic-sensitive expansion)
    QueryDef("q_pagerank_seeded", (s, dir) => {
      val seeds = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("node"))
      Graph.personalizedPageRank(tradeEdgesOf(s, dir), seeds, iters = 5,
        weightCol = Some("w"), sorted = false).orderBy(col("rank").desc, col("node"))
    },
      Graph.seededTradeRankOracleSql(iters = 5)),
    // skew-mitigation paths ARE semantics-preserving — their oracle is the
    // PLAIN join/aggregate SQL, which is the whole point of registering them
    QueryDef("q_join_salted", (s, dir) => {
      val fact = Tables.lineitem(s, dir).select(col("l_orderkey").as("k"), col("l_extendedprice"))
      val dim = Tables.orders(s, dir).select(col("o_orderkey").as("k"), col("o_orderpriority"))
      Skew.saltedJoin(fact, dim, "k")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
            .cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    },
      // the UNSALTED join — salting must be invisible in the result
      s"""SELECT o_orderpriority, COUNT(*) AS n_lines, ${DS("l_extendedprice")} AS sum_price
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    QueryDef("q_salted_distinct", (s, dir) =>
      Skew.saltedCountDistinct(Tables.orders(s, dir), "o_orderstatus", "o_custkey")
        .orderBy("o_orderstatus"),
      // the plain COUNT(DISTINCT) — the two-phase salted form must agree
      """SELECT o_orderstatus, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    QueryDef("q_scalar_funcs", t("orders")(Relational.scalarFunctions),
      """SELECT o_orderkey,
                substring(o_orderpriority, 1, 1) AS prio_code,
                concat_ws('|', o_orderstatus, o_orderpriority) AS status_prio,
                CAST(year(o_orderdate) AS BIGINT) AS yr,
                CAST(month(o_orderdate) AS BIGINT) AS mo,
                CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT) AS month_start,
                CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since,
                round(abs(o_totalprice - 150000.0), 2) AS price_dev,
                list_contains(string_split(o_orderpriority, '-'), 'URGENT') AS is_urgent,
                string_split(o_orderpriority, '-')[1] AS prio_num,
                to_json(struct_pack(s := o_orderstatus)) AS js
         FROM orders ORDER BY o_orderkey"""),
    // typed cogroup (KeyValueGroupedDataset) — deliberately computes a
    // join-expressible rollup so the typed path carries a plain-SQL oracle
    QueryDef("q_cogroup_rollup", (s, dir) => Typed.customerOrderRollup(
      Tables.customer(s, dir), Tables.orders(s, dir)),
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
                CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 0) AS DOUBLE) AS total_price
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey"""),
    // mergeable-sketch rollup: weekly distincts from UNIONED daily HLL
    // sketches, anchored by exact counts + a declared
    // error bound so the row is hash-matched, not rows-only (round-5 VERDICT);
    // the raw-estimate form stays spec-tested in SketchesSpec
    QueryDef("q_hll_rollup", t("events")(Sketches.weeklyDistinctReport(_)),
      Sketches.weeklyReportOracleSql()),
    // Count-Min rollup: daily counting sketches merged counter-wise into
    // weeks, min-of-4 probe — FULL value oracle (integer hash family
    // exact in 64 bits on both engines), unlike HLL's bound report
    QueryDef("q_cms_rollup", t("events")(Sketches.weeklyTypeCountReport(_)),
      Sketches.cmsReportOracleSql()),
    // Z-order clustering: per-bucket bounding-box (data-skipping) stats
    QueryDef("q_zorder", t("lineitem")(Layout.zorderStats(_, "l_partkey", "l_suppkey")),
      // generated beside the operator from the same constants (the
      // minhashOracleSql pattern) — operator and oracle cannot drift
      Layout.zorderOracleSql("lineitem", "l_partkey", "l_suppkey")),
    // ---- F: windows / sorts / limits ----
    QueryDef("q_window_rank", t("orders")(Windows.topOrdersPerCustomer(_, 3)),
      """SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, drnk FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  ROW_NUMBER() OVER w AS rn, RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk
           FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey))
         WHERE rn <= 3 ORDER BY o_custkey, rn"""),
    QueryDef("q_window_lag", t("orders")(Windows.orderPriceDelta),
      """SELECT o_custkey, o_orderkey,
                round(o_totalprice - LAG(o_totalprice, 1) OVER w, 4) AS price_delta,
                LEAD(o_orderkey, 1) OVER w AS next_orderkey
         FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey"""),
    QueryDef("q_window_running", t("orders")(Windows.runningRevenue),
      """SELECT o_custkey, o_orderkey,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_price
         FROM orders ORDER BY o_custkey, o_orderkey"""),
    QueryDef("q_window_range", t("orders")(Windows.revenueNearby),
      """SELECT o_custkey, o_orderkey,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS nearby_revenue,
                COUNT(*) OVER w AS nearby_orders
         FROM (SELECT *, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s FROM orders)
         WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_s
                      RANGE BETWEEN 604800 PRECEDING AND 604800 FOLLOWING)
         ORDER BY o_custkey, o_orderkey"""),
    QueryDef("q_window_smooth", t("orders")(Windows.smoothedPrice),
      """SELECT o_custkey, o_orderkey,
                round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE)
                      / COUNT(*) OVER w, 6) AS smoothed_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
         ORDER BY o_custkey, o_orderkey"""),
    QueryDef("q_window_firstlast", t("orders")(Windows.firstLastOrder),
      """SELECT o_custkey, o_orderkey,
                FIRST_VALUE(o_orderkey) OVER w AS first_orderkey,
                LAST_VALUE(o_orderkey) OVER w AS last_orderkey
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY o_custkey, o_orderkey"""),
    QueryDef("q_window_ntile", t("part")(Windows.priceQuartiles),
      """SELECT p_partkey, p_brand,
                CAST(NTILE(4) OVER (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey) AS BIGINT) AS quartile
         FROM part ORDER BY p_partkey"""),
    QueryDef("q_window_pctrank", t("part")(Windows.relativeStanding),
      """SELECT p_partkey, p_brand,
                round(PERCENT_RANK() OVER w, 6) AS pct_rank,
                round(CUME_DIST() OVER w, 6) AS cume
         FROM part
         WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey)
         ORDER BY p_partkey"""),
    QueryDef("q_price_buckets", t("part")(Windows.priceBuckets),
      """WITH b AS (SELECT quantile_cont(p_retailprice, 0.25) AS b1,
                           quantile_cont(p_retailprice, 0.5) AS b2,
                           quantile_cont(p_retailprice, 0.75) AS b3 FROM part)
         SELECT p_partkey, CAST(1 + (p_retailprice > b1)::INT + (p_retailprice > b2)::INT
                                  + (p_retailprice > b3)::INT AS BIGINT) AS bucket
         FROM part, b ORDER BY p_partkey"""),
    QueryDef("q_sort_within", t("orders")(Windows.partitionSortedOrders(_)),
      """SELECT o_custkey, o_orderkey, o_totalprice FROM orders
         ORDER BY o_custkey, o_orderkey"""),
    QueryDef("q_topk", t("orders")(Windows.topKOrders(_, 25)),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 25"""),
    // custom whole-operator path (SURVEY §2 preference (c)): top-k per group
    // via graft.plans.TopKPerGroupExec — heap pruning, no WindowExec/sort
    QueryDef("q_topk_group", t("lineitem")(li => graft.plans.TopK.perGroup(
      li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
      groupCols = Seq("l_orderkey"),
      sortSpec = Seq(("l_extendedprice", false), ("l_linenumber", true)),
      k = 2).orderBy("l_orderkey", "rn")),
      """SELECT l_orderkey, l_linenumber, l_extendedprice, rn FROM (
           SELECT l_orderkey, l_linenumber, l_extendedprice,
                  CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey
                    ORDER BY l_extendedprice DESC, l_linenumber) AS BIGINT) AS rn
           FROM lineitem)
         WHERE rn <= 2 ORDER BY l_orderkey, rn"""),
    // the DECLARATIVE window-filter idiom, auto-rewritten to the same
    // physical operator by RowNumberTopKRule. TopK.install mutates session
    // state (extraOptimizations/extraStrategies), so it runs on a CLONED
    // session (newSession: same SparkContext + shared state, fresh session
    // state) — later bare row_number+filter queries in the caller's session
    // keep their unmodified window plans; physical plans must not depend on
    // query execution order.
    QueryDef("q_topk_group_auto", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val s2 = s.newSession()
      graft.plans.TopK.install(s2)
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s2, dir)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rn").cast("long").as("rn"))
        .orderBy("o_custkey", "rn")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn
           FROM orders)
         WHERE rn <= 2 ORDER BY o_custkey, rn"""),
    // ---- G: grouping extensions + set ops ----
    QueryDef("q_rollup", t("orders")(Grouping.rollupRevenue),
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, ${DS("o_totalprice")} AS revenue
          FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
          ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""),
    QueryDef("q_grouping_sets", t("orders")(Grouping.groupingSets),
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""),
    QueryDef("q_pivot", t("orders")(Grouping.pivotStatusCounts),
      """SELECT o_orderpriority,
                SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS n_f,
                SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS n_o,
                SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT AS n_p
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    QueryDef("q_cube", t("lineitem")(Grouping.cubeQuantity),
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ${DS("l_quantity")} AS sum_qty
          FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
          ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
    QueryDef("q_count_distinct", t("orders")(Grouping.distinctCounts),
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust FROM orders
         GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    QueryDef("q_percentiles", t("orders")(Grouping.percentiles),
      """SELECT o_orderstatus,
                round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                round(quantile_cont(o_totalprice, 0.9), 4) AS p90
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    QueryDef("q_histogram", t("orders")(Grouping.histogram(_, "o_totalprice", 10)),
      // identical two-pass arithmetic: double min/max bounds, equal widths,
      // max clamped into the last bin
      """WITH b AS (SELECT CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
                           CAST(MAX(o_totalprice) AS DOUBLE) AS hi FROM orders),
         w AS (SELECT lo, CASE WHEN hi > lo THEN (hi - lo) / 10 ELSE 1.0 END AS width FROM b),
         k AS (SELECT least(CAST(floor((CAST(o_totalprice AS DOUBLE) - lo) / width) AS BIGINT), 9) AS bucket
               FROM orders, w)
         SELECT bucket, round(lo + bucket * width, 6) AS bucket_lo,
                round(lo + (bucket + 1) * width, 6) AS bucket_hi, COUNT(*) AS n
         FROM k, w GROUP BY bucket, lo, width ORDER BY bucket"""),
    // exact-bound reports (the q_hll_rollup pattern): the sketch estimate
    // stays out of the output; exact values + bound/rank checks are emitted,
    // so both rows are hash-matched and an out-of-spec sketch goes red
    QueryDef("q_approx_percentiles", t("orders")(Grouping.approxPercentileReport(_)),
      Grouping.approxPercentileReportOracleSql),
    QueryDef("q_approx_distinct", t("orders")(Grouping.approxDistinctReport(_)),
      Grouping.approxDistinctReportOracleSql()),
    QueryDef("q_intersect", (s, dir) => Grouping.intersectNations(Tables.customer(s, dir), Tables.supplier(s, dir)),
      """SELECT c_nationkey AS nationkey FROM customer
         INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey"""),
    QueryDef("q_except", t("orders")(Grouping.exceptUrgent),
      """SELECT o_custkey AS custkey FROM orders
         EXCEPT SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
         ORDER BY custkey"""),
    QueryDef("q_union_counts", t("orders")(Grouping.unionAllCounts),
      """SELECT o_orderstatus, COUNT(*) AS n FROM (
           SELECT * FROM orders WHERE o_orderstatus = 'O'
           UNION ALL SELECT * FROM orders WHERE o_orderstatus <> 'O')
         GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    // ---- H: text analysis ----
    QueryDef("q_text_stats", t("documents")(Text.textStats),
      """SELECT doc_id, length(text) AS n_chars,
                len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tokens,
                len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS n_uniq_tokens
         FROM documents ORDER BY doc_id"""),
    QueryDef("q_quality", t("documents")(Text.qualityScore),
      """WITH s AS (SELECT doc_id, length(text) AS nc,
                regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
                len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is)\b')) AS stops
         FROM documents)
         SELECT doc_id,
                round(CAST(nc AS DOUBLE) / greatest(len(toks), 1), 6) AS mean_tok_len,
                round(CAST(stops AS DOUBLE) / greatest(len(toks), 1), 6) AS stopword_ratio,
                round(CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 6) AS type_token_ratio
         FROM s ORDER BY doc_id"""),
    QueryDef("q_token_counts", t("documents")(Text.tokenCounts),
      """SELECT doc_id,
                len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_ws_tokens,
                len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) AS n_bpe_tokens
         FROM documents ORDER BY doc_id"""),
    QueryDef("q_repetition", t("documents")(Text.repetitionStats),
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
         g AS (SELECT doc_id, list_transform(generate_series(1, greatest(len(t) - 2, 0)),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS gr, t FROM toks),
         d AS (SELECT doc_id, round(CASE WHEN len(gr) > 0
                 THEN 1.0 - CAST(len(list_distinct(gr)) AS DOUBLE) / len(gr)
                 ELSE 0.0 END, 6) AS dup_gram_ratio FROM g),
         tc AS (SELECT doc_id, unnest(t) AS tok FROM toks),
         cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM tc GROUP BY 1, 2),
         top AS (SELECT doc_id, round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_token_ratio
                 FROM cnt GROUP BY doc_id)
         SELECT d.doc_id, dup_gram_ratio, COALESCE(top_token_ratio, 0.0) AS top_token_ratio
         FROM d LEFT JOIN top ON d.doc_id = top.doc_id ORDER BY d.doc_id"""),
    QueryDef("q_pattern_counts", t("documents")(Text.patternCounts),
      """SELECT doc_id,
                CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
                CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT) AS n_digit_runs
         FROM documents ORDER BY doc_id"""),
    // the fixture corpus carries no PII, which would make the oracle a
    // vacuous identity check — both engines append the SAME deterministic
    // synthetic email/URL/digit-run per doc so the hash-match exercises the
    // actual replacement semantics
    QueryDef("q_redact", t("documents")(d => Text.redact(d.withColumn("text",
      concat(col("text"), lit(" mail user"), col("doc_id").cast("string"),
        lit("@example.com or https://ex.org/page/"), col("doc_id").cast("string"),
        lit(" id "), lpad(col("doc_id").cast("string"), 9, "0"))))),
      // same patterns, application order, and synthetic-PII augmentation as
      // the Spark side; 'g' flag matches Spark's replace-all semantics
      """WITH aug AS (SELECT doc_id,
                text || ' mail user' || CAST(doc_id AS VARCHAR)
                     || '@example.com or https://ex.org/page/' || CAST(doc_id AS VARCHAR)
                     || ' id ' || lpad(CAST(doc_id AS VARCHAR), 9, '0') AS text
              FROM documents)
         SELECT doc_id,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    'https?://[^\s]+', '<URL>', 'g'),
                  '[0-9]{6,}', '<NUM>', 'g') AS clean_text
         FROM aug ORDER BY doc_id"""),
    QueryDef("q_lang_id", t("documents")(Text.langId),
      """WITH s AS (SELECT doc_id,
                len(regexp_extract_all(lower(text), '\b(?:der|die|und|das|ist|nicht|ein|zu)\b')) AS h_de,
                len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|is|in|that|it)\b')) AS h_en,
                len(regexp_extract_all(lower(text), '\b(?:el|la|de|que|y|en|los|se)\b')) AS h_es,
                len(regexp_extract_all(lower(text), '\b(?:le|la|et|les|des|en|un|que)\b')) AS h_fr
         FROM documents)
         SELECT doc_id, CAST(greatest(h_de, h_en, h_es, h_fr) AS BIGINT) AS best_hits,
                CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                     WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
                     WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
                     WHEN h_en >= h_de THEN 'en'
                     ELSE 'de' END AS pred_lang
         FROM s ORDER BY doc_id"""),
    QueryDef("q_gopher_rules", t("documents")(Text.gopherRules(_)),
      // same rule constants as Text.gopherRules defaults; RE2 and Java
      // regex agree on the (?m) line-anchored patterns
      """WITH s AS (SELECT doc_id,
                CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_words,
                round(CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE)
                      / greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1), 6) AS mean_word_len,
                round(CAST(len(regexp_extract_all(text, '(?m)^[ \t]*[-*•]')) AS DOUBLE)
                      / greatest(len(string_split(text, chr(10))), 1), 6) AS bullet_line_ratio,
                round(CAST(len(regexp_extract_all(text, '(?m)\.\.\.$')) AS DOUBLE)
                      / greatest(len(string_split(text, chr(10))), 1), 6) AS ellipsis_line_ratio,
                CAST(len(list_intersect(regexp_extract_all(lower(text), '[a-z0-9]+'),
                    ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop_hits
         FROM documents)
         SELECT doc_id, n_words, mean_word_len, bullet_line_ratio, ellipsis_line_ratio, n_stop_hits,
                (n_words >= 40 AND n_words <= 100000
                 AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
                 AND bullet_line_ratio <= 0.9 AND ellipsis_line_ratio <= 0.3
                 AND n_stop_hits >= 1) AS keep
         FROM s ORDER BY doc_id"""),
    // the FULL Gopher repetition component (dup line/para count+char
    // fractions, top 2/3/4-gram char fractions — Rae et al. Table A1),
    // next to q_repetition's lighter dup-3-gram/top-token pair; exact
    // integer counts ride along so the oracle pins them
    QueryDef("q_repetition_gopher", t("documents")(Text.repetitionSignals),
      // mirrors repetitionSignals exactly: dup counts/chars = total minus
      // distinct (beyond-first occurrences), lines split on \n and
      // paragraphs on \n\n keeping empties, top n-gram by (count DESC,
      // gram ASC) over the shared [a-z0-9]+ lowercase tokenization;
      // fractions are one double division of the exact integer counts
      """WITH d AS (SELECT doc_id, COALESCE(text, '') AS text FROM documents),
         lstat AS (SELECT doc_id,
             CAST(len(ls) AS BIGINT) AS n_lines,
             CAST(len(ls) - len(list_distinct(ls)) AS BIGINT) AS n_dup_lines,
             CAST(COALESCE(list_sum(list_transform(ls, x -> length(x))), 0) AS BIGINT) AS n_line_chars,
             CAST(COALESCE(list_sum(list_transform(ls, x -> length(x))), 0)
               - COALESCE(list_sum(list_transform(list_distinct(ls), x -> length(x))), 0) AS BIGINT) AS n_dup_line_chars
           FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d)),
         pstat AS (SELECT doc_id,
             CAST(len(ps) AS BIGINT) AS n_paras,
             CAST(len(ps) - len(list_distinct(ps)) AS BIGINT) AS n_dup_paras,
             CAST(COALESCE(list_sum(list_transform(ps, x -> length(x))), 0) AS BIGINT) AS n_para_chars,
             CAST(COALESCE(list_sum(list_transform(ps, x -> length(x))), 0)
               - COALESCE(list_sum(list_transform(list_distinct(ps), x -> length(x))), 0) AS BIGINT) AS n_dup_para_chars
           FROM (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps FROM d)),
         w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws,
                      CAST(length(text) AS BIGINT) AS n_chars FROM d),
         g2 AS (SELECT doc_id, g, count(*) AS c FROM (
                  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
                    i -> ws[i] || ' ' || ws[i+1])) AS g FROM w WHERE len(ws) >= 2) GROUP BY 1, 2),
         g3 AS (SELECT doc_id, g, count(*) AS c FROM (
                  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 2),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g FROM w WHERE len(ws) >= 3) GROUP BY 1, 2),
         g4 AS (SELECT doc_id, g, count(*) AS c FROM (
                  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 3),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS g FROM w WHERE len(ws) >= 4) GROUP BY 1, 2),
         t2 AS (SELECT doc_id, CAST(c * length(g) AS BIGINT) AS chars FROM (
                  SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn
                  FROM g2) WHERE rn = 1),
         t3 AS (SELECT doc_id, CAST(c * length(g) AS BIGINT) AS chars FROM (
                  SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn
                  FROM g3) WHERE rn = 1),
         t4 AS (SELECT doc_id, CAST(c * length(g) AS BIGINT) AS chars FROM (
                  SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn
                  FROM g4) WHERE rn = 1)
         SELECT w.doc_id, lstat.n_lines, pstat.n_paras, w.n_chars,
                lstat.n_dup_lines, lstat.n_dup_line_chars,
                pstat.n_dup_paras, pstat.n_dup_para_chars,
                COALESCE(t2.chars, 0) AS top2_chars,
                COALESCE(t3.chars, 0) AS top3_chars,
                COALESCE(t4.chars, 0) AS top4_chars,
                round(CAST(lstat.n_dup_lines AS DOUBLE) / greatest(lstat.n_lines, 1), 6) AS dup_line_frac,
                round(CAST(lstat.n_dup_line_chars AS DOUBLE) / greatest(lstat.n_line_chars, 1), 6) AS dup_line_char_frac,
                round(CAST(pstat.n_dup_paras AS DOUBLE) / greatest(pstat.n_paras, 1), 6) AS dup_para_frac,
                round(CAST(pstat.n_dup_para_chars AS DOUBLE) / greatest(pstat.n_para_chars, 1), 6) AS dup_para_char_frac,
                round(CAST(COALESCE(t2.chars, 0) AS DOUBLE) / greatest(w.n_chars, 1), 6) AS top2_char_frac,
                round(CAST(COALESCE(t3.chars, 0) AS DOUBLE) / greatest(w.n_chars, 1), 6) AS top3_char_frac,
                round(CAST(COALESCE(t4.chars, 0) AS DOUBLE) / greatest(w.n_chars, 1), 6) AS top4_char_frac
         FROM w
         JOIN lstat USING (doc_id) JOIN pstat USING (doc_id)
         LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id) LEFT JOIN t4 USING (doc_id)
         ORDER BY doc_id"""),
    // trained quality classifier: 4 full-batch softsign-sigmoid gradient
    // steps distilling the Gopher rule gate into a smooth score — the
    // rules-to-classifier curation step; decimal-exact gradient sums make
    // the whole training loop replayable (iteration-unrolled oracle)
    QueryDef("q_quality_classifier", t("documents")(Text.qualityClassifier(_)),
      ops.Text.qualityClassifierOracleSql()),
    QueryDef("q_heavy_hitters", t("documents")(Text.heavyHitters(_)),
      // exact counterpart of the two-pass Misra-Gries plan (k=40): the
      // Spark side's candidate superset + exact verify equals this
      """WITH toks AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
         tot AS (SELECT COUNT(*) AS n_total FROM toks),
         cnt AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok)
         SELECT tok, cnt, round(CAST(cnt AS DOUBLE) / n_total, 6) AS share
         FROM cnt, tot WHERE cnt * 40 > n_total ORDER BY cnt DESC, tok"""),
    QueryDef("q_temperature_mix", t("documents")(Text.temperatureMixture(_)),
      // integer-exact quota math (sqrt weight, DIV allocation) + the md5
      // within-source ranking — mirrors Text.temperatureMixture step for step
      """WITH stats AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS vol FROM documents GROUP BY source),
         w AS (SELECT source, CAST(floor(sqrt(CAST(vol AS DOUBLE))) AS BIGINT) AS wgt FROM stats),
         t AS (SELECT source, (200 * wgt) // (SELECT SUM(wgt) FROM w) AS n_target FROM w),
         r AS (SELECT doc_id, source,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
               FROM documents)
         SELECT doc_id, source, rn FROM r JOIN t USING (source)
         WHERE rn <= n_target ORDER BY source, rn"""),
    QueryDef("q_top_ngrams", t("documents")(Text.topNgrams(_, 20)),
      """WITH toks AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
         grams AS (SELECT unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                     i -> t[i] || ' ' || t[i+1])) AS bigram FROM toks)
         SELECT bigram, COUNT(*) AS n FROM grams
         GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20"""),
    // PMI collocations: bigrams scored by association strength, not raw
    // frequency — exact counts, one ln under the round(6) discipline
    QueryDef("q_collocations", t("documents")(Text.pmiCollocations(_, minCount = 5)),
      // parallel unnest of the two shifted slices zips adjacent tokens;
      // PMI written as the operator's exact division/ln sequence
      """WITH toks AS MATERIALIZED (
           SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
         uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cu
                 FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
         tt AS (SELECT CAST(COALESCE(SUM(cu), 0) AS BIGINT) AS t FROM uni),
         bi AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS cp FROM (
                  SELECT unnest(t[1:len(t)-1]) AS x, unnest(t[2:len(t)]) AS y
                  FROM toks WHERE len(t) >= 2)
                GROUP BY x, y),
         bt AS (SELECT CAST(COALESCE(SUM(cp), 0) AS BIGINT) AS b FROM bi)
         SELECT bi.x, bi.y, cp AS pair_n,
                round(ln((CAST(cp AS DOUBLE) / CAST(b AS DOUBLE))
                      / ((CAST(cx.cu AS DOUBLE) / CAST(t AS DOUBLE))
                         * (CAST(cy.cu AS DOUBLE) / CAST(t AS DOUBLE)))), 6) AS pmi
         FROM bi
         JOIN uni cx ON bi.x = cx.tok
         JOIN uni cy ON bi.y = cy.tok
         CROSS JOIN tt CROSS JOIN bt
         WHERE cp >= 5
         ORDER BY bi.x, bi.y"""),
    // per-doc TF-IDF key terms, ranked through the bounded-heap top-k
    // (its third registry consumer)
    QueryDef("q_keyterms", t("documents")(Text.keyTerms(_, topK = 3)),
      """WITH tf AS MATERIALIZED (
           SELECT doc_id, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
             SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
             FROM documents)
           GROUP BY doc_id, tok),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
         n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
         s AS (SELECT doc_id, tf.term, tf.tf,
                      round(CAST(tf.tf AS DOUBLE)
                            * ln(CAST(n AS DOUBLE) / CAST(df.df AS DOUBLE)), 6) AS score
               FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
         w AS (SELECT doc_id, term, tf, score,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, term) AS rn
               FROM s)
         SELECT doc_id, term, tf, score, rn FROM w WHERE rn <= 3
         ORDER BY doc_id, rn"""),
    // per-source vocabulary audit through the custom top-k-per-group operator
    QueryDef("q_top_tokens_per_source", t("documents")(Text.topTokensPerSource(_, 5)),
      """WITH toks AS (SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
                       FROM documents),
         c AS (SELECT source, token, COUNT(*) AS n FROM toks GROUP BY 1, 2),
         r AS (SELECT source, token, n,
                      CAST(ROW_NUMBER() OVER (PARTITION BY source
                        ORDER BY n DESC, token) AS BIGINT) AS rn
               FROM c)
         SELECT source, token, n, rn FROM r WHERE rn <= 5
         ORDER BY source, rn"""),
    // vocabSize 100 < fixture vocabulary, so the OOV smoothing path is
    // genuinely exercised by the oracle
    QueryDef("q_surprisal", t("documents")(Text.unigramSurprisal(_, 100)),
      // same vocab truncation (top-100 by count desc, token asc), OOV
      // floor of count 1, per-token round(9) + exact decimal sum, mean
      // rounded to 6 — mirrors Text.unigramSurprisal step for step
      """WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
                       FROM documents),
         cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
         tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM cnt),
         vocab AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 100),
         sc AS (SELECT t.doc_id,
                  CAST(round(-ln(COALESCE(v.c, 1) / n), 9) AS DECIMAL(18,9)) AS s
                FROM toks t LEFT JOIN vocab v USING (tok) CROSS JOIN tot)
         SELECT doc_id, round(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS mean_surprisal,
                COUNT(*) AS n_tokens
         FROM sc GROUP BY doc_id ORDER BY doc_id"""),
    QueryDef("q_surprisal_bigram", t("documents")(Text.bigramSurprisal(_)),
      // generated beside the operator (the minhash pattern): same vocab/bigram
      // truncation, interpolation constants, and rounding discipline
      Text.bigramSurprisalOracleSql()),
    // per-doc lengths are exact cross-engine values; the zlib ratio itself
    // (not SQL-computable) is pinned per-row by its deflate-envelope bound
    QueryDef("q_compress_ratio", t("documents")(Text.compressionChecked),
      Text.compressionCheckedOracleSql),
    // its guarantee companion: exact UTF-8 byte totals + deflate sanity
    // booleans, oracle-pinned — the zlib path's driver-visible check
    QueryDef("q_compress_report", t("documents")(Text.compressionReport),
      Text.compressionReportOracleSql),
    // learned-BPE vocabulary + tokenization: deterministic, and the merge
    // loop is replayed exactly by a generated chained-CTE DuckDB oracle
    // (Bpe.mergesOracleSql / encodeOracleSql); hand-computed merges in
    // BpeSpec on top
    QueryDef("q_bpe_merges", t("documents")(Bpe.train(_, 30)),
      Bpe.mergesOracleSql(nMerges = 30)),
    QueryDef("q_bpe_encode", t("documents")(Bpe.encode(_, 30)),
      Bpe.encodeOracleSql(nMerges = 30)),
    // per-source fertility (BPE tokens per word) + compression (chars per
    // token) of the learned vocabulary — the stratified cost audit run
    // before a mixture decision bakes in a tokenizer that fits one source
    // badly
    QueryDef("q_tokenizer_audit", t("documents")(Bpe.tokenizerAudit(_, 30)),
      Bpe.tokenizerAuditOracleSql(nMerges = 30)),
    QueryDef("q_chunk_docs", t("documents")(Text.chunkDocuments(_)),
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
         c AS (SELECT doc_id, i AS chunk_idx, array_to_string(t[i*24+1 : i*24+32], ' ') AS chunk_text
               FROM toks, unnest(generate_series(0, CAST(greatest(ceil((len(t) - 32) / 24.0), 0) AS INT))) AS u(i)
               WHERE len(t) > 0)
         SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, chunk_text,
                CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS n_tokens
         FROM c ORDER BY doc_id, chunk_idx"""),
    QueryDef("q_dup_passages", t("documents")(Text.duplicatePassageStats(_)),
      // 32-token non-overlapping chunks (stride = chunk size), md5 per
      // chunk, docfreq >= 2 marks a passage shared with ANOTHER document
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
         c AS (SELECT doc_id, array_to_string(t[i*32+1 : i*32+32], ' ') AS chunk_text
               FROM toks, unnest(generate_series(0, CAST(greatest(ceil((len(t) - 32) / 32.0), 0) AS INT))) AS u(i)
               WHERE len(t) > 0),
         h AS (SELECT doc_id, md5(chunk_text) AS hh FROM c),
         df AS (SELECT hh, COUNT(DISTINCT doc_id) AS docfreq FROM h GROUP BY hh)
         SELECT doc_id, COUNT(*) AS n_chunks,
                CAST(SUM(CASE WHEN docfreq >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
                round(CAST(SUM(CASE WHEN docfreq >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS dup_fraction
         FROM h JOIN df USING (hh)
         GROUP BY doc_id ORDER BY doc_id"""),
    // in-document repeated-line removal: the remediation step behind the
    // Gopher repetition signals — first occurrence of each distinct line
    // survives, order preserved, one row-local pass
    QueryDef("q_dedup_lines_within", t("documents")(Text.dedupLinesWithinDoc(_)),
      // first occurrence per (doc, line) by position; survivors re-joined
      // in order; split keeps empty segments (blank-run collapse)
      """WITH l AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM (
             SELECT doc_id, unnest(list_transform(generate_series(1, len(ls)),
                      i -> {'pos': i, 'line': ls[i]})) AS u
             FROM (SELECT doc_id, string_split(COALESCE(text, ''), chr(10)) AS ls
                   FROM documents))),
         k AS (SELECT doc_id, pos, line,
                 ROW_NUMBER() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn,
                 COUNT(*) OVER (PARTITION BY doc_id) AS n_lines
               FROM l)
         SELECT doc_id,
                COALESCE(string_agg(line, chr(10) ORDER BY pos), '') AS clean_text,
                CAST(MAX(n_lines) - COUNT(*) AS BIGINT) AS n_removed
         FROM k WHERE rn = 1
         GROUP BY doc_id ORDER BY doc_id"""),
    // Unicode canonicalization: NFC (native codegen Expression) + control
    // strip + whitespace collapse — the pass that belongs before every
    // hash; one narrow projection, no typed boundary
    QueryDef("q_normalize_text", t("documents")(Text.normalizeText),
      Text.normalizeTextOracleSql),
    // C4 boilerplate cleanup: terminal-punctuation / min-words /
    // "javascript" line rules + lorem-ipsum / curly-brace page gates,
    // every doc kept with a page_kept verdict — one row-local pass
    QueryDef("q_c4_clean", t("documents")(Text.c4Clean(_)),
      Text.c4CleanOracleSql()),
    // exact substring-run dedup (Lee et al. shape): maximal token spans
    // whose every 8-gram window exists in another document, spans >= 15
    // tokens — duplicated runs at ANY alignment, the sub-document
    // modality fixed chunks / lines / paragraphs all miss
    QueryDef("q_substring_runs", t("documents")(Text.duplicateRuns(_)),
      // overlapping 8-gram hashes (the gramHash48 md5 family) with their
      // 1-based positions; grams shared across >= 2 docs; per-doc
      // gaps-and-islands (pos - row_number constant on a consecutive run)
      // merges them into maximal spans, reported when >= 15 tokens
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
         g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 CAST('0x' || substring(md5(array_to_string(t[i : i+7], ' ')), 1, 12) AS BIGINT) AS h
               FROM toks, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS u(i)),
         shared AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
         hits AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM shared)),
         isl AS (SELECT doc_id, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                 FROM hits),
         runs AS (SELECT doc_id, MIN(pos) AS start_tok, MAX(pos) + 7 AS end_tok
                  FROM isl GROUP BY doc_id, grp)
         SELECT doc_id, start_tok, end_tok, end_tok - start_tok + 1 AS n_tokens
         FROM runs WHERE end_tok - start_tok + 1 >= 15
         ORDER BY doc_id, start_tok"""),
    QueryDef("q_train_split", t("documents")(Text.trainValSplit(_)),
      """SELECT doc_id, CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                             IN ('0','1','2','3','4') THEN 'val' ELSE 'train' END AS split
         FROM documents ORDER BY doc_id"""),
    // leakage-safe split: fold keyed by near-dup CLUSTER root, so a val
    // doc can never have a near-copy in train
    QueryDef("q_split_safe", t("documents")(Dedup.clusterSafeSplit(_, 0.5).orderBy("doc_id")),
      // the q_dup_clusters closure + the q_train_split bucket rule, keyed by
      // the cluster root (singletons fall back to their own id)
      """WITH RECURSIVE
         toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  generate_series(1, greatest(len(t) - 2, 0)),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle FROM toks),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         jp AS (SELECT id_a, id_b FROM (
                  SELECT id_a, id_b,
                         round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
                  FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id)
                WHERE jaccard >= 0.5),
         edges AS (SELECT id_a, id_b FROM jp UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM jp),
         reach(src, dst) AS (
           SELECT id_a, id_a FROM edges
           UNION
           SELECT r.src, e.id_b FROM reach r JOIN edges e ON r.dst = e.id_a),
         cl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)
         SELECT d.doc_id,
                COALESCE(cl.cluster_id, d.doc_id) AS cluster_root,
                CASE WHEN substring(md5(CAST(COALESCE(cl.cluster_id, d.doc_id) AS VARCHAR)), 1, 1)
                     IN ('0','1','2','3','4') THEN 'val' ELSE 'train' END AS split
         FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
         ORDER BY d.doc_id"""),
    // token-budget selection: best documents by quality until the budget;
    // two-pass bucket threshold, result-identical to the global window
    QueryDef("q_budget_select", t("documents")(Text.budgetSelect(_, budgetTokens = 10000L)),
      // naive global cumulative window — the two-pass operator must be
      // result-identical to this
      """WITH t AS (SELECT doc_id,
                round(CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS DOUBLE)
                      / greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1), 6) AS type_token_ratio,
                CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
         FROM documents),
         c AS (SELECT doc_id, type_token_ratio, n_tokens,
                 SUM(n_tokens) OVER (ORDER BY type_token_ratio DESC, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum FROM t)
         SELECT doc_id, type_token_ratio, n_tokens FROM c
         WHERE cum <= 10000
         ORDER BY type_token_ratio DESC, doc_id"""),
    QueryDef("q_corpus_mix", t("documents")(Text.corpusMix(_,
      (10 to 19).map(i => s"src$i" -> 4).toMap)),
      """SELECT source, COUNT(*) AS n_kept FROM documents
         WHERE CASE WHEN source IN ('src10','src11','src12','src13','src14',
                                    'src15','src16','src17','src18','src19')
               THEN strpos('0123456789abcdef',
                           substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 4
               ELSE TRUE END
         GROUP BY source ORDER BY source"""),
    QueryDef("q_pack_sequences", t("documents")(Text.packSequences(_)),
      """WITH t AS (SELECT doc_id, source,
                CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens FROM documents),
         c AS (SELECT doc_id, source, n_tokens,
                SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
         SELECT doc_id, source, n_tokens, CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id
         FROM c ORDER BY doc_id"""),
    QueryDef("q_source_sample", t("documents")(Text.perSourceSample(_)),
      """WITH r AS (SELECT doc_id, source,
                CAST(ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
              FROM documents)
         SELECT doc_id, source, rn FROM r WHERE rn <= 10 ORDER BY source, rn"""),
    // domain-level curation: block one source outright, cap two others at
    // different depths, pass the rest whole — the C4-style
    // no-domain-dominates guard on the fixture's source axis
    QueryDef("q_source_caps", t("documents")(Text.capSources(_,
      caps = Map("src10" -> 20, "src11" -> 5), blocked = Seq("src12"))),
      // blocklist as a plain predicate; caps via the same md5 ranking as
      // q_source_sample, CASE-mapped per source (unlisted = uncapped)
      """WITH r AS (SELECT doc_id, source,
                CAST(ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
              FROM documents WHERE source NOT IN ('src12'))
         SELECT doc_id, source, rn FROM r
         WHERE rn <= CASE source WHEN 'src10' THEN 20 WHEN 'src11' THEN 5
                     ELSE 9223372036854775807 END
         ORDER BY source, rn"""),
    QueryDef("q_priority_sample", t("documents")(Text.prioritySample(_)),
      """SELECT doc_id, source, greatest(n_chars, 1) AS w,
                CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) AS DOUBLE)
                  / CAST(greatest(n_chars, 1) AS DOUBLE) AS priority
         FROM documents ORDER BY priority, doc_id LIMIT 100"""),
    QueryDef("q_priority_estimates", t("documents")(Text.prioritySampleEstimated(_)),
      """WITH base AS (
           SELECT doc_id, source, greatest(n_chars, 1) AS w,
                  CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) AS DOUBLE)
                    / CAST(greatest(n_chars, 1) AS DOUBLE) AS priority
           FROM documents),
         top AS (SELECT * FROM base ORDER BY priority, doc_id LIMIT 101),
         r AS (SELECT *, CAST(row_number() OVER (ORDER BY priority, doc_id) AS BIGINT) AS rn
               FROM top),
         t AS (SELECT MAX(CASE WHEN rn = 101
                               THEN CAST(281474976710656 AS DOUBLE) / priority END) AS tau
               FROM r)
         SELECT doc_id, source, w,
                greatest(CAST(w AS DOUBLE), COALESCE(tau, CAST(0.0 AS DOUBLE))) AS est_w
         FROM r CROSS JOIN t WHERE rn <= 100 ORDER BY doc_id"""),
    QueryDef("q_nucleus_select", t("documents")(Text.nucleusSelect(_)),
      """WITH w AS (
           SELECT doc_id, source, greatest(n_chars, 1) AS w FROM documents),
         c AS (
           SELECT doc_id, source, w,
                  CAST(SUM(w) OVER (PARTITION BY source ORDER BY w DESC, doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_w,
                  CAST(SUM(w) OVER (PARTITION BY source) AS BIGINT) AS total_w
           FROM w)
         SELECT doc_id, source, w, cum_w FROM c
         WHERE CAST(cum_w - w AS DOUBLE) < 0.5 * CAST(total_w AS DOUBLE)
         ORDER BY source, cum_w, doc_id"""),
    // snapshot diff against a deterministically perturbed "new" corpus:
    // md5-bucket 0-1 removed, 2-3 changed, 4 duplicated under offset ids —
    // the same construction written in the oracle SQL
    QueryDef("q_snapshot_diff", t("documents")(d => {
      val hx = substring(md5(col("doc_id").cast("string")), 1, 1)
      val kept = d.filter(!hx.isin("0", "1"))
        .select(col("doc_id"),
          when(hx.isin("2", "3"), concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      val added = d.filter(hx === "4")
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      Text.snapshotDiff(d, kept.unionByName(added))
    }),
      """WITH h AS (
           SELECT doc_id, text, substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS hx
           FROM documents),
         new_corpus AS (
           SELECT doc_id,
                  CASE WHEN hx IN ('2','3') THEN text || ' v2' ELSE text END AS text
           FROM h WHERE hx NOT IN ('0','1')
           UNION ALL
           SELECT doc_id + 5000000, text FROM h WHERE hx = '4'),
         o AS (SELECT doc_id AS old_id, sha256(text) AS old_digest FROM documents),
         n AS (SELECT doc_id AS new_id, sha256(text) AS new_digest FROM new_corpus)
         SELECT COALESCE(old_id, new_id) AS doc_id,
                CASE WHEN old_id IS NULL THEN 'added'
                     WHEN new_id IS NULL THEN 'removed'
                     WHEN old_digest <> new_digest THEN 'changed'
                     ELSE 'unchanged' END AS status
         FROM o FULL OUTER JOIN n ON old_id = new_id
         WHERE (CASE WHEN old_id IS NULL THEN 'added'
                     WHEN new_id IS NULL THEN 'removed'
                     WHEN old_digest <> new_digest THEN 'changed'
                     ELSE 'unchanged' END) <> 'unchanged'
         ORDER BY doc_id, status"""),
    QueryDef("q_quality_fit", t("documents")(Text.diversityFit),
      """WITH s AS (SELECT source,
                len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS x,
                round(CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS DOUBLE)
                      / greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1), 6) AS y
           FROM documents),
         a AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(x * y AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
                 CAST(SUM(CAST(x * x AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
                 CAST(SUM(CAST(y * y AS DECIMAL(18,12))) AS DOUBLE) AS syy
               FROM s GROUP BY source),
         d AS (SELECT source, n, sx, sy, sxy, sxx, syy,
                 n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy,
                 n * sxy - sx * sy AS cov
               FROM a)
         SELECT source, CAST(n AS BIGINT) AS n_docs,
                CASE WHEN dx <> 0 THEN cov / dx END AS slope,
                CASE WHEN dx <> 0 THEN (sy - (cov / dx) * sx) / n END AS intercept,
                CASE WHEN dx <> 0 AND dy <> 0 THEN (cov * cov) / (dx * dy) END AS r2
         FROM d ORDER BY source"""),
    QueryDef("q_source_stats", t("documents")(Text.sourceStats),
      """SELECT source, COUNT(*) AS n_docs,
                CAST(SUM(CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)) AS BIGINT) AS total_tokens,
                round(CAST(SUM(CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)) AS DOUBLE)
                      / COUNT(*), 6) AS mean_tokens
         FROM documents GROUP BY source ORDER BY source"""),
    QueryDef("q_dedup_keeplist", t("documents")(Dedup.dedupKeepList(_, 0.5).orderBy("doc_id")),
      """WITH RECURSIVE
         toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  generate_series(1, greatest(len(t) - 2, 0)),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle FROM toks),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         jp AS (SELECT id_a, id_b FROM (
                  SELECT id_a, id_b,
                         round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
                  FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id)
                WHERE jaccard >= 0.5),
         edges AS (SELECT id_a, id_b FROM jp UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM jp),
         reach(src, dst) AS (
           SELECT id_a, id_a FROM edges
           UNION
           SELECT r.src, e.id_b FROM reach r JOIN edges e ON r.dst = e.id_a),
         cl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)
         SELECT d.doc_id FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
         WHERE cl.doc_id IS NULL OR cl.cluster_id = d.doc_id
         ORDER BY d.doc_id"""),
    // incremental (batch-over-corpus) dedup: the fixture has no exact dups,
    // so both engines construct the same deterministic re-ingestion — docs
    // 0-19 reappear under +1000 ids (cross-corpus dups) and docs 250-259
    // under +2000 ids (intra-batch dups); only original 250-499 survive
    QueryDef("q_dedup_incremental", t("documents")(d => {
      val existing = d.filter(col("doc_id") < 250)
      val incoming = d.filter(col("doc_id") >= 250)
        .unionByName(d.filter(col("doc_id") < 20)
          .withColumn("doc_id", col("doc_id") + 1000))
        .unionByName(d.filter(col("doc_id") >= 250 && col("doc_id") < 260)
          .withColumn("doc_id", col("doc_id") + 2000))
      Dedup.incrementalDedup(incoming, existing)
    }),
      """WITH existing AS (SELECT * FROM documents WHERE doc_id < 250),
         incoming AS (
           SELECT doc_id, text FROM documents WHERE doc_id >= 250
           UNION ALL SELECT doc_id + 1000, text FROM documents WHERE doc_id < 20
           UNION ALL SELECT doc_id + 2000, text FROM documents WHERE doc_id >= 250 AND doc_id < 260),
         keepers AS (SELECT sha256(text) AS digest, MIN(doc_id) AS doc_id FROM incoming GROUP BY 1)
         SELECT doc_id, digest FROM keepers
         WHERE digest NOT IN (SELECT sha256(text) FROM existing)
         ORDER BY doc_id"""),
    // the curation composites' dedup stages shingle the gated survivors
    // themselves, so upstream filtering pays off in the pair stage
    QueryDef("q_curation", t("documents")(Pipelines.curate(_, mixRates = curationMix)),
      curationOracle),
    // the same five-stage pipeline with the dedup stage swapped to the
    // sub-quadratic MinHash-LSH pair generator — the 100 TB composition;
    // it shares q_curation's oracle (see curationOracle)
    QueryDef("q_curation_lsh", t("documents")(Pipelines.curateWith(_,
      Dedup.minhashPairs(_, 0.5, sorted = false), mixRates = curationMix)),
      curationOracle),
    // the same pipeline with the BOOLEAN Gopher rule gate in place of the
    // graded ratio thresholds — gate AND generator are both pluggable
    QueryDef("q_curation_gopher", t("documents")(Pipelines.curateWithGate(_, Text.gopherKeep(),
      Dedup.jaccardPairs(_, 0.5, sorted = false), mixRates = curationMix)),
      // q_curation with the gate CTE swapped for the Gopher boolean rules
      // (same constants as q_gopher_rules); stages 2-5 identical
      """WITH RECURSIVE
         s0 AS (SELECT doc_id,
                  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_words,
                  round(CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE)
                        / greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1), 6) AS mwl,
                  round(CAST(len(regexp_extract_all(text, '(?m)^[ \t]*[-*•]')) AS DOUBLE)
                        / greatest(len(string_split(text, chr(10))), 1), 6) AS blr,
                  round(CAST(len(regexp_extract_all(text, '(?m)\.\.\.$')) AS DOUBLE)
                        / greatest(len(string_split(text, chr(10))), 1), 6) AS elr,
                  len(list_intersect(regexp_extract_all(lower(text), '[a-z0-9]+'),
                    ['the','be','to','of','and','that','have','with'])) AS stops
                FROM documents),
         gate AS (SELECT doc_id FROM s0
                  WHERE n_words >= 40 AND n_words <= 100000
                    AND mwl >= 2.0 AND mwl <= 12.0
                    AND blr <= 0.9 AND elr <= 0.3 AND stops >= 1),
         docs AS (SELECT d.* FROM documents d JOIN gate USING (doc_id)),
         toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM docs),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  generate_series(1, greatest(len(t) - 2, 0)),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle FROM toks),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         jp AS (SELECT id_a, id_b FROM (
                  SELECT id_a, id_b,
                         round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
                  FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id)
                WHERE jaccard >= 0.5),
         edges AS (SELECT id_a, id_b FROM jp UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM jp),
         reach(src, dst) AS (
           SELECT id_a, id_a FROM edges
           UNION
           SELECT r.src, e.id_b FROM reach r JOIN edges e ON r.dst = e.id_a),
         cl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
         dd AS (SELECT d.* FROM docs d LEFT JOIN cl ON d.doc_id = cl.doc_id
                WHERE cl.doc_id IS NULL OR cl.cluster_id = d.doc_id),
         mixed AS (SELECT * FROM dd
                   WHERE CASE WHEN source IN ('src10','src11','src12','src13','src14',
                                              'src15','src16','src17','src18','src19')
                         THEN strpos('0123456789abcdef',
                                     substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 8
                         ELSE TRUE END),
         t2 AS (SELECT doc_id, source,
                  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens,
                  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4') THEN 'val' ELSE 'train' END AS split
                FROM mixed),
         c2 AS (SELECT doc_id, source, n_tokens, split,
                  SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t2)
         SELECT doc_id, source, n_tokens, split, CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id
         FROM c2 ORDER BY doc_id"""),
    QueryDef("q_fingerprints", t("documents")(Text.fingerprints),
      // gram hash = first 12 md5 hex digits as a 48-bit integer — the
      // engine-portable hash family Text.gramHash48 mirrors bit-for-bit
      """WITH nrm AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS norm FROM documents),
         toks AS (SELECT doc_id, norm, regexp_extract_all(norm, '[a-z0-9]+') AS t FROM nrm),
         g AS (SELECT doc_id, norm, list_transform(generate_series(1, greatest(len(t) - 2, 0)),
                 i -> CAST('0x' || substring(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 12) AS BIGINT)) AS gh
               FROM toks)
         SELECT doc_id, md5(norm) AS content_hash,
                list_min(gh) AS min_gram_hash, list_max(gh) AS max_gram_hash
         FROM g ORDER BY doc_id"""),
    QueryDef("q_winnowing", t("documents")(Text.winnowing(_)),
      // winnowing (MOSS), k=3-token grams, window w=4: every window's min
      // gram hash, distinct per document — same md5-derived hash family
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
         g AS (SELECT doc_id, list_transform(generate_series(1, len(t) - 2),
                 i -> CAST('0x' || substring(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 12) AS BIGINT)) AS gh
               FROM toks WHERE len(t) >= 6),
         m AS (SELECT doc_id, list_transform(generate_series(1, len(gh) - 3),
                 j -> list_min(gh[j:j+3])) AS fps FROM g)
         SELECT DISTINCT doc_id, unnest(fps) AS fingerprint FROM m
         ORDER BY doc_id, fingerprint"""),
    QueryDef("q_json_extract", t("events")(Text.jsonExtract),
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
         FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 80
         ORDER BY event_id"""),
    // ---- H: dedup ----
    QueryDef("q_dedup_exact", t("documents")(Dedup.exactDedup),
      """SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies FROM documents
         GROUP BY text ORDER BY keeper_id"""),
    QueryDef("q_dedup_hash", t("documents")(Dedup.hashDedup),
      """SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies FROM documents
         GROUP BY sha256(text) ORDER BY keeper_id"""),
    QueryDef("q_jaccard_pairs", t("documents")(Dedup.jaccardPairs(_, 0.5)),
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  generate_series(1, greatest(len(t) - 2, 0)),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle FROM toks),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT id_a, id_b, jaccard FROM (
           SELECT id_a, id_b,
                  round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
           FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id)
         WHERE jaccard >= 0.5 ORDER BY id_a, id_b"""),
    QueryDef("q_dup_clusters", t("documents")(Dedup.dupClusters(_, 0.5).orderBy("doc_id")),
      """WITH RECURSIVE
         toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  generate_series(1, greatest(len(t) - 2, 0)),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle FROM toks),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         jp AS (SELECT id_a, id_b FROM (
                  SELECT id_a, id_b,
                         round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
                  FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id)
                WHERE jaccard >= 0.5),
         edges AS (SELECT id_a, id_b FROM jp UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM jp),
         reach(src, dst) AS (
           SELECT id_a, id_a FROM edges
           UNION
           SELECT r.src, e.id_b FROM reach r JOIN edges e ON r.dst = e.id_a)
         SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach
         GROUP BY src ORDER BY doc_id"""),
    QueryDef("q_fuzzy_pairs", t("documents")(Dedup.fuzzyPairs(_, 0.5)),
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  generate_series(1, greatest(len(t) - 2, 0)),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle FROM toks),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         jp AS (SELECT id_a, id_b, jaccard FROM (
                  SELECT id_a, id_b,
                         round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
                  FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id)
                WHERE jaccard >= 0.5),
         heads AS (SELECT doc_id, substring(lower(text), 1, 100) AS head FROM documents)
         SELECT id_a, id_b, jaccard, CAST(levenshtein(ha.head, hb.head) AS BIGINT) AS edit_dist
         FROM jp JOIN heads ha ON id_a = ha.doc_id JOIN heads hb ON id_b = hb.doc_id
         WHERE levenshtein(ha.head, hb.head) <= 20
         ORDER BY id_a, id_b"""),
    // training docs sharing any 3-gram with the eval subset (including
    // its own members) are removed
    QueryDef("q_decontaminate", t("documents")(d => Dedup.decontaminate(d, evalSubset(d))),
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  generate_series(1, greatest(len(t) - 2, 0)),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle FROM toks),
         bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
         cont AS (SELECT DISTINCT s.doc_id FROM sh s JOIN bench USING (shingle))
         SELECT d.doc_id FROM documents d LEFT JOIN cont ON d.doc_id = cont.doc_id
         WHERE cont.doc_id IS NULL ORDER BY d.doc_id"""),
    // the containment form of the same guard: only docs covering >= tau of
    // a benchmark item's n-grams are dropped (C4/Dolma-style overlap rule)
    QueryDef("q_decontaminate_fuzzy", t("documents")(d =>
      Dedup.decontaminateFuzzy(d, evalSubset(d))),
      ops.Dedup.decontaminateFuzzyOracleSql(0.5, 50)),
    // which FEED is leaking eval data: per-source contaminated-doc counts
    // and shares under the exact any-shared-shingle rule
    QueryDef("q_contamination_by_source", t("documents")(d =>
      Dedup.contaminationBySource(d, evalSubset(d))),
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  generate_series(1, greatest(len(t) - 2, 0)),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle FROM toks),
         bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
         cont AS (SELECT DISTINCT s.doc_id FROM sh s JOIN bench USING (shingle)),
         g AS (SELECT d.source, (c.doc_id IS NOT NULL) AS contaminated,
                      CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM documents d LEFT JOIN cont c ON d.doc_id = c.doc_id
               GROUP BY 1, 2)
         SELECT source, contaminated, n_docs,
                round(CAST(n_docs AS DOUBLE)
                      / CAST(SUM(n_docs) OVER (PARTITION BY source) AS DOUBLE),
                      6) AS share
         FROM g ORDER BY source, contaminated"""),
    // C4-style cross-document line dedup: every long line keeps exactly
    // its first corpus occurrence; per-doc reconstruction + removal counts
    QueryDef("q_dedup_lines", t("documents")(Dedup.dedupLines(_)),
      ops.Dedup.dedupLinesOracleSql()),
    // Dolma-style coarser sibling: first-occurrence dedup on \n\n units
    QueryDef("q_dedup_paragraphs", t("documents")(Dedup.dedupParagraphs(_)),
      ops.Dedup.dedupLinesOracleSql(sepSql = "chr(10) || chr(10)")),
    // the broadcast-Bloom form of the same guard, registered as its
    // exact-bound report (exact survivor count + no-false-negative +
    // over-removal checks, all DuckDB-pinnable); the survivor-set operator
    // itself stays containment-spec'd in DedupSpec
    QueryDef("q_decontaminate_bloom", t("documents")(d =>
      Dedup.decontaminateBloomReport(d, evalSubset(d))),
      // the Bloom report: exact survivor count from the same CTE chain, both
      // guarantee booleans pinned TRUE
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  generate_series(1, greatest(len(t) - 2, 0)),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle FROM toks),
         bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
         cont AS (SELECT DISTINCT s.doc_id FROM sh s JOIN bench USING (shingle))
         SELECT CAST(COUNT(*) AS BIGINT) AS n_survivors_exact,
                TRUE AS no_false_negatives, TRUE AS over_removal_ok
         FROM documents d LEFT JOIN cont ON d.doc_id = cont.doc_id
         WHERE cont.doc_id IS NULL"""),
    // md5-derived 48-bit base hash + prime-field affine permutations —
    // every stage ANSI-SQL-reproducible, so this sketch carries a REAL
    // value oracle (generated beside the operator)
    QueryDef("q_minhash_pairs", t("documents")(Dedup.minhashPairs(_, 0.5)),
      ops.Dedup.minhashOracleSql(0.5, 16, 4)),
    QueryDef("q_simhash", t("documents")(Dedup.simhash), // md5-derived 48-bit — oracle-checked
      // 48-bit SimHash over the md5-derived portable hash family: per-token
      // hash = first 12 md5 hex digits; each of the 48 bits votes ±1 weighted
      // by term frequency; sign of the vote forms the fingerprint bit
      """WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
                       FROM documents),
         h AS (SELECT doc_id, CAST('0x' || substring(md5(tok), 1, 12) AS BIGINT) AS h FROM toks),
         b AS (SELECT doc_id, u.b AS bit,
                      SUM(CASE WHEN (h >> u.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
               FROM h CROSS JOIN (SELECT unnest(generate_series(0, 47)) AS b) u
               GROUP BY 1, 2)
         SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
         FROM b GROUP BY doc_id ORDER BY doc_id"""),
    QueryDef("q_simhash_pairs", t("documents")(Dedup.simhashPairs(_, 3)),
      """WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
                       FROM documents),
         h AS (SELECT doc_id, CAST('0x' || substring(md5(tok), 1, 12) AS BIGINT) AS h FROM toks),
         b AS (SELECT doc_id, u.b AS bit,
                      SUM(CASE WHEN (h >> u.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
               FROM h CROSS JOIN (SELECT unnest(generate_series(0, 47)) AS b) u
               GROUP BY 1, 2),
         f AS (SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS fp
               FROM b GROUP BY doc_id)
         SELECT a.doc_id AS id_a, c.doc_id AS id_b,
                CAST(bit_count(xor(a.fp, c.fp)) AS BIGINT) AS hamming
         FROM f a JOIN f c ON a.doc_id < c.doc_id
         WHERE bit_count(xor(a.fp, c.fp)) <= 3
         ORDER BY id_a, id_b"""),
    QueryDef("q_bm25", t("documents")(Search.bm25(_, bm25Terms, 15)),
      ops.Search.bm25OracleSql(bm25Terms, 15)),
    QueryDef("q_hybrid_rrf", t("documents")(Search.hybridRrf(_, bm25Terms)),
      // built AROUND the generated bm25 oracle — the lexical leg cannot drift
      ops.Search.hybridRrfOracleSql(bm25Terms)),
    // ---- H: similarity search ----
    QueryDef("q_embed_norms", t("embeddings")(Similarity.norms),
      """SELECT vec_id, round(sqrt(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
         FROM embeddings ORDER BY vec_id"""),
    // int8 storage quantization: the stats columns carry a full value
    // oracle; the code arrays are spec-checked (arrays don't hash-compare
    // portably across engines)
    QueryDef("q_quantize_int8", t("embeddings")(Similarity.quantizeInt8(_).drop("codes")),
      // mirrors quantizeInt8: exact per-dimension [min,max] bounds, code =
      // round((x-min)/scale) with scale = (max-min)/255 (scale 1 on
      // constant dims), reconstruction min + code*scale; squared-recon
      // sums and max error run left-to-right over list positions in
      // double — the same order the Scala loop uses
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         ex AS (SELECT vec_id, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM e),
         bd AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY pos),
         bl AS (SELECT list(mn ORDER BY pos) AS mns,
                       list(CASE WHEN mx > mn THEN (mx - mn) / 255 ELSE 1 END ORDER BY pos) AS scs
                FROM bd),
         r AS (SELECT vec_id, v,
                 list_transform(generate_series(1, len(v)),
                   i -> mns[i] + round((v[i] - mns[i]) / scs[i]) * scs[i]) AS rx
               FROM e, bl),
         a AS (SELECT vec_id,
                 sqrt(list_sum(list_transform(rx, z -> z * z))) AS qnorm,
                 list_max(list_transform(generate_series(1, len(v)),
                   i -> abs(rx[i] - v[i]))) AS max_err
               FROM r)
         SELECT vec_id, round(qnorm, 6) AS qnorm, round(max_err, 6) AS max_abs_err
         FROM a ORDER BY vec_id"""),
    QueryDef("q_cosine_topk", t("embeddings")(Similarity.cosineTopK(_, 20, 5)),
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         p AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
                      list_sum(list_transform(generate_series(1, len(q.v)), i -> q.v[i] * c.v[i]))
                        / (q.nrm * c.nrm) AS sim
               FROM n q JOIN n c ON c.vec_id <> q.vec_id WHERE q.vec_id < 20),
         r AS (SELECT qid, cid, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn FROM p)
         SELECT qid, cid, round(sim, 6) AS sim, CAST(rn AS BIGINT) AS rn FROM r
         WHERE rn <= 5 ORDER BY qid, rn"""),
    QueryDef("q_cosine_pairs", t("embeddings")(Similarity.cosineDupPairs(_, 0.4)),
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
         SELECT id_a, id_b, round(sim, 6) AS sim FROM (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]))
                    / (a.nrm * b.nrm) AS sim
           FROM n a JOIN n b ON a.vec_id < b.vec_id)
         WHERE sim >= 0.4 ORDER BY id_a, id_b"""),
    // the sub-quadratic 100 TB embedding-dedup path, registered in its
    // HONEST regime: >=0.9 threshold over a corpus with genuine near-dups
    // (deterministic perturbed copies — the fixture's natural pairs top out
    // near 0.6, see cosinePairsLsh scaladoc for why low thresholds admit no
    // sound pruning). 8x8-bit tables: ~6% of the pair space touched as
    // candidates, exact cosine verification → no false positives; recall
    // floor asserted in SimilaritySpec.
    // bitsPerTable adapts to corpus size (b0=8 calibrated at the 1024-row
    // augmented gate fixture, +1 bit per doubling beyond) so candidate
    // volume stays near-linear — the sf1x soak measured fixed b=8 at 105×
    // wall for 10× data; see Similarity.scaledBits. The count is a
    // parquet-metadata read, and at the sf0.01 gate (aug n=1000) the
    // width — hence the embedded-plane oracle — is unchanged.
    QueryDef("q_cosine_pairs_lsh", t("embeddings")(e => {
      val b = Similarity.scaledBits(8, 1024L, 2L * e.count())
      Similarity.cosinePairsLsh(Similarity.withSyntheticNearDups(e), 0.9,
        nTables = Similarity.scaledTables(8, 0.9, 8, b), bitsPerTable = b)
    }),
      Similarity.cosinePairsLshOracleSql(0.9)),
    // SemDeDup-style: cosine pair graph -> connected components -> min-id keepers
    QueryDef("q_semantic_keeplist", t("embeddings")(Similarity.semanticDedupKeepList(_, 0.4)),
      // same pair predicate as q_cosine_pairs, closed into components by the
      // recursive CTE (the q_dedup_keeplist pattern on the embedding graph)
      """WITH RECURSIVE
         e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         jp AS (SELECT id_a, id_b FROM (
                  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                         list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]))
                           / (a.nrm * b.nrm) AS sim
                  FROM n a JOIN n b ON a.vec_id < b.vec_id)
                WHERE sim >= 0.4),
         edges AS (SELECT id_a, id_b FROM jp UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM jp),
         reach(src, dst) AS (
           SELECT id_a, id_a FROM edges
           UNION
           SELECT r.src, e2.id_b FROM reach r JOIN edges e2 ON r.dst = e2.id_a),
         cl AS (SELECT src AS vec_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)
         SELECT d.vec_id FROM embeddings d LEFT JOIN cl ON d.vec_id = cl.vec_id
         WHERE cl.vec_id IS NULL OR cl.cluster_id = d.vec_id
         ORDER BY d.vec_id"""),
    // r16: DBSCAN over the verified LSH pair graph at the near-dup regime
    // (minPts=2 on the synthetic-near-dup corpus: paired vectors are
    // core, unpaired are noise; border semantics spec-asserted on hand
    // graphs) — the density-clustering member of the family, full replay
    // oracle (LSH candidates -> core degree -> recursive-CTE components
    // -> border min-attachment)
    QueryDef("q_dbscan", t("embeddings")(e => {
      val aug = Similarity.withSyntheticNearDups(e)
      val b = Similarity.scaledBits(8, 1024L, 2L * e.count())
      Similarity.dbscanClusters(aug,
        Similarity.cosinePairsLsh(aug, 0.9,
          nTables = Similarity.scaledTables(8, 0.9, 8, b), bitsPerTable = b,
          sorted = false),
        minPts = 2).orderBy("vec_id")
    }),
      Similarity.dbscanLshOracleSql(0.9, minPts = 2)),
    // embedding-space decontamination: the semantic sibling of the n-gram
    // guards — benchmark broadcast, short-circuit semi nested loop, keeps
    // vectors below cosine 0.4 of every benchmark vector (full oracle)
    QueryDef("q_decontaminate_semantic", t("embeddings")(e =>
      Similarity.decontaminateSemantic(e, e.filter(pmod(col("vec_id"), lit(50)) === 0), 0.4)),
      // brute-forced max-sim test: a vector survives iff NO benchmark
      // vector (vec_id % 50 = 0) reaches cosine 0.4 against it — same dot
      // arithmetic as the other embedding oracles; benchmark members
      // self-match at 1.0 and drop by construction
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         b AS (SELECT v AS bv, nrm AS bnrm FROM n WHERE vec_id % 50 = 0),
         bad AS (SELECT DISTINCT t.vec_id FROM n t JOIN b
                   ON list_sum(list_transform(generate_series(1, len(t.v)), i -> t.v[i] * b.bv[i]))
                        / (t.nrm * b.bnrm) >= 0.4)
         SELECT vec_id FROM e WHERE vec_id NOT IN (SELECT vec_id FROM bad)
         ORDER BY vec_id"""),
    // the same keep-list keyed on the LSH pair generator — the composition
    // a 100 TB run uses. LSH pairs are a subset of exact pairs (exact
    // verification), so survivors ⊇ exact survivors (spec-asserted).
    QueryDef("q_semantic_keeplist_lsh", t("embeddings")(e => {
      val aug = Similarity.withSyntheticNearDups(e)
      val b = Similarity.scaledBits(8, 1024L, 2L * e.count())
      Similarity.semanticDedupKeepList(aug,
        Similarity.cosinePairsLsh(aug, 0.9, nTables = Similarity.scaledTables(8, 0.9, 8, b),
          bitsPerTable = b, sorted = false))
    }),
      Similarity.semanticKeepListLshOracleSql(0.9)),
    QueryDef("q_label_cohesion", t("embeddings")(Similarity.labelCohesion(_)),
      // closed form, mirroring Similarity.labelCohesion: mean pairwise
      // cosine = (||sum of normalized vectors||^2 - n) / (n(n-1)); per-dim
      // sums in DECIMAL(25,18) = exact, order-independent on both engines
      """WITH e AS (SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n0 AS (SELECT label, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         ex AS (SELECT label, generate_subscripts(v, 1) AS pos, CAST(unnest(v) AS DOUBLE) / nrm AS u FROM n0),
         s AS (SELECT label, pos, CAST(SUM(CAST(u AS DECIMAL(25,18))) AS DOUBLE) AS s FROM ex GROUP BY 1, 2),
         c AS (SELECT label, COUNT(*) AS n FROM e GROUP BY 1),
         ss AS (SELECT label, SUM(s * s) AS ss FROM s GROUP BY 1)
         SELECT c.label AS label, round((ss - n) / (n * (n - 1)), 6) AS mean_sim,
                CAST(n * (n - 1) // 2 AS BIGINT) AS n_pairs
         FROM ss JOIN c USING (label) WHERE n >= 2 ORDER BY label"""),
    QueryDef("q_label_centroids", t("embeddings")(Similarity.labelCentroids),
      """WITH e AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
                           CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
         m AS (SELECT label, pos, SUM(x) / COUNT(*) AS mv FROM e GROUP BY 1, 2)
         SELECT label, round(sqrt(SUM(mv * mv)), 6) AS centroid_norm FROM m
         GROUP BY label ORDER BY label"""),
    QueryDef("q_knn_graph", t("embeddings")(Similarity.knnGraph(_, 5).orderBy("vec_id", "rn")),
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         s AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                      list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]))
                        / (a.nrm * b.nrm) AS sim
               FROM n a JOIN n b ON a.vec_id <> b.vec_id),
         r AS (SELECT vec_id, neighbor_id, sim,
                      CAST(row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rn
               FROM s)
         SELECT vec_id, neighbor_id, round(sim, 6) AS sim, rn
         FROM r WHERE rn <= 5 ORDER BY vec_id, rn"""),
    // sub-quadratic kNN-graph path; corpus-adaptive signature width
    // (b0=4 calibrated at the 512-row gate fixture — see scaledBits)
    QueryDef("q_knn_graph_lsh", t("embeddings")(e =>
      Similarity.knnGraphLsh(e, 5,
        bitsPerTable = Similarity.scaledBits(4, 512L, e.count()))),
      Similarity.knnGraphLshOracleSql(5)),
    QueryDef("q_ann_topk", t("embeddings")(Similarity.annTopK(_, 20, 5)), // full replay oracle (embedded planes)
      Similarity.annTopKOracleSql(20, 5)),
    // binary (1-bit sign) quantization: Hamming shortlist over 8-byte
    // codes (bit_count(xor) in codegen), exact-cosine rerank of the
    // top-50 — the 64x-cheaper first pass a 100 TB vector store scans
    QueryDef("q_hamming_topk", t("embeddings")(Similarity.hammingTopK(_, 20, 5)),
      Similarity.hammingTopKOracleSql(20, 5)),
    QueryDef("q_ivf_topk", t("embeddings")(Similarity.ivfTopK(_, 20, 5)), // full replay oracle (decimal-exact Lloyd)
      Similarity.ivfTopKOracleSql(20, 5)),
    // prototypicality sampling: k-means cells -> per-cell most-central
    // keepers + cell populations (the SemDeDup-style diversity cap);
    // shares the IVF oracle's Lloyd replay by construction
    QueryDef("q_kmeans_prototypes", t("embeddings")(Similarity.kmeansPrototypes(_)),
      Similarity.kmeansPrototypesOracleSql()),
    QueryDef("q_pq_topk", t("embeddings")(Similarity.pqTopK(_, 20, 5)),   // full replay oracle (unrolled PQ training)
      Similarity.pqTopKOracleSql(20, 5)),
    // the recall dashboard over all three ANN methods vs brute force —
    // oracle-backed (floors declared under the measured recalls), so a
    // recall regression in any method turns this row red in the gate
    QueryDef("q_ann_recall", t("embeddings")(Similarity.annRecallReport(_, 20, 5)),
      Similarity.annRecallReportOracleSql(20, 5)),
    // its sibling for the LSH-bucketed families: structural guarantees
    // (subset / never-beats / superset) + recall floors, oracle-pinned
    QueryDef("q_lsh_fidelity", t("embeddings")(Similarity.lshFidelityReport(_)),
      Similarity.lshFidelityReportOracleSql()),
    // r16: the fourth ANN family — HNSW-style layered navigable graph.
    // Exact-bound report: recall vs the exact ground truth + full-k
    // coverage, floor declared under the measured fixture recalls (1.00
    // at sf0.01/sf0.1)
    QueryDef("q_hnsw_topk", t("embeddings")(Similarity.hnswRecallReport(_, 20, 5)),
      Similarity.hnswRecallReportOracleSql(20, 5)),
    // ---- H: multimodal plumbing ----
    QueryDef("q_payload_digest", t("documents")(Multimodal.payloadDigest),
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, md5(text) AS digest
         FROM documents ORDER BY doc_id"""),
    // REAL codec path (round 4): each doc's text bytes become the pixel
    // payload of an 8x8 binary-PPM (P6) image; decodeImages parses the
    // actual format and the per-channel means are a pure function of known
    // bytes => full DuckDB oracle (fixture text is pure ASCII, so DuckDB's
    // ord() sees the same byte values the decoder reads)
    QueryDef("q_media_features", (s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val base = (Option(text).getOrElse("") + " ")
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          val px = new Array[Byte](8 * 8 * 3)
          var i = 0
          while (i < px.length) { px(i) = base(i % base.length); i += 1 }
          Multimodal.MediaRow(id, "image", Multimodal.PpmCodec.encode(8, 8, px),
            Multimodal.MediaMeta(8, 8, 3, 0, 0, 0L))
        }
      Multimodal.decodeImages(media)
        .select(col("media_id"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
        .orderBy("media_id")
    },
      // mirrors the PPM construction + decode: payload byte i = ASCII code
      // of (text || ' ') at position i mod len; 8x8 RGB triplets; channel
      // mean = exact integer sum / 64 pixels, divided once in double
      """WITH px AS (SELECT doc_id, text || ' ' AS payload FROM documents),
         b AS (SELECT doc_id, list_transform(generate_series(0, 191),
                 i -> ord(substring(payload, (i % length(payload)) + 1, 1))) AS bytes FROM px),
         ch AS (SELECT doc_id,
                  list_sum(list_transform(generate_series(1, 64), j -> bytes[3*j-2])) AS sr,
                  list_sum(list_transform(generate_series(1, 64), j -> bytes[3*j-1])) AS sg,
                  list_sum(list_transform(generate_series(1, 64), j -> bytes[3*j])) AS sb
                FROM b)
         SELECT doc_id AS media_id, CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
                round(CAST(sr AS DOUBLE) / 64, 6) AS mean_r,
                round(CAST(sg AS DOUBLE) / 64, 6) AS mean_g,
                round(CAST(sb AS DOUBLE) / 64, 6) AS mean_b
         FROM ch ORDER BY media_id"""),
    // media NEAR-dup (round 10): perceptual aHash over the same 8x8 PPM
    // construction as q_media_features, banded pairs within Hamming radius
    // 3 (4x16-bit pigeonhole — the SimHash machinery on the image hash).
    // Full value oracle: integer-exact hash bits replayed from the payload
    // bytes in DuckDB, pairs brute-forced — banding must reproduce them
    QueryDef("q_image_neardup", (s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val base = (Option(text).getOrElse("") + " ")
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          val px = new Array[Byte](8 * 8 * 3)
          var i = 0
          while (i < px.length) { px(i) = base(i % base.length); i += 1 }
          Multimodal.MediaRow(id, "image", Multimodal.PpmCodec.encode(8, 8, px),
            Multimodal.MediaMeta(8, 8, 3, 0, 0, 0L))
        }
      Multimodal.imageNearDupPairs(media, radius = 3)
    },
      // mirrors the aHash construction bit-exactly: pixel j's luma = sum of
      // the 3 payload bytes (text || ' ' cycled, ASCII fixture); for the
      // 8x8 image each grid block is one pixel, so bit j = (64·luma_j >
      // total luma) — the same cross-multiplied integer comparison the
      // codec computes. Pairs are brute-forced over all id_a < id_b;
      // Spark's 4-band pigeonhole must reproduce them exactly at radius 3
      """WITH px AS (SELECT doc_id, text || ' ' AS payload FROM documents),
         b AS (SELECT doc_id, list_transform(generate_series(0, 191),
                 i -> ord(substring(payload, (i % length(payload)) + 1, 1))) AS bytes FROM px),
         l AS (SELECT doc_id, list_transform(generate_series(1, 64),
                 j -> bytes[3*j-2] + bytes[3*j-1] + bytes[3*j]) AS lum FROM b),
         s AS (SELECT doc_id, lum, list_sum(lum) AS tot FROM l),
         bits AS (SELECT doc_id, list_transform(generate_series(1, 64),
                    j -> CASE WHEN 64 * lum[j] > tot THEN 1 ELSE 0 END) AS bv FROM s),
         pairs AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
                     CAST(list_sum(list_transform(generate_series(1, 64),
                       j -> CASE WHEN a.bv[j] <> b2.bv[j] THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
                   FROM bits a JOIN bits b2 ON a.doc_id < b2.doc_id)
         SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3 ORDER BY id_a, id_b"""),
    // REAL audio codec path (round 5): each doc's text bytes become the
    // sample stream of a 64-frame stereo 16-bit PCM WAV; decodeAudio parses
    // the actual RIFF/WAVE format and the per-channel means are a pure
    // function of known bytes => full DuckDB oracle (fixture text is pure
    // ASCII, so DuckDB's ord() sees the same byte values the encoder read)
    QueryDef("q_audio_features", (s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val base = (Option(text).getOrElse("") + " ")
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          val samples = new Array[Short](64 * 2) // 64 frames, stereo, interleaved
          var j = 0
          while (j < samples.length) {
            samples(j) = (((base(j % base.length) & 0xFF) - 64) * 256).toShort
            j += 1
          }
          Multimodal.MediaRow(id, "audio", Multimodal.WavCodec.encode(8000, 2, samples),
            Multimodal.MediaMeta(0, 0, 2, 8000, 64, 8L))
        }
      Multimodal.decodeAudio(media)
        .select(col("media_id"), col("sample_rate"), col("n_channels"),
          col("n_frames"), col("duration_ms"),
          round(element_at(col("channel_means"), 1), 6).as("mean_left"),
          round(element_at(col("channel_means"), 2), 6).as("mean_right"))
        .orderBy("media_id")
    },
      // mirrors the WAV construction + decode: 128 interleaved 16-bit
      // samples, sample j = (ASCII code of (text || ' ') at position
      // j mod len - 64) * 256; channel means = exact integer sum over 64
      // frames (left = even j, right = odd j), divided once in double
      """WITH px AS (SELECT doc_id, text || ' ' AS payload FROM documents),
         s AS (SELECT doc_id, list_transform(generate_series(0, 127),
                 j -> (ord(substring(payload, (j % length(payload)) + 1, 1)) - 64) * 256) AS smp
               FROM px),
         ch AS (SELECT doc_id,
                  list_sum(list_transform(generate_series(1, 64), f -> smp[2*f-1])) AS sl,
                  list_sum(list_transform(generate_series(1, 64), f -> smp[2*f])) AS sr
                FROM s)
         SELECT doc_id AS media_id, CAST(8000 AS INTEGER) AS sample_rate,
                CAST(2 AS INTEGER) AS n_channels, CAST(64 AS BIGINT) AS n_frames,
                CAST(8 AS BIGINT) AS duration_ms,
                round(CAST(sl AS DOUBLE) / 64, 6) AS mean_left,
                round(CAST(sr AS DOUBLE) / 64, 6) AS mean_right
         FROM ch ORDER BY media_id"""),
    // audio NEAR-dup (round 10): energy-envelope fingerprint over the same
    // WAV construction as q_audio_features, banded pairs within Hamming
    // radius 3 — the audio leg of media dedup, full value oracle like
    // q_image_neardup (integer-exact hash bits replayed in DuckDB)
    QueryDef("q_audio_neardup", (s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val base = (Option(text).getOrElse("") + " ")
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          val samples = new Array[Short](64 * 2)
          var j = 0
          while (j < samples.length) {
            samples(j) = (((base(j % base.length) & 0xFF) - 64) * 256).toShort
            j += 1
          }
          Multimodal.MediaRow(id, "audio", Multimodal.WavCodec.encode(8000, 2, samples),
            Multimodal.MediaMeta(0, 0, 2, 8000, 64, 8L))
        }
      Multimodal.audioNearDupPairs(media, radius = 3)
    },
      // mirrors energyHash64 bit-exactly: frame f's energy = |b_2f - 64| +
      // |b_2f+1 - 64| (the ×256 sample scale cancels in the scale-free
      // comparison); with 64 frames each window is one frame, so bit f =
      // (64·e_f > total energy) — the same cross-multiplied integer
      // comparison the codec computes. Pairs brute-forced over all
      // id_a < id_b; the 4-band pigeonhole must reproduce them at radius 3
      """WITH px AS (SELECT doc_id, text || ' ' AS payload FROM documents),
         s AS (SELECT doc_id, list_transform(generate_series(0, 127),
                 j -> abs(ord(substring(payload, (j % length(payload)) + 1, 1)) - 64)) AS amp FROM px),
         e AS (SELECT doc_id, list_transform(generate_series(1, 64),
                 f -> amp[2*f-1] + amp[2*f]) AS en FROM s),
         t AS (SELECT doc_id, en, list_sum(en) AS tot FROM e),
         bits AS (SELECT doc_id, list_transform(generate_series(1, 64),
                    f -> CASE WHEN 64 * en[f] > tot THEN 1 ELSE 0 END) AS bv FROM t),
         pairs AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
                     CAST(list_sum(list_transform(generate_series(1, 64),
                       j -> CASE WHEN a.bv[j] <> b2.bv[j] THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
                   FROM bits a JOIN bits b2 ON a.doc_id < b2.doc_id)
         SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3 ORDER BY id_a, id_b"""),
    // REAL video codec path (round 5): each doc's text bytes become two
    // 8x8 YUV420 frames of a Y4M stream; decodeVideo parses the actual
    // YUV4MPEG2 format and the per-plane frame means are a pure function
    // of known bytes => full DuckDB oracle
    QueryDef("q_video_features", (s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val base = (Option(text).getOrElse("") + " ")
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          val frames = (0 until 2).map { f =>
            val fb = new Array[Byte](96) // 8x8 luma + two 4x4 chroma planes
            var i = 0
            while (i < 96) { fb(i) = base((f * 96 + i) % base.length); i += 1 }
            fb
          }
          Multimodal.MediaRow(id, "video", Multimodal.Y4mCodec.encode(8, 8, 25, frames),
            Multimodal.MediaMeta(8, 8, 3, 0, 2, 80L))
        }
      Multimodal.decodeVideo(media)
        .select(col("media_id"), col("frame_idx"), col("width"), col("height"),
          round(col("mean_y"), 6).as("mean_y"),
          round(col("mean_u"), 6).as("mean_u"),
          round(col("mean_v"), 6).as("mean_v"))
        .orderBy("media_id", "frame_idx")
    },
      // mirrors the Y4M construction + decode: frame f's byte i = ASCII
      // code of (text || ' ') at position (96f + i) mod len; per-plane
      // means = exact integer sums over the 64-byte luma / 16-byte chroma
      // planes, divided once in double
      """WITH px AS (SELECT doc_id, text || ' ' AS payload FROM documents),
         f AS (SELECT doc_id, payload, unnest(generate_series(0, 1)) AS fidx FROM px),
         b AS (SELECT doc_id, fidx, list_transform(generate_series(0, 95),
                 i -> ord(substring(payload, ((fidx * 96 + i) % length(payload)) + 1, 1))) AS bytes
               FROM f),
         ch AS (SELECT doc_id, fidx,
                  list_sum(list_transform(generate_series(1, 64), j -> bytes[j])) AS sy,
                  list_sum(list_transform(generate_series(65, 80), j -> bytes[j])) AS su,
                  list_sum(list_transform(generate_series(81, 96), j -> bytes[j])) AS sv
                FROM b)
         SELECT doc_id AS media_id, CAST(fidx AS INTEGER) AS frame_idx,
                CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
                round(CAST(sy AS DOUBLE) / 64, 6) AS mean_y,
                round(CAST(su AS DOUBLE) / 16, 6) AS mean_u,
                round(CAST(sv AS DOUBLE) / 16, 6) AS mean_v
         FROM ch ORDER BY media_id, frame_idx"""),
    // video NEAR-dup (round 10): per-frame luma aHash + strict-majority
    // temporal pooling over the same Y4M construction as q_video_features,
    // banded pairs at radius 3 — completes the media-dedup triple with a
    // full value oracle like the image/audio legs
    QueryDef("q_video_neardup", (s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val base = (Option(text).getOrElse("") + " ")
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          val frames = (0 until 2).map { f =>
            val fb = new Array[Byte](96)
            var i = 0
            while (i < 96) { fb(i) = base((f * 96 + i) % base.length); i += 1 }
            fb
          }
          Multimodal.MediaRow(id, "video", Multimodal.Y4mCodec.encode(8, 8, 25, frames),
            Multimodal.MediaMeta(8, 8, 3, 0, 2, 80L))
        }
      Multimodal.videoNearDupPairs(media, radius = 3)
    },
      // mirrors frameLumaAHashes + temporalHash64 bit-exactly: frame f's
      // luma byte i = payload[(96f + i) mod len] (first 64 of each 96-byte
      // frame; chroma never enters the hash); per-frame bit j =
      // (64·y_j > frame total) on the 8×8 grid where each block is one
      // pixel; temporal strict majority over 2 frames = both frames set
      // the bit. Pairs brute-forced over all id_a < id_b
      """WITH px AS (SELECT doc_id, text || ' ' AS payload FROM documents),
         fb AS (SELECT doc_id, payload, unnest(generate_series(0, 1)) AS fidx FROM px),
         y AS (SELECT doc_id, fidx, list_transform(generate_series(0, 63),
                 i -> ord(substring(payload, ((fidx * 96 + i) % length(payload)) + 1, 1))) AS lum
               FROM fb),
         t AS (SELECT doc_id, fidx, lum, list_sum(lum) AS tot FROM y),
         fbits AS (SELECT doc_id, fidx, list_transform(generate_series(1, 64),
                     j -> CASE WHEN 64 * lum[j] > tot THEN 1 ELSE 0 END) AS bv FROM t),
         vbits AS (SELECT a.doc_id, list_transform(generate_series(1, 64),
                     j -> CASE WHEN a.bv[j] + b.bv[j] = 2 THEN 1 ELSE 0 END) AS bv
                   FROM fbits a JOIN fbits b ON a.doc_id = b.doc_id
                   WHERE a.fidx = 0 AND b.fidx = 1),
         pairs AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
                     CAST(list_sum(list_transform(generate_series(1, 64),
                       j -> CASE WHEN a.bv[j] <> b2.bv[j] THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
                   FROM vbits a JOIN vbits b2 ON a.doc_id < b2.doc_id)
         SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3 ORDER BY id_a, id_b"""),
    // ---- I: events / time-series ----
    QueryDef("q_events_tumbling", t("events")(Events.tumbling),
      s"""SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS w_start, event_type,
                 COUNT(*) AS n, ${DS("value")} AS sum_value
          FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
    QueryDef("q_events_funnel", t("events")(Events.funnel(_)),
      // strictly-after stage ordering, first-completion semantics —
      // mirrors Events.funnel stage by stage
      """WITH s1 AS (SELECT user_id, MIN(ts) AS m1 FROM events
                     WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, MIN(e.ts) AS m2 FROM events e
                JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts > s1.m1 GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, MIN(e.ts) AS m3 FROM events e
                JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.m2 GROUP BY e.user_id)
         SELECT s1.user_id,
                CAST(floor(epoch(m1)) AS BIGINT) AS t1,
                CAST(floor(epoch(m2)) AS BIGINT) AS t2,
                CAST(floor(epoch(m3)) AS BIGINT) AS t3,
                1 + (m2 IS NOT NULL)::BIGINT + (m3 IS NOT NULL)::BIGINT AS stages_reached
         FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
         LEFT JOIN s3 ON s1.user_id = s3.user_id
         ORDER BY s1.user_id"""),
    QueryDef("q_events_zscore", t("events")(Events.zscoreAnomalies(_)),
      // moments from exact-decimal sums; the anomaly flag derives from the
      // ROUNDED z on both engines (threshold ties cannot flip)
      s"""WITH st AS (SELECT event_type AS et, COUNT(*) AS n,
                 ${DS("value", 6)} AS s, ${DS("value * value", 6)} AS s2
              FROM events GROUP BY 1),
          d AS (SELECT et, s / n AS mean, sqrt((s2 - s * s / n) / (n - 1)) AS std FROM st)
          SELECT event_id, event_type, value,
                 round((value - mean) / std, 6) AS z,
                 abs(round((value - mean) / std, 6)) > 3.0 AS is_anomaly
          FROM events JOIN d ON event_type = et
          ORDER BY event_id"""),
    QueryDef("q_events_cohort", t("events")(Events.cohortRetention),
      // ISO-Monday week truncation + integer-exact offset on both engines
      """WITH cohorts AS (SELECT user_id, date_trunc('week', MIN(ts)) AS c FROM events GROUP BY user_id),
         activity AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events)
         SELECT CAST(floor(epoch(c)) AS BIGINT) AS cohort_week,
                (CAST(floor(epoch(w)) AS BIGINT) - CAST(floor(epoch(c)) AS BIGINT)) // 604800 AS week_offset,
                COUNT(*) AS n_users
         FROM activity JOIN cohorts USING (user_id)
         GROUP BY cohort_week, week_offset ORDER BY cohort_week, week_offset"""),
    QueryDef("q_events_sliding", t("events")(Events.sliding),
      s"""SELECT w_start, COUNT(*) AS n, ${DS("value")} AS sum_value FROM (
            SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS w_start, value FROM events
            UNION ALL
            SELECT CAST(floor(epoch(ts) / 300) * 300 - 300 AS BIGINT) AS w_start, value FROM events)
          GROUP BY w_start ORDER BY w_start"""),
    QueryDef("q_events_sessions", t("events")(Events.sessions),
      s"""WITH o AS (SELECT user_id, ts, value,
                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM events),
          f AS (SELECT user_id, ts, value,
                 CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS ns
                FROM o),
          g AS (SELECT user_id, ts, value, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f)
          SELECT user_id, CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start,
                 COUNT(*) AS n_events, ${DS("value")} AS sum_value
          FROM g GROUP BY user_id, sid ORDER BY user_id, session_start"""),
    QueryDef("q_events_sessions_lag", t("events")(Events.sessionsViaLag(_)),
      """WITH o AS (SELECT user_id, ts,
                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM events),
         f AS (SELECT user_id, ts,
                 CASE WHEN prev_ts IS NULL OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800
                      THEN 1 ELSE 0 END AS ns FROM o),
         g AS (SELECT user_id, ts, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f)
         SELECT user_id, CAST(sid AS BIGINT) AS session_id,
                CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start, COUNT(*) AS n_events
         FROM g GROUP BY user_id, sid ORDER BY user_id, session_id"""),
    QueryDef("q_events_asof", t("events")(Events.asofPurchaseView),
      """SELECT p.user_id, p.event_id AS purchase_id,
                CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_ts,
                v.event_id AS view_id, CAST(floor(epoch(v.ts)) AS BIGINT) AS view_ts
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
           ON p.user_id = v.user_id AND v.ts <= p.ts
         ORDER BY purchase_id"""),
    // nearest-direction as-of: each error attributed to the CLOSEST
    // purchase of the same user in either direction, ties to the past —
    // the clock-skew-robust attribution backward-only as-of gets wrong
    QueryDef("q_asof_nearest", t("events")(ev => {
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("p_event_id"), col("value").as("p_value"))
      Events.asofJoinNearest(errs, purchases, "user_id", "ts")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("near_p_event_id"), round(col("near_p_value"), 4).as("near_p_value"),
          col("near_delta_us"))
        .orderBy("event_id")
    }),
      // nearest-direction as-of replayed as an obviously-correct bounded
      // LATERAL top-1 per left row: closest |Δt|, ties to the past — the
      // operator's exact contract (quadratic SQL is fine for an oracle)
      """WITH lefts AS (SELECT event_id, user_id, ts FROM events
                        WHERE event_type = 'error'),
         rights AS (SELECT user_id, ts, event_id AS p_event_id,
                           value AS p_value
                    FROM events WHERE event_type = 'purchase')
         SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
                r.p_event_id AS near_p_event_id,
                round(r.p_value, 4) AS near_p_value,
                epoch_us(r.ts) - epoch_us(l.ts) AS near_delta_us
         FROM lefts l LEFT JOIN LATERAL (
           SELECT * FROM rights r WHERE r.user_id = l.user_id
           ORDER BY abs(epoch_us(r.ts) - epoch_us(l.ts)),
                    (r.ts > l.ts), r.p_event_id
           LIMIT 1) r ON true
         ORDER BY l.event_id"""),
    // Markov transition matrix + top taken paths off the same one-exchange
    // user-keyed window family
    QueryDef("q_event_transitions", t("events")(Events.eventTransitions(_)),
      Events.transitionsOracleSql()),
    QueryDef("q_event_paths", t("events")(Events.eventPaths(_)),
      Events.pathsOracleSql()),
    // co-presence: cross-user session-interval overlaps via the binned
    // interval join (pair dedup by overlap-start bin — no distinct shuffle)
    QueryDef("q_overlap_sessions", t("events")(Events.concurrentSessions(_)),
      Events.concurrentSessionsOracleSql()),
    // per-user cadence + relative rapid-fire fence (bot-triage velocity)
    QueryDef("q_cadence", t("events")(Events.cadenceStats(_)),
      Events.cadenceOracleSql()),
    // per-language HHI over the source mix — the no-domain-dominates audit
    QueryDef("q_source_concentration", t("documents")(Text.sourceConcentration(_)),
      Text.concentrationOracleSql()),
    // monthly priority-mix drift vs the first month (PSI, smoothed grid)
    QueryDef("q_psi_drift", t("orders")(o => Stats.psiDrift(o, "o_orderpriority",
      unix_timestamp(date_trunc("month", col("o_orderdate"))))),
      Stats.psiOracleSql("orders", "o_orderpriority",
      "CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT)")),
    // per-nation Gini over customer lifetime spend — entity-level
    // inequality (the Lorenz sibling of the HHI's category shares); ranks
    // sort within each nation only, never globally
    QueryDef("q_gini", (s, dir) => {
      val spend = Tables.orders(s, dir).groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast(DecimalType(20, 6))).as("spend"))
      val ent = spend
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("c_custkey"), col("spend"))
      Stats.giniByGroup(ent, "spend", "nation", "c_custkey")
    },
      Stats.giniOracleSql(
        """SELECT n_name AS nation, c_custkey, spend
        |FROM (SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS spend
        |      FROM orders GROUP BY o_custkey) s
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey""".stripMargin,
        "spend", "nation", "c_custkey")),
    // Benford first-digit audit over order totals — row-local digit
    // extraction + one 9-row aggregate; the synthetic-data smoke test
    QueryDef("q_benford", t("orders")(Stats.benfordAudit(_, "o_totalprice")),
      Stats.benfordOracleSql("orders", "o_totalprice")),
    // weekly-seasonality probe: ACF at row lags 1..7 over the daily
    // revenue series (exact decimal deviation sums; window runs over the
    // one-row-per-day post-aggregate, never the fact table)
    QueryDef("q_acf", t("orders")(o =>
      Stats.acf(o, date_trunc("day", col("o_orderdate")), col("o_totalprice"))),
      Stats.acfOracleSql("orders",
      "date_trunc('day', o_orderdate)", "o_totalprice")),
    // CUSUM level-shift report over the daily event-count series
    QueryDef("q_changepoint", t("events")(e =>
      Stats.cusumChangePoint(e, date_trunc("day", col("ts")))),
      Stats.cusumOracleSql("events", "date_trunc('day', ts)")),
    // 2-D skyline: cheapest-price-per-size efficient frontier over parts
    // (window over the DISTINCT pair table; oracle is the definitional
    // quadratic NOT EXISTS)
    QueryDef("q_pareto", t("part")(Stats.paretoFrontier(_, "p_retailprice", "p_size")),
      Stats.paretoOracleSql("part", "p_retailprice", "p_size")),
    // ---- r15 statistical-test batch (the bucketed prefix-sum engine:
    // per-distinct-value counts, no entity-level sort anywhere) ----
    // rank-sum A/B on order value: do urgent orders cost more?
    QueryDef("q_mannwhitney", t("orders")(o => Stats.mannWhitneyU(o,
      col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "o_totalprice")),
      Stats.mannWhitneyUOracleSql("orders",
      "o_orderpriority IN ('1-URGENT','2-HIGH')", "o_totalprice")),
    // distribution-level sibling: KS distance between the two cohorts
    QueryDef("q_ks_test", t("orders")(o => Stats.ksTest(o,
      col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "o_totalprice")),
      Stats.ksTestOracleSql("orders",
      "o_orderpriority IN ('1-URGENT','2-HIGH')", "o_totalprice")),
    // r16 grouped variants: one test PER ORDER STATUS — the slice-level
    // dashboard rows a curation/mixture controller actually reads; the
    // prefix engine gains the dimension as a partition key
    QueryDef("q_mannwhitney_by", t("orders")(o => Stats.mannWhitneyUBy(o,
      "o_orderstatus", col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
      "o_totalprice")),
      Stats.mannWhitneyUByOracleSql("orders",
      "o_orderstatus", "o_orderpriority IN ('1-URGENT','2-HIGH')",
      "o_totalprice")),
    QueryDef("q_ks_by", t("orders")(o => Stats.ksTestBy(o,
      "o_orderstatus", col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
      "o_totalprice")),
      Stats.ksTestByOracleSql("orders",
      "o_orderstatus", "o_orderpriority IN ('1-URGENT','2-HIGH')",
      "o_totalprice")),
    // k-cohort extension: does ANY order status differ in value
    // distribution? H over tie-averaged rank sums, Wilson-Hilferty gate
    QueryDef("q_kruskal", t("orders")(
      Stats.kruskalWallis(_, "o_orderstatus", "o_totalprice")),
      Stats.kruskalWallisOracleSql("orders",
      "o_orderstatus", "o_totalprice")),
    // monotone association between quantity and line price — Spearman ρ
    // over tie-averaged ranks (never a per-row sort), Fisher-z flag
    QueryDef("q_spearman", t("lineitem")(
      Stats.spearmanCorr(_, "l_quantity", "l_extendedprice")),
      Stats.spearmanOracleSql("lineitem",
      "l_quantity", "l_extendedprice")),
    // is return status independent of line status? χ² + Cramér's V
    QueryDef("q_chi2", t("lineitem")(
      Stats.chiSquareIndependence(_, "l_returnflag", "l_linestatus")),
      Stats.chiSquareOracleSql("lineitem", "l_returnflag", "l_linestatus")),
    // per-source token-mass inequality (entropy family — the decomposable
    // sibling of q_gini)
    // n_tokens is null-guarded explicitly: under legacy sizeOfNull
    // semantics size(null) is -1, which would trip theilIndex's
    // negative-value raise_error on a null-text corpus while the oracle's
    // len(NULL) is NULL and silently filters the row — guard both engines
    // into the same null-in-null-out behavior regardless of session flags
    QueryDef("q_theil", t("documents")(d => Stats.theilIndex(
      d.select(col("source"),
        when(col("text").isNotNull,
          size(regexp_extract_all(col("text"), lit("[A-Za-z0-9]+"), lit(0))))
          .cast("long").as("n_tokens")),
      "n_tokens", "source")),
      Stats.theilOracleSql(
        """(SELECT source,
        |        len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tokens
        |FROM documents)""".stripMargin,
        "n_tokens", "source")),
    // Holt linear-trend forecast of daily revenue: the bounded
    // post-aggregate series recursed driver-side (calendar-capped), the
    // oracle replays the recursion as a RECURSIVE CTE
    QueryDef("q_holt_forecast", t("orders")(o =>
      Stats.holtForecast(o, date_trunc("day", col("o_orderdate")),
        col("o_totalprice"))),
      Stats.holtOracleSql("orders",
      "date_trunc('day', o_orderdate)", "o_totalprice")),
    // bucketed quantile normalization of doc lengths across sources — the
    // cross-source comparability transform
    QueryDef("q_quantile_norm", t("documents")(
      Stats.quantileNormalize(_, "n_chars", "source", "doc_id")),
      Stats.quantileNormalizeOracleSql("documents",
      "n_chars", "source", "doc_id")),
    // per-source Gopher kept rate with Wilson 95% interval — the curation
    // dashboard row with honest small-sample uncertainty
    QueryDef("q_kept_rate", t("documents")(Text.keptRateWilson(_)),
      Text.keptRateWilsonOracleSql()),
    // nDCG@10 of the BM25 ranking per query set — retrieval-quality
    // certification with graded matched-term relevance
    QueryDef("q_ndcg", t("documents")(Search.ndcgReport(_, ndcgQuerySets).orderBy("query")),
      Search.ndcgOracleSql(ndcgQuerySets)),
    // pairwise Jensen-Shannon divergence between source token
    // distributions over the corpus top-50 vocabulary — the
    // which-feeds-differ matrix behind mixture weights
    QueryDef("q_js_divergence", t("documents")(
      Text.jsDivergence(_, 50).orderBy("source_a", "source_b")),
      Text.jsDivergenceOracleSql(50)),
    // ABC (80/15/5) contribution classes over per-part revenue — the
    // window sorts the aggregated part table, never lineitem
    QueryDef("q_abc", t("lineitem")(li => Stats.abcClasses(
      li.groupBy("l_partkey").agg(
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(20, 6))).as("revenue")),
      "revenue", "l_partkey")),
      Stats.abcOracleSql(
        """SELECT l_partkey,
        |       SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(20,6)))
        |         AS revenue
        |FROM lineitem GROUP BY l_partkey""".stripMargin,
        "revenue", "l_partkey")),
    // two-proportion z-test: do PROMO parts return at a different rate?
    QueryDef("q_ab_lift", (s, dir) => Stats.twoProportionZ(
      Tables.lineitem(s, dir).join(broadcast(Tables.part(s, dir)),
        col("l_partkey") === col("p_partkey")),
      col("p_type") === "PROMO", col("l_returnflag") === "R"),
      Stats.twoProportionZOracleSql(
        "(SELECT p_type, l_returnflag FROM lineitem JOIN part ON l_partkey = p_partkey)",
        "p_type = 'PROMO'", "l_returnflag = 'R'")),
    // time-constrained funnel: signup -> purchase within 1h/1d/7d
    QueryDef("q_funnel_windowed", t("events")(Events.funnelWindowed(_)),
      Events.funnelWindowedOracleSql()),
    // burst runs over the daily event-count series (gaps-and-islands on
    // the post-aggregate day table)
    QueryDef("q_bursts", t("events")(Events.burstRuns(_)),
      Events.burstRunsOracleSql()),
    // directed trade-graph reciprocity: edge fraction + weighted mass
    // flowing both ways (one self-join of the 25-nation edge table)
    QueryDef("q_reciprocity", (s, dir) =>
      Graph.reciprocity(tradeEdgesOf(s, dir)),
      Graph.reciprocityOracleSql(
        """SELECT s_nationkey AS src, c_nationkey AS dst, COUNT(*) AS w
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY src, dst""".stripMargin)),
    // power-law tail fit of the basket-graph degree distribution
    QueryDef("q_powerlaw", (s, dir) =>
      Graph.degreeTailFit(basketEdgesOf(s, dir)),
      Graph.degreeTailFitOracleSql(
        """SELECT DISTINCT x.p AS a, y.p AS b
        |FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
        |      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |        AND l_shipdate < TIMESTAMP '1997-01-01') x
        |JOIN (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
        |      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |        AND l_shipdate < TIMESTAMP '1997-01-01') y
        |  ON x.ok = y.ok AND x.p < y.p""".stripMargin)),
    // seed-sampled bounded-hop Brandes betweenness over the basket graph
    QueryDef("q_betweenness", (s, dir) =>
      Graph.betweennessSampled(basketEdgesOf(s, dir)).orderBy("rn"),
      Graph.betweennessOracleSql(
        """SELECT DISTINCT x.p AS a, y.p AS b
        |FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
        |      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |        AND l_shipdate < TIMESTAMP '1997-01-01') x
        |JOIN (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
        |      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |        AND l_shipdate < TIMESTAMP '1997-01-01') y
        |  ON x.ok = y.ok AND x.p < y.p""".stripMargin)),
    // harmonic closeness of the same sampled seeds (centrality artifact)
    QueryDef("q_closeness", (s, dir) =>
      Graph.harmonicCloseness(basketEdgesOf(s, dir)).orderBy("seed"),
      Graph.harmonicClosenessOracleSql(
        """SELECT DISTINCT x.p AS a, y.p AS b
        |FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
        |      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |        AND l_shipdate < TIMESTAMP '1997-01-01') x
        |JOIN (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
        |      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |        AND l_shipdate < TIMESTAMP '1997-01-01') y
        |  ON x.ok = y.ok AND x.p < y.p""".stripMargin)),
    // language-ID confusion matrix vs the gold lang column (eval artifact)
    QueryDef("q_langid_eval", t("documents")(
      Text.langIdEval(_).orderBy("gold_lang", "pred_lang")),
      """WITH s AS (SELECT doc_id, lang AS gold_lang,
                len(regexp_extract_all(lower(text), '\b(?:der|die|und|das|ist|nicht|ein|zu)\b')) AS h_de,
                len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|is|in|that|it)\b')) AS h_en,
                len(regexp_extract_all(lower(text), '\b(?:el|la|de|que|y|en|los|se)\b')) AS h_es,
                len(regexp_extract_all(lower(text), '\b(?:le|la|et|les|des|en|un|que)\b')) AS h_fr
         FROM documents),
         p AS (SELECT gold_lang,
                CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                     WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
                     WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
                     WHEN h_en >= h_de THEN 'en'
                     ELSE 'de' END AS pred_lang
         FROM s),
         c AS (SELECT gold_lang, pred_lang, COUNT(*) AS n_docs
               FROM p GROUP BY gold_lang, pred_lang)
         SELECT gold_lang, pred_lang, n_docs,
                round(CAST(n_docs AS DOUBLE)
                      / CAST(SUM(n_docs) OVER (PARTITION BY gold_lang) AS DOUBLE), 6)
                  AS gold_share
         FROM c ORDER BY gold_lang, pred_lang"""),
    // classifier reliability bins: score decile vs empirical keep rate
    QueryDef("q_calibration", t("documents")(Text.qualityCalibration(_).orderBy("bin")),
      ops.Text.qualityCalibrationOracleSql()),
    // day-of-week revenue seasonality profile (honest per-rep aggregate)
    QueryDef("q_dow_profile", t("orders")(o => Stats.dowProfile(o,
      date_trunc("day", col("o_orderdate")), col("o_totalprice"))),
      Stats.dowProfileOracleSql("orders",
      "date_trunc('day', o_orderdate)", "o_totalprice")),
    // shuffle-key skew audit on the order key — the engine's own
    // before-you-join diagnostic as a first-class operator
    QueryDef("q_skew_audit", t("lineitem")(Stats.keySkewAudit(_, "l_orderkey")),
      Stats.keySkewAuditOracleSql("lineitem", "l_orderkey")),
    // monthly revenue + MoM growth + trailing 3-month moving average
    QueryDef("q_growth", t("orders")(o => Stats.monthlyGrowth(o,
      date_trunc("month", col("o_orderdate")), col("o_totalprice"))),
      Stats.monthlyGrowthOracleSql("orders",
      "date_trunc('month', o_orderdate)", "o_totalprice")),
    // per-label centroid-distance outlier dashboard over the embeddings
    QueryDef("q_embed_outliers", t("embeddings")(
      Similarity.embedOutlierProfile(_).orderBy("label")),
      Similarity.embedOutlierProfileOracleSql()),
    // KEYLESS as-of at scale: every event attributed to the latest order
    // at-or-before it, globally — no equi-key to co-partition on, so the
    // plan is the range-binned merge (one bin shuffle per side, carry-in
    // rows, zero join operators; Events.asofJoinRange scaladoc)
    QueryDef("q_asof_range", (s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir).select("event_id", "ts", "event_type")
      val orders = Tables.orders(s, dir)
        .select("o_orderdate", "o_orderkey", "o_totalprice")
      Events.asofJoinRange(ev, orders, "ts", "o_orderdate")
        .select(col("event_id"),
          unix_timestamp(col("ts")).as("event_ts"),
          col("event_type"),
          col("asof_o_orderkey").as("order_key"),
          unix_timestamp(col("asof_o_orderdate")).as("order_ts"),
          round(col("asof_o_totalprice"), 4).as("order_price"))
        .orderBy("event_id")
    },
      // deterministic replay of the keyless as-of (the union-window form, NOT
      // DuckDB's ASOF JOIN, whose tie resolution is unspecified): rights sort
      // before lefts at equal ts, ties among rights resolved by the full
      // right-column struct ascending with `last` carrying the maximum —
      // byte-for-byte the operator's contract
      """WITH u AS (
           SELECT o_orderdate AS uts, 0 AS side,
                  o_orderdate, o_orderkey, o_totalprice,
                  CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS VARCHAR) AS event_type
           FROM orders
           UNION ALL
           SELECT ts, 1, CAST(NULL AS TIMESTAMP), CAST(NULL AS BIGINT),
                  CAST(NULL AS DOUBLE), event_id, event_type
           FROM events
         ), m AS (
           SELECT *,
                  last_value(o_orderkey IGNORE NULLS) OVER w AS a_key,
                  last_value(o_orderdate IGNORE NULLS) OVER w AS a_date,
                  last_value(o_totalprice IGNORE NULLS) OVER w AS a_price
           FROM u
           WINDOW w AS (ORDER BY uts, side, o_orderdate, o_orderkey, o_totalprice
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         )
         SELECT event_id, CAST(floor(epoch(uts)) AS BIGINT) AS event_ts, event_type,
                a_key AS order_key, CAST(floor(epoch(a_date)) AS BIGINT) AS order_ts,
                round(a_price, 4) AS order_price
         FROM m WHERE side = 1
         ORDER BY event_id"""),
    // the GENERIC asofJoin surface (multi-column right payload) under the
    // same DuckDB ASOF JOIN oracle — the specialized purchase/view form
    // covers only a single carried column; tie semantics beyond the oracle's
    // reach are pinned by AsofPropertySpec
    QueryDef("q_asof_generic", t("events") { ev =>
      import org.apache.spark.sql.functions._
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"),
          col("value").as("view_value"))
      Events.asofJoin(purchases, views, "user_id", "ts")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          unix_timestamp(col("ts")).as("purchase_ts"),
          col("asof_view_id").as("view_id"),
          unix_timestamp(col("asof_ts")).as("view_ts"),
          round(col("asof_view_value"), 4).as("view_value"))
        .orderBy("purchase_id")
    },
      """SELECT p.event_id AS purchase_id, p.user_id,
                CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_ts,
                v.event_id AS view_id, CAST(floor(epoch(v.ts)) AS BIGINT) AS view_ts,
                round(v.value, 4) AS view_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
           ON p.user_id = v.user_id AND v.ts <= p.ts
         ORDER BY purchase_id"""),
  )

  // each build runs in its own checkpoint scope: it leaves resident only
  // the checkpoints its result reads
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> ((s: SparkSession, dir: String) =>
      Checkpoints.owned(q.build(s, dir)))).toMap
  lazy val oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracle).toMap
}
