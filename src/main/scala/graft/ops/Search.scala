package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranked text retrieval (SURVEY.md §2 group H extension): BM25 scoring of a
  * document corpus against a bag-of-words query — the relevance primitive a
  * training-data pipeline uses for targeted corpus search and quality-biased
  * sampling.
  *
  * Scale design: NO inverted-index explode. Per-term term frequencies come
  * from `regexp_extract_all` counts per row (codegen'd, one narrow pass over
  * the corpus — the query has a handful of terms, so this is a few regex
  * scans per document, not a token-granularity shuffle). Corpus statistics
  * (N, avgdl, per-term document frequencies) reduce to ONE single-row
  * aggregate that is broadcast back; scoring is then row-local arithmetic
  * and the top-k is a TakeOrderedAndProject. Total cost at 100 TB: one scan
  * + one 1-row broadcast + one bounded take — no shuffle proportional to
  * corpus size.
  */
object Search {

  /** One typed row-local pass computing per-doc length and every query
    * term's frequency together (tokenizer stream → counter array): no
    * per-term regex scans and no interpreted per-element HOF filters — the
    * same trade as the dedup shinglers, and the token-equality semantics
    * mirror the oracle's list_filter exactly. Shared by [[bm25]] and
    * [[bm25Lazy]] so the counting semantics cannot diverge. Output columns:
    * doc_id, dl, tf0..tfN.
    */
  private def termCounts(documents: DataFrame, terms: Seq[String]): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val termIdx = terms.zipWithIndex.toMap
    val nTerms = terms.length
    val counted = documents
      .select(col("doc_id"), lower(col("text")).as("t")).as[(Long, String)]
      .mapPartitions { it =>
        val re = "[a-z0-9]+".r
        it.map { case (id, text) =>
          val tfs = new Array[Long](nTerms)
          var dl = 0L
          if (text != null) re.findAllIn(text).foreach { tok =>
            dl += 1
            termIdx.get(tok).foreach(j => tfs(j) += 1)
          }
          (id, dl, tfs)
        }
      }.toDF("doc_id", "dl", "tfs")
    counted.select(
      col("doc_id") +: col("dl") +:
        terms.indices.map(i => element_at(col("tfs"), i + 1).as(s"tf$i")): _*)
  }

  /** BM25 top-k: standard Robertson/Okapi scoring with the Lucene-style
    * always-positive idf, `score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b
    * + b·dl/avgdl))`.
    *
    * Term frequency is exact token equality over the library's one
    * tokenization (`[a-z0-9]+` runs) — NOT a `\b`-bounded regex, whose
    * word-character universe includes '_' and would silently disagree with
    * the document-length tokenization on text like `spark_sql` (tf would
    * miss tokens that dl counts).
    *
    * Two-phase, like [[Windows.priceBuckets]]: corpus statistics (N, avgdl,
    * per-term df) are ONE single-row aggregate materialized at call time,
    * then scoring is a second narrow pass over the corpus with the stats as
    * literals and the top-k a TakeOrderedAndProject. No persist (nothing to
    * leak), no join of any kind, and at 100 TB the cost is exactly two
    * scans + a bounded take.
    *
    * Determinism contract (oracle rule): each per-term partial score is
    * rounded to 9 decimals and summed in DECIMAL(18,9) — exact and
    * order-independent — then the total is rounded to 6.
    */
  def bm25(documents: DataFrame, queryTerms: Seq[String], k: Int = 10,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = queryTerms.map(_.toLowerCase).distinct
    require(terms.nonEmpty, "at least one query term")
    require(terms.forall(_.matches("[a-z0-9]+")),
      s"query terms must be plain tokens, got: ${terms.mkString(", ")}")

    val spark = documents.sparkSession
    import spark.implicits._
    val base = termCounts(documents, terms)

    // phase 1: one single-row aggregate — collection size, mean length,
    // per-term document frequency — materialized driver-side (a scalar row,
    // the same explicitly-bounded driver materialization as priceBuckets)
    val statAggs =
      count(lit(1)).as("n") +:
      (sum("dl").cast("double") / count(lit(1))).as("avgdl") +:
      terms.indices.map(i => sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val statsRow = base.agg(statAggs.head, statAggs.tail: _*).head()
    val n = statsRow.getLong(0)
    // an empty corpus aggregates to n=0 with a null avgdl — nothing can
    // score, so return the empty result instead of NPE-ing on the read
    if (n == 0) {
      return Seq.empty[(Long, Double, Long)].toDF("doc_id", "score", "n_terms")
    }
    val avgdl = statsRow.getDouble(1)
    val dfs = terms.indices.map(i => statsRow.getLong(2 + i))

    val oneMinusB = 1.0 - b
    def termScore(i: Int): Column = {
      val tf = col(s"tf$i")
      // identical parse shape to the SQL oracle: ln(1+(n-df+0.5)/(df+0.5))
      // * tf*(k1+1) / (tf + k1*((1-b) + b*dl/avgdl))
      val idf = log(lit(1.0) + (lit(n) - lit(dfs(i)) + lit(0.5)) / (lit(dfs(i)) + lit(0.5)))
      val w = idf * tf * lit(k1 + 1.0) /
        (tf + lit(k1) * (lit(oneMinusB) + lit(b) * col("dl") / lit(avgdl)))
      when(tf > 0, round(w, 9)).otherwise(lit(0.0))
    }
    val scoreDec = terms.indices
      .map(i => termScore(i).cast("decimal(18,9)"))
      .reduce(_ + _)
    val hits = terms.indices.map(i => when(col(s"tf$i") > 0, 1L).otherwise(0L)).reduce(_ + _)

    // phase 2: row-local scoring + bounded take
    base.select(col("doc_id"),
        round(scoreDec.cast("double"), 6).as("score"),
        hits.cast("long").as("n_terms"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Composition form of [[bm25]]: IDENTICAL scoring, but the corpus
    * statistics stay a 1-row DataFrame broadcast into the scoring pass
    * instead of being collected at call time — so building the query runs
    * NO Spark job (the everything-is-lazy contract every other operator
    * keeps; the eager form trades that for literal stats the optimizer can
    * constant-fold, which is the faster standalone shape and the one the
    * bench registers). Use this form inside composed pipelines where a
    * hidden job at construction time would be a surprise; SearchSpec
    * asserts the two forms row-identical.
    */
  def bm25Lazy(documents: DataFrame, queryTerms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = queryTerms.map(_.toLowerCase).distinct
    require(terms.nonEmpty, "at least one query term")
    require(terms.forall(_.matches("[a-z0-9]+")),
      s"query terms must be plain tokens, got: ${terms.mkString(", ")}")
    val base = termCounts(documents, terms)
    val statAggs =
      count(lit(1)).as("n") +:
      (sum("dl").cast("double") / count(lit(1))).as("avgdl") +:
      terms.indices.map(i => sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    val oneMinusB = 1.0 - b
    def termScore(i: Int): Column = {
      val tf = col(s"tf$i")
      // same arithmetic as the eager form, with n/df/avgdl as broadcast
      // columns: n and df are longs, so (n - df + 0.5) is the same
      // long-long-double promotion the literal form evaluates
      val idf = log(lit(1.0) + (col("n") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
      val w = idf * tf * lit(k1 + 1.0) /
        (tf + lit(k1) * (lit(oneMinusB) + lit(b) * col("dl") / col("avgdl")))
      when(tf > 0, round(w, 9)).otherwise(lit(0.0))
    }
    val scoreDec = terms.indices
      .map(i => termScore(i).cast("decimal(18,9)"))
      .reduce(_ + _)
    val hits = terms.indices.map(i => when(col(s"tf$i") > 0, 1L).otherwise(0L)).reduce(_ + _)
    // the 1-row stats side broadcasts; the empty-corpus case needs no guard
    // here — an empty base crossJoin empty stats is empty, and nothing was
    // read driver-side
    base.crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(scoreDec.cast("double"), 6).as("score"),
        hits.cast("long").as("n_terms"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** The matching DuckDB oracle text for [[bm25]] — generated next to the
    * operator so the formula can never drift from the Spark side.
    */
  def bm25OracleSql(queryTerms: Seq[String], k: Int = 10,
                    k1: Double = 1.2, b: Double = 0.75): String = {
    val terms = queryTerms.map(_.toLowerCase).distinct
    val tfs = terms.indices.map(i =>
      s"len(list_filter(toks, x -> x = '${terms(i)}')) AS tf$i").mkString(",\n                ")
    val dfs = terms.indices.map(i =>
      s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(",\n                ")
    val oneMinusB = 1.0 - b
    val scores = terms.indices.map { i =>
      s"""CAST(CASE WHEN tf$i > 0 THEN round(ln(1 + (n - df$i + 0.5) / (df$i + 0.5))
         * tf$i * ${k1 + 1.0} / (tf$i + $k1 * ($oneMinusB + $b * dl / avgdl)), 9)
         ELSE 0 END AS DECIMAL(18,9))"""
    }.mkString(" + ")
    val hits = terms.indices.map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
              FROM documents),
       base AS (SELECT doc_id,
                CAST(len(toks) AS BIGINT) AS dl,
                $tfs
              FROM tk),
       stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
                $dfs
              FROM base),
       sc AS (SELECT doc_id, $scores AS s, $hits AS hits FROM base, stats)
       SELECT doc_id, round(CAST(s AS DOUBLE), 6) AS score, CAST(hits AS BIGINT) AS n_terms
       FROM sc WHERE round(CAST(s AS DOUBLE), 6) > 0
       ORDER BY score DESC, doc_id LIMIT $k"""
  }

  /** Hybrid retrieval via reciprocal-rank fusion (RRF, Cormack et al.
    * 2009): fuse the [[bm25]] lexical ranking with a quality-prior ranking
    * (type-token ratio — the [[Text.qualityRatios]] signal, ranked
    * descending) by rrf = Σ 1/(c + rank), the standard score-free way to
    * combine rankers with incomparable scales. Documents in only one pool
    * contribute that pool's term alone.
    *
    * Plan shape: each ranker produces a BOUNDED pool (top `poolK` rows —
    * already a `TakeOrderedAndProject`), whose ranks are assigned by a
    * driver-side zipWithIndex over ≤ poolK collected rows (the same
    * explicitly-bounded driver materialization as the BM25 stats row —
    * deliberately NOT an unpartitioned row_number window). The fusion
    * itself is a tiny outer join of two ≤ poolK-row tables.
    */
  def hybridRrf(documents: DataFrame, queryTerms: Seq[String], k: Int = 15,
                poolK: Int = 50, c: Int = 60): DataFrame = {
    require(poolK >= k, s"pool must cover the output: poolK=$poolK < k=$k")
    val spark = documents.sparkSession
    import spark.implicits._
    def ranked(pool: DataFrame): DataFrame =
      pool.collect().zipWithIndex
        .map { case (r, i) => (r.getLong(0), i + 1L) }.toSeq.toDF("doc_id", "rank")
    val lex = ranked(bm25(documents, queryTerms, poolK).select("doc_id"))
      .withColumnRenamed("rank", "rank_lex")
    val quality = ranked(
      graft.ops.Text.qualityScore(documents)
        .select(col("doc_id"), col("type_token_ratio"))
        .orderBy(col("type_token_ratio").desc, col("doc_id"))
        .limit(poolK).select("doc_id"))
      .withColumnRenamed("rank", "rank_q")
    lex.join(quality, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(
          coalesce(lit(1.0) / (lit(c) + col("rank_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("rank_q")), lit(0.0)), 6).as("rrf"),
        coalesce(col("rank_lex"), lit(0L)).as("rank_lex"),
        coalesce(col("rank_q"), lit(0L)).as("rank_q"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }

  /** The DuckDB restatement of [[hybridRrf]] — built AROUND the generated
    * [[bm25OracleSql]] so the lexical leg cannot drift from the registered
    * `q_bm25` semantics.
    */
  def hybridRrfOracleSql(queryTerms: Seq[String], k: Int = 15,
                         poolK: Int = 50, c: Int = 60): String =
    s"""WITH lex AS (
         SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank_lex
         FROM (${bm25OracleSql(queryTerms, poolK)}) bm),
       q AS (
         SELECT doc_id, CAST(row_number() OVER (ORDER BY ttr DESC, doc_id) AS BIGINT) AS rank_q
         FROM (
           SELECT doc_id,
                  round(CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS DOUBLE)
                        / greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1), 6) AS ttr
           FROM documents ORDER BY ttr DESC, doc_id LIMIT $poolK) t),
       fused AS (
         SELECT COALESCE(lex.doc_id, q.doc_id) AS doc_id,
                round(COALESCE(CAST(1.0 AS DOUBLE) / ($c + rank_lex), 0.0)
                      + COALESCE(CAST(1.0 AS DOUBLE) / ($c + rank_q), 0.0), 6) AS rrf,
                COALESCE(rank_lex, 0) AS rank_lex,
                COALESCE(rank_q, 0) AS rank_q
         FROM lex FULL OUTER JOIN q ON lex.doc_id = q.doc_id)
       SELECT doc_id, rrf, rank_lex, rank_q FROM fused
       ORDER BY rrf DESC, doc_id LIMIT $k"""

  /** nDCG@k evaluation of the [[bm25]] ranking — the retrieval-quality
    * dashboard a search pipeline certifies before swapping rankers. One
    * row per query set: DCG@k over the BM25 top-k with graded relevance
    * = the matched-term count (grade g, gain 2^g − 1), IDCG@k over the
    * corpus-wide ideal ordering (grade desc, doc_id — so ties are
    * deterministic), nDCG = DCG/IDCG. Per-rank terms are rounded to 9
    * and summed in DECIMAL(18,9) (order-free, the bm25 discipline —
    * log2 via ln(r+1)/ln(2) is inside the round so a last-ulp libm
    * disagreement cannot propagate).
    *
    * Plan shape per query set: the bm25Lazy two scans (stats + score)
    * plus ONE more narrow pass for the ideal ranking (row-local grade +
    * TakeOrderedAndProject k) and its 1-row relevance count — all
    * bounded aggregates; nothing quadratic, nothing collected.
    */
  def ndcgReport(documents: DataFrame, querySets: Seq[Seq[String]],
                 k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(querySets.nonEmpty, "at least one query set")
    val frames = querySets.map { qs =>
      val terms = qs.map(_.toLowerCase).distinct
      val label = terms.mkString(" ")
      def gainOf(grade: Column): Column =
        pow(lit(2.0), grade.cast("double")) - lit(1.0)
      def discounted(grade: Column, rank: Column): Column =
        round(gainOf(grade) / (log(rank.cast("double") + lit(1.0)) / log(lit(2.0))), 9)
          .cast("decimal(18,9)")
      val wq = Window.orderBy(col("score").desc, col("doc_id"))
      val dcg = bm25Lazy(documents, terms, k, k1, b)
        .withColumn("rank", row_number().over(wq))
        .agg(coalesce(sum(discounted(col("n_terms"), col("rank"))),
          lit(0).cast("decimal(18,9)")).as("_dcg"))
      val graded = termCounts(documents, terms).select(col("doc_id"),
          terms.indices.map(i => when(col(s"tf$i") > 0, 1L).otherwise(0L))
            .reduce(_ + _).as("grade"))
        .filter(col("grade") > 0)
      val wi = Window.orderBy(col("grade").desc, col("doc_id"))
      val ideal = graded
        .orderBy(col("grade").desc, col("doc_id")).limit(k)
        .withColumn("rank", row_number().over(wi))
        .agg(coalesce(sum(discounted(col("grade"), col("rank"))),
          lit(0).cast("decimal(18,9)")).as("_idcg"))
      val nRel = graded.agg(count(lit(1)).as("n_rel"))
      dcg.crossJoin(ideal).crossJoin(nRel)
        .select(lit(label).as("query"), col("n_rel"),
          round(col("_dcg").cast("double"), 6).as("dcg"),
          round(col("_idcg").cast("double"), 6).as("idcg"),
          round(when(col("_idcg") > 0,
            col("_dcg").cast("double") / col("_idcg").cast("double"))
            .otherwise(lit(0.0)), 6).as("ndcg"))
    }
    frames.reduce(_.unionByName(_)).orderBy("query")
  }

  /** Generated DuckDB oracle for [[ndcgReport]]: the bm25 replay per
    * query set (same CTE text as [[bm25OracleSql]]), the ideal ranking,
    * and the same round-9 decimal DCG sums, UNION ALL'd. */
  def ndcgOracleSql(querySets: Seq[Seq[String]], k: Int = 10,
                    k1: Double = 1.2, b: Double = 0.75): String = {
    val oneMinusB = 1.0 - b
    val blocks = querySets.map { qs =>
      val terms = qs.map(_.toLowerCase).distinct
      val label = terms.mkString(" ")
      val tfs = terms.indices.map(i =>
        s"len(list_filter(toks, x -> x = '${terms(i)}')) AS tf$i").mkString(", ")
      val dfs = terms.indices.map(i =>
        s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
      val scores = terms.indices.map { i =>
        s"""CAST(CASE WHEN tf$i > 0 THEN round(ln(1 + (n - df$i + 0.5) / (df$i + 0.5))
           * tf$i * ${k1 + 1.0} / (tf$i + $k1 * ($oneMinusB + $b * dl / avgdl)), 9)
           ELSE 0 END AS DECIMAL(18,9))"""
      }.mkString(" + ")
      val hits = terms.indices.map(i =>
        s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      s"""SELECT '$label' AS query, n_rel, dcg, idcg,
         |       round(CASE WHEN idcg_d > 0 THEN CAST(dcg_d AS DOUBLE) / CAST(idcg_d AS DOUBLE)
         |             ELSE 0.0 END, 6) AS ndcg
         |FROM (
         |  WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
         |              FROM documents),
         |  base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, $tfs FROM tk),
         |  stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, $dfs
         |            FROM base),
         |  sc AS (SELECT doc_id, $scores AS s, $hits AS hits FROM base, stats),
         |  rk AS (SELECT doc_id, hits,
         |                ROW_NUMBER() OVER (ORDER BY round(CAST(s AS DOUBLE), 6) DESC, doc_id) AS rank
         |         FROM sc WHERE round(CAST(s AS DOUBLE), 6) > 0
         |         ORDER BY round(CAST(s AS DOUBLE), 6) DESC, doc_id LIMIT $k),
         |  dcg_t AS (SELECT COALESCE(SUM(CAST(round((pow(2.0, hits) - 1.0)
         |                     / (ln(rank + 1.0) / ln(2.0)), 9) AS DECIMAL(18,9))),
         |                   CAST(0 AS DECIMAL(18,9))) AS dcg_d
         |            FROM rk),
         |  graded AS (SELECT doc_id, $hits AS grade FROM base WHERE $hits > 0),
         |  ideal AS (SELECT grade,
         |                   ROW_NUMBER() OVER (ORDER BY grade DESC, doc_id) AS rank
         |            FROM graded ORDER BY grade DESC, doc_id LIMIT $k),
         |  idcg_t AS (SELECT COALESCE(SUM(CAST(round((pow(2.0, grade) - 1.0)
         |                      / (ln(rank + 1.0) / ln(2.0)), 9) AS DECIMAL(18,9))),
         |                    CAST(0 AS DECIMAL(18,9))) AS idcg_d
         |             FROM ideal),
         |  nr AS (SELECT COUNT(*) AS n_rel FROM graded)
         |  SELECT n_rel, round(CAST(dcg_d AS DOUBLE), 6) AS dcg,
         |         round(CAST(idcg_d AS DOUBLE), 6) AS idcg, dcg_d, idcg_d
         |  FROM dcg_t, idcg_t, nr)""".stripMargin
    }
    blocks.mkString("\nUNION ALL\n") + "\nORDER BY query"
  }
}
