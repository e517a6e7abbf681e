package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding-similarity surface (SURVEY.md §2 group H): cosine/dot scalar
  * ops, brute-force top-k (exact baseline), and an LSH-bucketed approximate
  * variant (the scale path).
  *
  * All vector math uses higher-order functions (`zip_with` + `aggregate`)
  * over `array<double>` — codegen'd, no UDF, summation strictly in index
  * order (deterministic and bit-comparable with the DuckDB oracle, which
  * also folds list elements left-to-right in double precision).
  *
  * Scale notes: brute-force top-k is query-set × corpus — fine when the
  * query set broadcasts (Q small); for corpus × corpus use [[annTopK]],
  * which buckets by random-hyperplane signature so each vector only meets
  * its bucket (candidates ∝ corpus/2^bits per query, not corpus²).
  */
object Similarity {

  import graft.functions.VectorExpressions.{vec_dot, vec_norm}

  /** Thrown by the declared-quadratic oracle anchors when their input
    * exceeds fixture scale — same contract as the driver-key cap in
    * [[graft.core.ChunkedFetcher]]: an operation that cannot scale must
    * fail fast and NAME its distributed replacement, never silently run
    * an O(n²) plan on big data.
    */
  final class QuadraticAnchorException(msg: String) extends RuntimeException(msg)

  /** Default row cap for the exact all-pairs anchors: generous for every
    * fixture SF (embeddings is 2,000 rows at sf0.1; 4,000 augmented) but
    * refuses the 10× soak corpus and anything bigger, where the LSH
    * siblings are the registered recommendation. Overridable per session
    * via `spark.graft.quadraticAnchorMaxRows` for deliberate oracle runs.
    */
  val QuadraticAnchorDefaultMaxRows: Long = 10000L

  private def guardQuadraticAnchor(e: DataFrame, op: String, alternative: String): Unit =
    guardQuadraticAnchor(e.sparkSession, e.count(), op, alternative)

  /** The row-cap check over an already-known input size `n` — for callers
    * that have the count from a measurement they take anyway. */
  private def guardQuadraticAnchor(spark: SparkSession, n: Long, op: String,
                                   alternative: String): Unit = {
    val cap = spark.conf.getOption("spark.graft.quadraticAnchorMaxRows")
      .map(_.toLong).getOrElse(QuadraticAnchorDefaultMaxRows)
    if (n > cap) throw new QuadraticAnchorException(
      s"$op is a fixture-scale EXACT oracle anchor with O(n²) pair work; input has " +
        s"$n rows > cap $cap. At scale use $alternative (same output shape, " +
        "LSH-bucketed sub-quadratic candidates with exact verification), or set " +
        "spark.graft.quadraticAnchorMaxRows to force an oracle run.")
  }

  /** Cast float embedding to double once; all arithmetic stays double.
    * Native array cast — vectorizable, unlike a transform() lambda which
    * evaluates interpreted per element.
    */
  private def asDouble(c: Column): Column = c.cast("array<double>")

  // codegen'd native expressions (graft.functions.VectorExpressions) — the
  // zip_with/aggregate HOF formulation is interpreted per element and
  // dominates all-pairs scans; these inline a primitive loop into
  // WholeStageCodegen with identical left-to-right double summation
  private def dot(a: Column, b: Column): Column = vec_dot(a, b)

  private def norm(a: Column): Column = vec_norm(a)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Per-vector L2 norm — the sanity/oracle anchor for all vector math. */
  def norms(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), round(norm(asDouble(col("embedding"))), 6).as("l2_norm"))
      .orderBy("vec_id")

  /** Scalar int8 quantization for embedding storage — the 4× compression a
    * 100 TB embedding corpus ships with (float32 → uint8 per dimension).
    * Two passes, both narrow:
    *
    *   1. exact per-dimension [min, max] bounds as ONE hash aggregate of
    *      2·dim agg expressions over `element_at` — the corpus is never
    *      exploded to (row, dim) pairs and never shuffles (partial
    *      aggregation reduces each partition to one bounds row);
    *   2. a typed map with the bounds in the task closure: code q_i =
    *      round((x_i − min_i)/scale_i), scale_i = (max_i − min_i)/255,
    *      reconstruction r_i = min_i + q_i·scale_i.
    *
    * Emits the quantized codes plus the accounting a pipeline stores with
    * them: reconstructed L2 norm and max absolute reconstruction error —
    * pure deterministic double arithmetic, summed left-to-right, so the
    * stats carry a full DuckDB value oracle (`q_quantize_int8`; the code
    * arrays themselves are spec-checked, arrays don't hash-compare
    * portably). Like the histogram/BM25 stats pattern, the bounds pass is
    * an eager job at construction — the documented two-pass trade.
    */
  def quantizeInt8(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val boundsRow = e.agg(
      array((1 to dim).map(i => min(element_at(col("v"), i))): _*).as("mns"),
      array((1 to dim).map(i => max(element_at(col("v"), i))): _*).as("mxs")).head()
    val mns = boundsRow.getSeq[Double](0).toArray
    val mxs = boundsRow.getSeq[Double](1).toArray
    // constant dimensions (max == min) quantize to code 0 with scale 1 so
    // reconstruction is exact and no division by zero occurs
    val scs = Array.tabulate(dim)(i => if (mxs(i) > mns(i)) (mxs(i) - mns(i)) / 255.0 else 1.0)
    e.as[(Long, Array[Double])].mapPartitions { it =>
      it.map { case (id, v) =>
        val codes = new Array[Int](v.length)
        var s2 = 0.0
        var maxErr = 0.0
        var i = 0
        while (i < v.length) {
          val q = math.round((v(i) - mns(i)) / scs(i)).toInt
          codes(i) = q
          val r = mns(i) + q * scs(i)
          s2 += r * r
          val err = math.abs(r - v(i))
          if (err > maxErr) maxErr = err
          i += 1
        }
        (id, codes, math.sqrt(s2), maxErr)
      }
    }.toDF("vec_id", "codes", "qnorm", "max_abs_err")
      .select(col("vec_id"), col("codes"),
        round(col("qnorm"), 6).as("qnorm"),
        round(col("max_abs_err"), 6).as("max_abs_err"))
      .orderBy("vec_id")
  }

  /** Exact brute-force top-k cosine neighbors for a query subset.
    * Plan shape: the query side (small) is broadcast, the corpus streams —
    * one narrow pass over the corpus per batch of queries, then a bounded
    * per-query heap via row_number over a window partitioned by query id.
    */
  def cosineTopK(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val sim = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    sim.select(col("qid"), col("cid"), col("sim"), row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("qid", "rn")
  }

  /** Deterministic pseudo-random hyperplanes (seeded, plan-time constants). */
  private def planes(nPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** DuckDB replay of the hyperplane-LSH machinery — the CTE prefix every
    * LSH-family oracle shares. The planes are seeded JVM constants a SQL
    * engine cannot re-derive, but the oracle GENERATOR runs beside the
    * operator (the minhashOracleSql pattern), so it embeds the exact plane
    * matrix as double literals (`Double.toString` round-trips bit-exactly
    * through DuckDB's literal parser). Dot products use the same
    * sequential `list_sum(list_transform(...))` association the
    * q_cosine_topk oracle already gate-proved against the codegen [[dot]]
    * loop, so bucket sign bits and verification cosines replay exactly —
    * the one float hazard (a plane dot within reassociation distance of
    * zero flipping a sign bit) is validated empirically at both fixture
    * SFs. Emits CTEs: `src` (vec_id, v DOUBLE[]), `n` (+nrm), `pl`
    * (plane_id, w), `s` (vec_id, tbl, bucket) — mirroring
    * [[lshSignatures]] bit for bit.
    */
  private def lshReplayCtes(srcSql: String, nTables: Int, bitsPerTable: Int,
                            dim: Int): String = {
    val pls = planes(nTables * bitsPerTable, dim).zipWithIndex.map { case (p, i) =>
      s"($i, [${p.mkString(",")}]::DOUBLE[])"
    }.mkString(",\n  ")
    s"""src AS ($srcSql),
       |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM src),
       |pl(plane_id, w) AS (VALUES
       |  $pls),
       |d AS (SELECT vec_id, plane_id,
       |        list_sum(list_transform(generate_series(1, least(len(v), len(w))), i -> v[i] * w[i])) AS dp
       |      FROM src CROSS JOIN pl),
       |s AS (SELECT vec_id, plane_id // $bitsPerTable AS tbl,
       |        CAST(SUM(CASE WHEN dp > 0 THEN 1 << (plane_id % $bitsPerTable) ELSE 0 END) AS BIGINT) AS bucket
       |      FROM d GROUP BY 1, 2)""".stripMargin
  }

  private val rawVectorsSql =
    "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings"

  /** SQL replay of [[withSyntheticNearDups]]: the perturbed copy runs the
    * SAME two double ops in the same order (float→double casts, then
    * `x + (alpha * next)`), and the 1-based SQL index `(j % d) + 1` is
    * exactly the 0-based `pmod(i + 1, d) + 1` element_at the Spark
    * transform uses — bit-identical augmented vectors on both engines.
    */
  private def augmentedVectorsSql(idOffset: Long = 1000000L,
                                  alpha: Double = 0.25): String =
    s"""$rawVectorsSql
       |UNION ALL
       |SELECT vec_id + $idOffset,
       |       list_transform(generate_series(1, len(embedding)),
       |         j -> CAST(embedding[j] AS DOUBLE) + $alpha * CAST(embedding[(j % len(embedding)) + 1] AS DOUBLE))
       |FROM embeddings""".stripMargin

  /** Generated full value oracle for [[cosinePairsLsh]] at the registered
    * ≥`threshold` regime over the augmented corpus: bucket-collision
    * candidates from the embedded-plane replay, exact cosine verification,
    * the same unrounded threshold filter. LSH-approximate ≠ nondeterministic:
    * the candidate set is a pure function of the seeded planes, so the
    * oracle pins recall AND precision of the exact emitted pair set.
    */
  def cosinePairsLshOracleSql(threshold: Double, nTables: Int = 8,
                              bitsPerTable: Int = 8, dim: Int = 64): String =
    s"""WITH ${lshReplayCtes(augmentedVectorsSql(), nTables, bitsPerTable, dim)},
       |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |         FROM s x JOIN s y ON y.tbl = x.tbl AND y.bucket = x.bucket AND x.vec_id < y.vec_id),
       |p AS (SELECT id_a, id_b,
       |        list_sum(list_transform(generate_series(1, least(len(a.v), len(b.v))), i -> a.v[i] * b.v[i]))
       |          / (a.nrm * b.nrm) AS sim
       |      FROM cand JOIN n a ON a.vec_id = cand.id_a JOIN n b ON b.vec_id = cand.id_b)
       |SELECT id_a, id_b, round(sim, 6) AS sim FROM p
       |WHERE sim >= $threshold ORDER BY id_a, id_b""".stripMargin

  /** Generated full value oracle for [[knnGraphLsh]] — same replay, both
    * pair orientations (candidates are directed), per-node (sim DESC,
    * neighbor) top-k.
    */
  def knnGraphLshOracleSql(k: Int = 5, nTables: Int = 8,
                           bitsPerTable: Int = 4, dim: Int = 64): String =
    s"""WITH ${lshReplayCtes(rawVectorsSql, nTables, bitsPerTable, dim)},
       |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |         FROM s x JOIN s y ON y.tbl = x.tbl AND y.bucket = x.bucket AND x.vec_id <> y.vec_id),
       |p AS (SELECT id_a, id_b,
       |        list_sum(list_transform(generate_series(1, least(len(a.v), len(b.v))), i -> a.v[i] * b.v[i]))
       |          / (a.nrm * b.nrm) AS sim
       |      FROM cand JOIN n a ON a.vec_id = cand.id_a JOIN n b ON b.vec_id = cand.id_b),
       |r AS (SELECT id_a, id_b, sim,
       |        ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS rn FROM p)
       |SELECT id_a AS vec_id, id_b AS neighbor_id, round(sim, 6) AS sim, CAST(rn AS BIGINT) AS rn
       |FROM r WHERE rn <= $k ORDER BY vec_id, rn""".stripMargin

  /** Generated full value oracle for [[ivfTopK]] — a complete SQL replay
    * of the IVF index build and probe: seed centroids (first `nCells` ids),
    * `kmeansIters` unrolled Lloyd steps (the chained-CTE pattern) with the
    * SAME exact-decimal mean [[lloydStep]] computes, cell assignment and
    * probe ranking by (csim DESC, cent_id), exact cosine + top-k over the
    * probed cells. Possible because every step of the operator is
    * deterministic and engine-portable: the only order-sensitive sum in
    * the path (the Lloyd mean) runs through DECIMAL(38,18).
    */
  /** Shared Lloyd-replay CTE prefix: `src`/`n` (normalized corpus), `c0`
    * (first-nCells seed in vec_id order), `kmeansIters` unrolled
    * exact-decimal Lloyd steps, and a final full ranking `rf` (vec × cell
    * csim with crank). Used by [[ivfTopKOracleSql]] and
    * [[kmeansPrototypesOracleSql]] so the two oracles cannot drift from a
    * single training replay.
    */
  private def lloydReplayCtes(nCells: Int, kmeansIters: Int, dim: Int): String = {
    def rankCte(name: String, centCte: String): String =
      s"""$name AS (SELECT vec_id, cent_id, csim,
         |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crank
         |FROM (SELECT n.vec_id, c.cent_id,
         |        list_sum(list_transform(generate_series(1, least(len(n.v), len(c.cv))), i -> n.v[i] * c.cv[i]))
         |          / (n.nrm * c.cn) AS csim
         |      FROM n CROSS JOIN $centCte c))""".stripMargin
    val iterCtes = (1 to kmeansIters).map { it =>
      val prev = if (it == 1) "c0" else s"c${it - 1}"
      s"""${rankCte(s"r${it - 1}", prev)},
         |a${it - 1} AS (SELECT n.vec_id, n.v, r.cent_id AS cell
         |  FROM r${it - 1} r JOIN n ON n.vec_id = r.vec_id WHERE r.crank = 1),
         |ux$it AS (SELECT cell, i AS pos, v[i] AS x FROM a${it - 1}
         |  CROSS JOIN (SELECT UNNEST(generate_series(1, $dim)) AS i) g WHERE i <= len(v)),
         |mm$it AS (SELECT cell, pos,
         |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m
         |  FROM ux$it GROUP BY cell, pos),
         |c$it AS (SELECT cent_id, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cn
         |  FROM (SELECT cell AS cent_id, list(m ORDER BY pos) AS cv FROM mm$it GROUP BY cell))""".stripMargin
    }.mkString(",\n")
    s"""src AS ($rawVectorsSql),
       |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM src),
       |c0 AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n ORDER BY vec_id LIMIT $nCells),
       |$iterCtes,
       |${rankCte("rf", s"c$kmeansIters")}""".stripMargin
  }

  def ivfTopKOracleSql(nQueries: Int = 20, k: Int = 5, nCells: Int = 16,
                       nProbe: Int = 4, kmeansIters: Int = 1,
                       dim: Int = 64): String = {
    s"""WITH ${lloydReplayCtes(nCells, kmeansIters, dim)},
       |asg AS (SELECT vec_id, cent_id AS cell FROM rf WHERE crank = 1),
       |pr AS (SELECT vec_id AS qid, cent_id AS cell FROM rf
       |       WHERE vec_id < $nQueries AND crank <= $nProbe),
       |cand AS (SELECT DISTINCT pr.qid, asg.vec_id AS cid
       |         FROM pr JOIN asg ON asg.cell = pr.cell AND asg.vec_id <> pr.qid),
       |p AS (SELECT qid, cid,
       |        list_sum(list_transform(generate_series(1, least(len(a.v), len(b.v))), i -> a.v[i] * b.v[i]))
       |          / (a.nrm * b.nrm) AS sim
       |      FROM cand JOIN n a ON a.vec_id = cand.qid JOIN n b ON b.vec_id = cand.cid),
       |r AS (SELECT qid, cid, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn FROM p)
       |SELECT qid, cid, round(sim, 6) AS sim, CAST(rn AS BIGINT) AS rn FROM r
       |WHERE rn <= $k ORDER BY qid, rn""".stripMargin
  }

  /** Generated full value oracle for [[kmeansPrototypes]] — the same
    * [[lloydReplayCtes]] training replay as the IVF oracle (shared by
    * construction, so the two cannot drift), then the per-cell centrality
    * window instead of the probe path.
    */
  def kmeansPrototypesOracleSql(nCells: Int = 16, perCell: Int = 5,
                                kmeansIters: Int = 1, dim: Int = 64): String =
    s"""WITH ${lloydReplayCtes(nCells, kmeansIters, dim)},
       |sized AS (SELECT vec_id, cent_id AS cell, csim,
       |    ROW_NUMBER() OVER (PARTITION BY cent_id ORDER BY csim DESC, vec_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY cent_id) AS cell_n
       |  FROM rf WHERE crank = 1)
       |SELECT cell, vec_id, round(csim, 6) AS centrality,
       |       CAST(rn AS BIGINT) AS rn, cell_n
       |FROM sized WHERE rn <= $perCell ORDER BY cell, rn""".stripMargin

  /** Generated full value oracle for [[pqTopK]] — a complete SQL replay of
    * product quantization end to end: unit-normalize, take the first-
    * `sampleN` training sample, run `trainIters` unrolled Lloyd iterations
    * over all `m` subspaces AT ONCE (subspace is a column, so one CTE pair
    * serves all 16 codebooks), encode the corpus, and score by ADC with
    * the same (adc DESC, cid) re-rank. No literals needed: unlike the LSH
    * planes, every PQ input derives from the corpus itself. Replayable
    * because the driver-side training loop is fixed-order double math —
    * sums accumulate in sample order, which `list_sum(list(x ORDER BY
    * sample_idx))` reproduces association-exactly — with strict-`<`
    * argmin ties to the lowest centroid index (`ORDER BY dist, cent`),
    * and empty cells keeping their previous centroid (LEFT JOIN +
    * COALESCE). The per-partition heap bound in the operator prunes under
    * the SAME total order the final window ranks by, so the SQL can skip
    * it and rank the full candidate set. Chain CTEs are AS MATERIALIZED —
    * DuckDB re-inlines multiply-referenced CTEs combinatorially otherwise
    * (measured 12.6 s -> 1.5 s at sf0.01).
    */
  def pqTopKOracleSql(nQueries: Int = 20, k: Int = 5, m: Int = 16,
                      ks: Int = 64, trainIters: Int = 5, sampleN: Int = 256,
                      dim: Int = 64): String = {
    val sub = dim / m
    // squared-L2 of a subvector against a centroid list, summed in
    // position order (the training and encoding loops' association)
    def distExpr(vecCol: String, centCol: String): String =
      s"list_sum(list_transform(generate_series(1, $sub), i -> ($vecCol[i] - $centCol[i]) * ($vecCol[i] - $centCol[i])))"
    val iterCtes = (1 to trainIters).map { it =>
      val prev = s"c${it - 1}"
      s"""asg$it AS MATERIALIZED (SELECT s, sample_idx, subvec, cent FROM (
         |    SELECT p.s, p.sample_idx, p.subvec, c.cent,
         |      ROW_NUMBER() OVER (PARTITION BY p.s, p.sample_idx
         |                         ORDER BY ${distExpr("p.subvec", "c.cv")}, c.cent) AS dr
         |    FROM samp p JOIN $prev c ON c.s = p.s)
         |  WHERE dr = 1),
         |nm$it AS MATERIALIZED (SELECT s, cent, list(sm / n ORDER BY pos) AS cv FROM (
         |    SELECT s, cent, i AS pos,
         |      list_sum(list(subvec[i] ORDER BY sample_idx)) AS sm, COUNT(*) AS n
         |    FROM asg$it CROSS JOIN (SELECT UNNEST(generate_series(1, $sub)) AS i) g
         |    GROUP BY s, cent, i)
         |  GROUP BY s, cent),
         |c$it AS MATERIALIZED (SELECT p.s, p.cent, COALESCE(nc.cv, p.cv) AS cv
         |  FROM c${it - 1} p LEFT JOIN nm$it nc ON nc.s = p.s AND nc.cent = p.cent)""".stripMargin
    }.mkString(",\n")
    s"""WITH src AS ($rawVectorsSql),
       |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM src),
       |un AS MATERIALIZED (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n),
       |sdim AS (SELECT UNNEST(generate_series(0, ${m - 1})) AS s),
       |smp AS (SELECT vec_id, u, sample_idx FROM (
       |    SELECT vec_id, u, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS sample_idx FROM un)
       |  WHERE sample_idx < $sampleN),
       |samp AS MATERIALIZED (SELECT sample_idx, sdim.s,
       |    list_transform(generate_series(1, $sub), i -> u[sdim.s * $sub + i]) AS subvec
       |  FROM smp CROSS JOIN sdim),
       |c0 AS MATERIALIZED (SELECT s, sample_idx AS cent, subvec AS cv FROM samp WHERE sample_idx < $ks),
       |$iterCtes,
       |cvs AS (SELECT vec_id, sdim.s,
       |    list_transform(generate_series(1, $sub), i -> u[sdim.s * $sub + i]) AS subvec
       |  FROM un CROSS JOIN sdim),
       |enc AS MATERIALIZED (SELECT vec_id, s, cent AS code FROM (
       |    SELECT p.vec_id, p.s, c.cent,
       |      ROW_NUMBER() OVER (PARTITION BY p.s, p.vec_id
       |                         ORDER BY ${distExpr("p.subvec", "c.cv")}, c.cent) AS dr
       |    FROM cvs p JOIN c$trainIters c ON c.s = p.s)
       |  WHERE dr = 1),
       |q AS (SELECT vec_id AS qid, u AS qu FROM un WHERE vec_id < $nQueries),
       |lv AS (SELECT q.qid, enc.vec_id AS cid, enc.s,
       |    list_sum(list_transform(generate_series(1, $sub), i -> q.qu[enc.s * $sub + i] * c.cv[i])) AS lut
       |  FROM enc JOIN c$trainIters c ON c.s = enc.s AND c.cent = enc.code
       |  CROSS JOIN q WHERE enc.vec_id <> q.qid),
       |sc AS (SELECT qid, cid, list_sum(list(lut ORDER BY s)) AS adc FROM lv GROUP BY qid, cid),
       |r AS (SELECT qid, cid, adc, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc DESC, cid) AS rn FROM sc)
       |SELECT qid, cid, round(adc, 6) AS adc, CAST(rn AS BIGINT) AS rn FROM r
       |WHERE rn <= $k ORDER BY qid, rn""".stripMargin
  }

  /** Generated full value oracle for the LSH composition of
    * [[semanticDedupKeepList]]: the LSH verified-pair CTE feeds the same
    * recursive-reachability clustering the exact keeplist oracle uses
    * (component label = min member id; survivors = cluster minima +
    * untouched vectors), over the augmented corpus.
    */
  def semanticKeepListLshOracleSql(threshold: Double, nTables: Int = 8,
                                   bitsPerTable: Int = 8, dim: Int = 64): String =
    s"""WITH RECURSIVE ${lshReplayCtes(augmentedVectorsSql(), nTables, bitsPerTable, dim)},
       |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |         FROM s x JOIN s y ON y.tbl = x.tbl AND y.bucket = x.bucket AND x.vec_id < y.vec_id),
       |jp AS (SELECT id_a, id_b FROM (
       |         SELECT id_a, id_b,
       |           list_sum(list_transform(generate_series(1, least(len(a.v), len(b.v))), i -> a.v[i] * b.v[i]))
       |             / (a.nrm * b.nrm) AS sim
       |         FROM cand JOIN n a ON a.vec_id = cand.id_a JOIN n b ON b.vec_id = cand.id_b)
       |       WHERE sim >= $threshold),
       |edges AS (SELECT id_a, id_b FROM jp UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM jp),
       |reach(rsrc, rdst) AS (
       |  SELECT id_a, id_a FROM edges
       |  UNION
       |  SELECT r.rsrc, e2.id_b FROM reach r JOIN edges e2 ON r.rdst = e2.id_a),
       |cl AS (SELECT rsrc AS vec_id, MIN(rdst) AS cluster_id FROM reach GROUP BY rsrc)
       |SELECT d.vec_id FROM src d LEFT JOIN cl ON d.vec_id = cl.vec_id
       |WHERE cl.vec_id IS NULL OR cl.cluster_id = d.vec_id
       |ORDER BY d.vec_id""".stripMargin

  /** Generated full value oracle for [[annTopK]]: replay the bucket
    * assignment with the embedded plane literals, union candidates across
    * tables, exact cosine + (sim DESC, cid) row_number — the same
    * candidate set and the same ranking, so the "approximate" query is
    * deterministic end to end and hash-matches like any exact one.
    */
  def annTopKOracleSql(nQueries: Int = 20, k: Int = 5, nTables: Int = 8,
                       bitsPerTable: Int = 4, dim: Int = 64): String =
    s"""WITH ${lshReplayCtes(rawVectorsSql, nTables, bitsPerTable, dim)},
       |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
       |         FROM s q JOIN s c ON c.tbl = q.tbl AND c.bucket = q.bucket AND c.vec_id <> q.vec_id
       |         WHERE q.vec_id < $nQueries),
       |p AS (SELECT qid, cid,
       |        list_sum(list_transform(generate_series(1, least(len(a.v), len(b.v))), i -> a.v[i] * b.v[i]))
       |          / (a.nrm * b.nrm) AS sim
       |      FROM cand JOIN n a ON a.vec_id = cand.qid JOIN n b ON b.vec_id = cand.cid),
       |r AS (SELECT qid, cid, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn FROM p)
       |SELECT qid, cid, round(sim, 6) AS sim, CAST(rn AS BIGINT) AS rn FROM r
       |WHERE rn <= $k ORDER BY qid, rn""".stripMargin

  /** Corpus-adaptive LSH signature width: the bits-per-table that keeps
    * bucket-join candidate volume near-LINEAR as the corpus grows past the
    * calibration size `nRef`. `b0` bits are calibrated for ~nRef vectors;
    * each corpus doubling beyond adds one bit, so per-bucket occupancy —
    * and with it the chance-candidate mass Σ C(size,2) the pair equi-join
    * materializes — stays roughly constant: candidates ∝ L·n²/2^b is
    * quadratic at fixed b but ~n·nRef/2^b0 at b = b0 + log2(n/nRef).
    * PERF.md's round-7 scaling table MEASURES the contrast (fixed b: ×4.0
    * candidate volume per corpus doubling; scaled b: ×2.06; ScalingSpec
    * pins both), and the sf1x soak measured the consequence end to end:
    * `q_cosine_pairs_lsh` under fixed b=8 ran 105× longer on 10× the data
    * — slower than its exact-quadratic sibling — and drops back to
    * near-linear wired through this function. The price is per-table
    * recall at the same table count (collision probability at cosine s
    * falls as p^b, p = 1 - acos(s)/π): certify recall with the bounded
    * [[annRecallReport]]/[[lshFidelityReport]] probes and raise nTables
    * when the floor matters — at corpus scale, bucket selectivity is what
    * keeps the join alive at all. Never narrows below b0, so fixture-scale
    * results — including the embedded-plane replay oracles, whose static
    * SQL is generated at the calibration width — are unchanged at
    * n ≤ nRef.
    *
    * Rounding is CEIL, not floor (round 9): the 100× attribution
    * (PERF.md) measured the verification join — linear in candidate
    * volume — as the dominant stage, with the signature pass absorbed by
    * parallelism; between powers of two, flooring under-widens by up to
    * one bit and pays ~2× candidates to save ~15% signature work, the
    * wrong side of the measured trade. Ceil keeps every gate anchor at
    * b0 (n ≤ nRef ⇒ the log is ≤ 0) and [[scaledTables]] compensates the
    * per-table recall exactly as before. Measured (PERF.md round-9 ceil
    * A/B): at 10× b 13→14, L 18→21, candidates 3.01 M→1.92 M, best-rep
    * 5.72→3.85 s; at 100× b 16→17, L 28→33, candidates 72.9 M→47.6 M,
    * best-rep 67.4→55.1 s; recall at the sf0.1 probe 0.9985 with the
    * compensated L vs 0.9980 fixed.
    */
  def scaledBits(b0: Int, nRef: Long, n: Long): Int =
    b0 + math.max(0, math.ceil(math.log(n.toDouble / nRef) / math.log(2)).toInt)

  /** The table count that preserves pair recall under [[scaledBits]]
    * widening: each extra bit multiplies a threshold-pair's per-table
    * collision probability by p = 1 - acos(threshold)/π, so holding
    * L·p^b constant (L' = L0·(1/p)^(b-b0)) holds the union-over-tables
    * detection probability steady at the verification threshold — pairs
    * ABOVE the threshold (the ones that matter) only get safer. L grows
    * as n^(log2(1/p)) — for the registered θ=0.9 regime, n^0.22 — so
    * total candidate volume stays sub-quadratic (~n^1.22), the standard
    * LSH ρ-exponent trade. Measured at sf1x (PERF.md round-7 recall
    * table): fixed (b=8, L=8) 0.998 recall / 93 s; scaled bits alone
    * (b=13, L=8) 0.969 / 4.0 s; bits+tables (b=13, L=16) 0.9992 / 4.8 s
    * — better recall than the fixed config at 19× less wall. Returns
    * exactly l0 at b = b0, so gate-fixture plans and their embedded-plane
    * oracles are unchanged.
    */
  def scaledTables(l0: Int, threshold: Double, b0: Int, b: Int): Int = {
    val p = 1.0 - math.acos(threshold) / math.Pi
    math.ceil(l0 * math.pow(1.0 / p, (b - b0).toDouble)).toInt
  }

  /** Approximate nearest neighbors via multi-table hyperplane LSH: L
    * independent hash tables of b bits each; a corpus vector becomes a
    * candidate for a query if they collide in ANY table (union of L
    * bucket-joins, done as one explode + equi-join on (table, bucket)).
    * Exact cosine + top-k runs on candidates only.
    *
    * Recall for a neighbor at angle θ: 1 - (1 - p^b)^L with
    * p = 1 - θ/π per bit; (L=8, b=4) gives ~0.8 top-1 recall at cos≈0.45
    * while touching ~L·corpus/2^b candidates per query. At a 100 TB corpus,
    * raise b (bucket selectivity) and L (recall) together — the knobs trade
    * compute for recall without ever going corpus×corpus. Approximate
    * relative to brute force, but deterministic end to end (seeded planes)
    * — so it carries BOTH a recall floor vs [[cosineTopK]] in the suite
    * AND a full value oracle ([[annTopKOracleSql]] replays the bucket
    * machinery with embedded plane literals).
    */
  /** Multi-table hyperplane-LSH signatures: one (vec, table) -> bucket row
    * per hash table, computed in ONE narrow typed pass — the plane matrix
    * rides the task closure (a few KB), each row emits its nTables buckets
    * directly. This replaces the earlier broadcast-planes crossJoin +
    * groupBy formulation: same plane seeding and bit encoding (asserted by
    * SimilaritySpec's recall floors), but zero shuffles and no per-(row,
    * plane) intermediate. Inline literal planes were rejected earlier for
    * codegen bloat (4s compile at high dim); the closure matrix has neither
    * cost. Shared by [[annTopK]] and [[cosinePairsLsh]] so the encoding
    * (which their recall math depends on) cannot diverge.
    */
  /** One table's bucket for one vector — the single definition of the
    * bit encoding, shared by the id-only and payload-carrying signature
    * emitters so the encoding (which every recall floor and embedded-
    * plane oracle depends on) cannot diverge between them.
    */
  private def lshBucketOf(planeMatrix: Array[Array[Double]], t: Int,
                          bpt: Int, v: Array[Double]): Long = {
    var bucket = 0L
    var b = 0
    while (b < bpt) {
      val p = planeMatrix(t * bpt + b)
      var s = 0.0
      var i = 0
      val n = math.min(v.length, p.length)
      while (i < n) { s += v(i) * p(i); i += 1 }
      if (s > 0) bucket |= (1L << b)
      b += 1
    }
    bucket
  }

  private[graft] def lshSignatures(e: DataFrame, nTables: Int, bitsPerTable: Int,
                            dim: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val planeMatrix: Array[Array[Double]] =
      planes(nTables * bitsPerTable, dim).map(_.toArray).toArray
    val nT = nTables
    val bpt = bitsPerTable
    e.select(col("vec_id"), col("v")).as[(Long, Array[Double])]
      .flatMap { case (id, v) =>
        Iterator.tabulate(nT) { t => (id, t, lshBucketOf(planeMatrix, t, bpt, v)) }
      }.toDF("sig_id", "tbl", "bucket")
  }

  /** [[lshSignatures]] with the vector and its norm RIDING each signature
    * row — for the pair generators, whose round-10 shape joined the
    * candidate ids back to the embeddings to fetch payloads: at 100×
    * data that join-back shuffled the (candidates × 0.5 KB-vector)
    * stream TWICE (once per endpoint) and dominated the operator.
    * Carrying the payload through the bucket self-join instead means the
    * fat intermediate (both endpoint vectors) exists only INSIDE the
    * join task — the cosine is computed and projected to a 24-byte
    * (id_a, id_b, sim) row before anything shuffles again. Cost: the
    * bucket exchange carries nTables copies of each vector (n·L·~0.5 KB)
    * — always ≤ the join-back's candidate-stream volume once bucket
    * occupancy ≥ 2, i.e. at every corpus size the LSH path exists for.
    */
  private[graft] def lshSignaturesWithVec(e: DataFrame, nTables: Int,
                                          bitsPerTable: Int, dim: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val planeMatrix: Array[Array[Double]] =
      planes(nTables * bitsPerTable, dim).map(_.toArray).toArray
    val nT = nTables
    val bpt = bitsPerTable
    e.select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Array[Double], Double)]
      .flatMap { case (id, v, nrm) =>
        Iterator.tabulate(nT) { t =>
          (id, t, lshBucketOf(planeMatrix, t, bpt, v), v, nrm)
        }
      }.toDF("sig_id", "tbl", "bucket", "v", "nrm")
  }

  def annTopK(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5,
              nTables: Int = 8, bitsPerTable: Int = 4, dim: Int = 64): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val sigs = lshSignatures(e, nTables, bitsPerTable, dim)
    val keyed = e.join(sigs, col("vec_id") === col("sig_id"))
      .select(col("vec_id"), col("v"), col("nrm"), col("tbl"), col("bucket"))
    val qk = keyed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        col("tbl").as("qtbl"), col("bucket").as("qbucket"))
    val cand = keyed.join(broadcast(qk),
        col("tbl") === col("qtbl") && col("bucket") === col("qbucket") &&
          col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"), col("qv"), col("qn"),
        col("v"), col("nrm"))
      .dropDuplicates("qid", "cid")
    val sim = cand.select(col("qid"), col("cid"),
      (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    sim.select(col("qid"), col("cid"), round(col("sim"), 6).as("sim"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= k)
      .orderBy("qid", "rn")
  }

  /** IVF (inverted-file) approximate nearest neighbors — the other standard
    * scale path next to LSH ([[annTopK]]): partition the corpus into cells
    * around centroids, probe only the `nProbe` cells nearest to each query.
    *
    * Centroids here are a deterministic corpus sample (first `nCells` ids) —
    * one k-means sweep would tighten cells but isn't needed to exercise the
    * structure. Costs: assignment = corpus × nCells dots (one narrow pass,
    * broadcast centroids); search = query × (nProbe/nCells)·corpus exact
    * dots. At 100 TB both knobs grow (√n cells is the usual rule) and the
    * assignment becomes a write-once index column the corpus is bucketed by.
    */
  /** One Lloyd (k-means) step: new centroid = mean vector of each cell.
    * posexplode → per-(cell, position) mean → reassemble the array in
    * position order. Each step is one shuffle keyed by (cell, pos).
    */
  private def lloydStep(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      // exact-decimal sum, then ONE double division (the dsum discipline):
      // a plain double avg() is partial-aggregation-order-dependent, which
      // both breaks partitioning invariance of the trained centroids and
      // blocks the DuckDB replay oracle; the decimal SUM is exact and
      // partial-aggregable at scale. Caveat (like the LSH sign-bit hazard):
      // the double→DECIMAL(38,18) CAST itself rounds binary digits beyond
      // 18 decimals, and Spark (HALF_UP) vs DuckDB could round a boundary
      // value differently — so cross-engine agreement is EMPIRICALLY
      // validated at both gate SFs, not exact-by-construction; it only
      // surfaces if such a boundary flips a near-tie csim crank
      .agg((sum(col("x").cast(org.apache.spark.sql.types.DecimalType(38, 18)))
        .cast("double") / count(lit(1)).cast("double")).as("m"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cv"))
      .select(col("cell").as("cent_id"), col("cv"), norm(col("cv")).as("cn"))

  /** Score every vector against every (broadcast) centroid and rank. */
  private def rankCells(e: DataFrame, cents: DataFrame): DataFrame = {
    val scored = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("nrm"), col("cent_id"),
        (dot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("csim"))
    val byVec = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cent_id"))
    scored.withColumn("crank", row_number().over(byVec))
  }

  /** The IVF coarse quantizer: `nCells` centroids seeded from a
    * deterministic corpus sample (first ids), then `kmeansIters` Lloyd
    * refinements. `e` is the `(vec_id, v, nrm)` projection.
    */
  private def lloydCentroids(e: DataFrame, nCells: Int, kmeansIters: Int): DataFrame = {
    var cents = e.orderBy("vec_id").limit(nCells)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
    for (_ <- 0 until kmeansIters) {
      val assigned0 = rankCells(e, cents).filter(col("crank") === 1)
        .select(col("vec_id"), col("v"), col("cent_id").as("cell"))
      cents = lloydStep(assigned0)
    }
    cents
  }

  /** Every vector's nearest cell (crank 1) under `cents`. */
  private def assignCells(e: DataFrame, cents: DataFrame): DataFrame =
    rankCells(e, cents).filter(col("crank") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("cent_id").as("cell"), col("csim"))

  def ivfTopK(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5,
              nCells: Int = 16, nProbe: Int = 4, kmeansIters: Int = 1): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    // the iterative centroid plan feeds both the assignment and the probe
    // ranking, so the frame owns one materialized copy
    val cents = Checkpoints(lloydCentroids(e, nCells, kmeansIters))
    val assigned = assignCells(e, cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    // query-time work: rank only the QUERY vectors against the broadcast
    // centroid table, cost nQueries × nCells
    val probes = rankCells(e.filter(col("vec_id") < nQueries), cents)
      .filter(col("crank") <= nProbe)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        col("cent_id").as("cell"))
    val sim = assigned.join(broadcast(probes),
        Seq("cell")).filter(col("vec_id") =!= col("qid"))
      .dropDuplicates("qid", "vec_id")
      .select(col("qid"), col("vec_id").as("cid"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    sim.select(col("qid"), col("cid"), round(col("sim"), 6).as("sim"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= k)
      .orderBy("qid", "rn")
  }

  /** Per-cluster prototype (diversity) sampling: train k-means exactly as
    * [[ivfTopK]] does (same deterministic seed, same exact-decimal
    * [[lloydStep]]), assign every vector to its cell, and keep the
    * `perCell` vectors CLOSEST to each centroid with their centrality and
    * the cell's population — the prototypicality-sampling step of a
    * SemDeDup/SSL-prototypes curation pipeline (keep the most
    * representative examples per semantic cluster, cap any one cluster's
    * contribution) and, read with `cell_n`, the cluster-balance report a
    * mixture controller watches.
    *
    * Scale shape: centroids are nCells broadcast rows (the inventoried
    * bounded-broadcast class); assignment is one narrow pass of corpus ×
    * nCells dots; the per-cell top-k is one window partitioned by cell —
    * nothing pairwise, nothing driver-bound. At 100 TB nCells grows ~√n
    * and the assignment becomes a write-once index column (same note as
    * [[ivfTopK]]). Full value oracle: [[kmeansPrototypesOracleSql]]
    * replays training + the centrality window via the SHARED
    * [[lloydReplayCtes]].
    */
  def kmeansPrototypes(embeddings: DataFrame, nCells: Int = 16,
                       perCell: Int = 5, kmeansIters: Int = 1): DataFrame = {
    // the SAME Lloyd training as ivfTopK (the oracle replay shares
    // lloydReplayCtes); the centroids are read once here
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val assigned = assignCells(e, lloydCentroids(e, nCells, kmeansIters))
      .select(col("vec_id"), col("cell"), col("csim"))
    val wCell = Window.partitionBy("cell").orderBy(col("csim").desc, col("vec_id"))
    assigned
      .withColumn("rn", row_number().over(wCell).cast("long"))
      .withColumn("cell_n", count(lit(1)).over(Window.partitionBy("cell")))
      .filter(col("rn") <= perCell)
      .select(col("cell"), col("vec_id"), round(col("csim"), 6).as("centrality"),
        col("rn"), col("cell_n"))
      .orderBy("cell", "rn")
  }

  /** Deterministic per-subspace k-means for product quantization: Lloyd
    * iterations over a driver-side sample, first-`ks` init in sample order,
    * ties to the lowest centroid index, empty cells keep their previous
    * centroid — every step is order-fixed, so the codebooks (and everything
    * encoded with them) are bit-reproducible across runs and partitionings.
    */
  private def pqTrain(sample: Array[Array[Double]], m: Int, ks: Int,
                      iters: Int): Array[Array[Array[Double]]] = {
    val dim = sample.head.length
    val sub = dim / m
    Array.tabulate(m) { s =>
      val xs = sample.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub))
      var cents = xs.take(ks).map(_.clone)
      var it = 0
      while (it < iters) {
        val sums = Array.fill(ks)(new Array[Double](sub))
        val cnts = new Array[Int](ks)
        xs.foreach { x =>
          val c = pqNearest(x, cents)
          cnts(c) += 1
          var i = 0
          while (i < sub) { sums(c)(i) += x(i); i += 1 }
        }
        cents = Array.tabulate(ks) { c =>
          if (cnts(c) > 0) {
            val v = sums(c)
            var i = 0
            while (i < sub) { v(i) /= cnts(c); i += 1 }
            v
          } else cents(c)
        }
        it += 1
      }
      cents
    }
  }

  /** Argmin squared-L2 over centroids; strict `<` breaks ties to the lowest
    * index, keeping assignment deterministic.
    */
  private def pqNearest(x: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val ct = cents(c)
      var d = 0.0
      var i = 0
      while (i < x.length) { val t = x(i) - ct(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Product-quantization top-k (ADC) — the third standard ANN scale path
    * next to hyperplane LSH ([[annTopK]]) and IVF ([[ivfTopK]]), and the
    * one that shrinks the CORPUS, not just the candidate set: each unit-
    * normalized vector is split into `m` subvectors, each encoded as its
    * nearest of `ks` per-subspace k-means centroids → m·log2(ks) bits per
    * vector (defaults m=16, ks=64 → 12 bytes vs 256 for 64 floats, a ~21×
    * memory cut measured at recall@5 ≈ 0.85 on the fixture — the knob runs
    * to m=8/ks=16 → 4 bytes/64× where recall affords it), so a 100 TB
    * float corpus becomes a ~4.7 TB code table that fits cluster memory.
    *
    * Search is asymmetric distance computation: per query, one m×ks lookup
    * table of exact query-subvector · centroid inner products (queries are
    * NOT quantized); a corpus vector's approximate cosine is then m table
    * adds. Plan shape: codebooks are trained driver-side on a deterministic
    * sample (sample-trained codebooks are the production practice — the
    * sample, not the corpus, bounds training cost), and encode + score +
    * per-partition top-k run in ONE narrow typed pass with codebooks and
    * query tables riding the task closure — no shuffle until the final
    * (nQueries × partitions × k)-row candidate union is re-ranked. At
    * 100 TB the codes become a write-once index column and only the
    * re-rank (kilobytes per query) ever crosses the wire.
    *
    * Quantized scores are approximate relative to brute force but
    * deterministic end to end (fixed-order driver-side training), so the
    * query carries BOTH recall floors / partitioning-invariance / memory
    * arithmetic in the suite AND a full value oracle
    * ([[pqTopKOracleSql]] replays training, encoding, and ADC in SQL).
    */
  def pqTopK(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5,
             m: Int = 16, ks: Int = 64, trainIters: Int = 5,
             sampleN: Int = 256): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
      .select(col("vec_id"), transform(col("v"), x => x / col("nrm")).as("u"))
      .as[(Long, Array[Double])]
    // two tiny eager jobs at construction (documented trade, as in the
    // histogram/BM25 stats pattern): the training sample and the query rows
    val sample = e.orderBy("vec_id").limit(sampleN).collect().map(_._2)
    val codebooks = pqTrain(sample, m, ks, trainIters)
    val queries = e.filter(col("vec_id") < nQueries).collect().sortBy(_._1)
    val sub = sample.head.length / m
    // per-query ADC tables: lut(q)(s*ks + c) = <query subvector s, centroid c>
    val luts = queries.map { case (_, q) =>
      val t = new Array[Double](m * ks)
      var s = 0
      while (s < m) {
        var c = 0
        while (c < ks) {
          val ct = codebooks(s)(c)
          var d = 0.0
          var i = 0
          while (i < sub) { d += q(s * sub + i) * ct(i); i += 1 }
          t(s * ks + c) = d
          c += 1
        }
        s += 1
      }
      t
    }
    val qids = queries.map(_._1)
    val kk = k
    val mm = m
    val kss = ks
    // encode + score + bound in one pass: per-partition top-k heaps per
    // query, ordered (score desc, cid asc) so the emitted candidate set is
    // partitioning-invariant after the global re-rank
    val candidates = e.mapPartitions { it =>
      val heaps = Array.fill(qids.length)(
        scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
          Ordering.by[(Double, Long), (Double, Long)](t => (-t._1, t._2))))
      it.foreach { case (id, u) =>
        val codes = new Array[Int](mm)
        var s = 0
        while (s < mm) {
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < kss) {
            val ct = codebooks(s)(c)
            var d = 0.0
            var i = 0
            while (i < ct.length) { val t = u(s * ct.length + i) - ct(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          codes(s) = best
          s += 1
        }
        var q = 0
        while (q < qids.length) {
          if (qids(q) != id) {
            val lut = luts(q)
            var adc = 0.0
            var s2 = 0
            while (s2 < mm) { adc += lut(s2 * kss + codes(s2)); s2 += 1 }
            val h = heaps(q)
            if (h.size < kk) h.enqueue((adc, id))
            else if (adc > h.head._1 || (adc == h.head._1 && id < h.head._2)) {
              h.dequeue(); h.enqueue((adc, id))
            }
          }
          q += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
        h.iterator.map { case (adc, id) => (qids(q), id, adc) }
      }
    }.toDF("qid", "cid", "adc")
    val w = Window.partitionBy("qid").orderBy(col("adc").desc, col("cid"))
    candidates
      .select(col("qid"), col("cid"), round(col("adc"), 6).as("adc"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= k)
      .orderBy("qid", "rn")
  }

  /** Embedding near-duplicate pairs: all (a<b) with cosine above threshold —
    * EXACT, as a block-partitioned equi-join.
    *
    * Why not LSH candidates here: exact output at a threshold this close to
    * the random-pair similarity (the fixture threshold is 0.4; random 64-dim
    * pairs sit at 0 ± 0.125) admits no sound pruning — any hash family loose
    * enough to guarantee recall admits ~every pair as a candidate, i.e. the
    * work is Ω(n²) whichever door it walks through (hyperplane LSH at
    * p_bit = 1 - acos(0.4)/π ≈ 0.63 vs ≈ 0.5 for random pairs separates too
    * slowly). What CAN be fixed is the plan: a `id_a < id_b`-only join plans
    * as BroadcastNestedLoopJoin — single-box, driver-bound. Instead each
    * vector is (1) assigned its own block `vec_id % nBlocks` and (2)
    * replicated to every block; the equi-join on block meets each unordered
    * pair exactly once (replica a ⋈ owner b, filtered to id_a < id_b), plans
    * as a hash/sort-merge join, and spreads the n²/nBlocks-per-task work
    * evenly over the cluster with an n·nBlocks-row shuffle. For corpus-scale
    * thresholds where near-dups ARE far from random (≥ ~0.8), use
    * [[cosinePairsLsh]] — sub-quadratic with a quantified recall knob.
    */
  def cosineDupPairs(embeddings: DataFrame, threshold: Double, nBlocks: Int = 32,
                     sorted: Boolean = true): DataFrame = {
    guardQuadraticAnchor(embeddings, "cosineDupPairs (q_cosine_pairs / q_semantic_keeplist)",
      "cosinePairsLsh / semanticDedupKeepList(embeddings, cosinePairsLsh(...))")
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val own = e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"),
      pmod(col("vec_id"), lit(nBlocks.toLong)).as("blk"))
    val repl = e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
      .withColumn("blk", explode(array((0 until nBlocks).map(b => lit(b.toLong)): _*)))
      // spread the replicas over the cluster even when the input is one
      // parquet split — the join work parallelism follows this partitioning
      .repartition(nBlocks, col("blk"))
    val out = repl.join(own, repl("blk") === own("blk") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
    if (sorted) out.orderBy("id_a", "id_b") else out
  }

  /** SemDeDup-style semantic dedup: embedding near-dup pairs above
    * `threshold` → connected components ([[Dedup.clusterPairs]] — the same
    * clustering engine as the n-gram families, so cluster semantics never
    * diverge) → keep the minimum vec_id per component. Returns the
    * keep-list of surviving vec_ids.
    *
    * Candidate generation here is the exact block-partitioned pair join
    * (sound at any threshold); a corpus-scale run at a real near-dup
    * threshold (≥ ~0.8) swaps in [[cosinePairsLsh]] — one argument, same
    * downstream clustering.
    */
  def semanticDedupKeepList(embeddings: DataFrame, threshold: Double): DataFrame =
    semanticDedupKeepList(embeddings,
      cosineDupPairs(embeddings, threshold, sorted = false))

  /** [[semanticDedupKeepList]] from an ARBITRARY precomputed pair graph —
    * the composition point the 100 TB path plugs into: pass
    * [[cosinePairsLsh]] output (sub-quadratic candidates, exact verified
    * sims) instead of the exact all-pairs join, same downstream clustering.
    * Because LSH pairs are a SUBSET of the exact pairs (verification is
    * exact — only recall is probabilistic), every document this form drops
    * is also dropped by the exact form: LSH survivors ⊇ exact survivors,
    * asserted in SimilaritySpec.
    */
  def semanticDedupKeepList(embeddings: DataFrame, pairs: DataFrame): DataFrame = {
    val clusters = graft.ops.Dedup.clusterPairs(pairs, sorted = false)
    val drop = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("vec_id"))
    embeddings.select("vec_id")
      .join(drop, Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  /** DBSCAN over a verified cosine pair graph (Ester et al., KDD'96) —
    * the density-clustering member of the family next to k-means/IVF
    * cells, LSH dup-clusters and graph communities. ε-neighborhood =
    * the pair graph's edges (sim ≥ threshold ⇔ cosine distance ≤ ε); a
    * vector is CORE with ≥ minPts−1 neighbors (the paper's minPts counts
    * the point itself); clusters are the connected components of the
    * CORE-CORE subgraph, labeled by minimum vec_id (an isolated core —
    * dense ball, no core neighbor — is its own cluster); BORDER points
    * (non-core with ≥1 core neighbor) attach to the smallest cluster id
    * among their core neighbors (the deterministic stand-in for the
    * paper's scan-order assignment); everything else is NOISE
    * (cluster_id null).
    *
    * Scale shape: pass [[cosinePairsLsh]] output (banded sub-quadratic
    * candidates, exact verified sims) — one degree aggregate, one
    * component run on the core-core subgraph
    * ([[graft.ops.Graph.connectedComponents]], checkpoint-rotated
    * pointer jumping), one border min-join; nothing quadratic, nothing
    * collected. Deterministic end to end (seeded LSH candidates, min-id
    * labels), so the full labeling replays in SQL.
    */
  def dbscanClusters(embeddings: DataFrame, pairs: DataFrame,
                     minPts: Int = 3): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    // Defensive canonicalization (r16 review): degrees below double-count
    // if a caller hands duplicate rows, both orientations of a pair, or a
    // self-loop — [[cosinePairsLsh]] output is already canonical-distinct
    // (id_a < id_b), so for the registered path this distinct folds into
    // the checkpoint it was paying anyway; for any other caller it makes
    // the ε-graph contract (one undirected edge per neighbor pair, no
    // self-edges) structural instead of implicit.
    val edges = Checkpoints(pairs.select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct())
    val directed = edges.select(col("id_a").as("vec_id"), col("id_b").as("nb"))
      .unionByName(edges.select(col("id_b").as("vec_id"), col("id_a").as("nb")))
    val deg = directed.groupBy("vec_id").agg(count(lit(1)).as("_deg"))
    val pts = Checkpoints(embeddings.select("vec_id")
      .join(deg, Seq("vec_id"), "left")
      .withColumn("_core",
        coalesce(col("_deg"), lit(0L)) >= lit((minPts - 1).toLong)))
    val core = pts.filter(col("_core")).select("vec_id")
    val ccEdges = edges
      .join(core.select(col("vec_id").as("id_a")), Seq("id_a"), "left_semi")
      .join(core.select(col("vec_id").as("id_b")), Seq("id_b"), "left_semi")
    val comp = graft.ops.Graph.connectedComponents(
      ccEdges.select(col("id_a").as("src"), col("id_b").as("dst")),
      sorted = false)
    val coreLab = core
      .join(comp.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("comp"), col("vec_id")).as("cluster_id"))
    val nbClusters = directed
      .join(coreLab.select(col("vec_id").as("nb"), col("cluster_id")), "nb")
      .groupBy("vec_id").agg(min("cluster_id").as("_bcl"))
    pts
      .join(coreLab.select(col("vec_id"), col("cluster_id").as("_ccl")),
        Seq("vec_id"), "left")
      .join(nbClusters, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("_core"), lit("core"))
          .when(col("_bcl").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        when(col("_core"), col("_ccl")).otherwise(col("_bcl")).as("cluster_id"))
      .orderBy("vec_id")
  }

  /** Generated full value oracle for [[dbscanClusters]] over the LSH
    * pair graph at the registered regime: the [[cosinePairsLshOracleSql]]
    * candidate/verify replay, then degree → core → recursive-CTE
    * components of the core-core subgraph (min reachable id — a
    * deliberately different algorithm from the Spark pointer jumping, so
    * agreement certifies true reachability) → border min-attachment.
    */
  def dbscanLshOracleSql(threshold: Double, minPts: Int = 3,
                         nTables: Int = 8, bitsPerTable: Int = 8,
                         dim: Int = 64): String =
    s"""WITH RECURSIVE ${lshReplayCtes(augmentedVectorsSql(), nTables, bitsPerTable, dim)},
       |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |         FROM s x JOIN s y ON y.tbl = x.tbl AND y.bucket = x.bucket AND x.vec_id < y.vec_id),
       |pr AS (SELECT id_a, id_b
       |       FROM (SELECT id_a, id_b,
       |               list_sum(list_transform(generate_series(1, least(len(a.v), len(b.v))), i -> a.v[i] * b.v[i]))
       |                 / (a.nrm * b.nrm) AS sim
       |             FROM cand JOIN n a ON a.vec_id = cand.id_a
       |                       JOIN n b ON b.vec_id = cand.id_b)
       |       WHERE sim >= $threshold),
       |dirn AS (SELECT id_a AS vec_id, id_b AS nb FROM pr
       |         UNION ALL SELECT id_b, id_a FROM pr),
       |pts AS (SELECT src.vec_id,
       |               COALESCE(d.deg, 0) >= ${minPts - 1} AS is_core
       |        FROM src LEFT JOIN (SELECT vec_id, COUNT(*) AS deg
       |                            FROM dirn GROUP BY vec_id) d USING (vec_id)),
       |cce AS (SELECT p.id_a, p.id_b FROM pr p
       |        JOIN pts x ON x.vec_id = p.id_a AND x.is_core
       |        JOIN pts y ON y.vec_id = p.id_b AND y.is_core),
       |ccn AS (SELECT id_a AS node, id_b AS nb FROM cce
       |        UNION ALL SELECT id_b, id_a FROM cce),
       |reach(node, lab) AS (
       |  SELECT node, node FROM (SELECT DISTINCT node FROM ccn)
       |  UNION
       |  SELECT n2.nb, r.lab FROM reach r JOIN ccn n2 ON n2.node = r.node),
       |comp AS (SELECT node, MIN(lab) AS comp FROM reach GROUP BY node),
       |corelab AS (SELECT p.vec_id, COALESCE(c.comp, p.vec_id) AS cluster_id
       |            FROM pts p LEFT JOIN comp c ON c.node = p.vec_id
       |            WHERE p.is_core),
       |bcl AS (SELECT d.vec_id, MIN(cl.cluster_id) AS bcl
       |        FROM dirn d JOIN corelab cl ON cl.vec_id = d.nb
       |        GROUP BY d.vec_id)
       |SELECT p.vec_id,
       |       CASE WHEN p.is_core THEN 'core'
       |            WHEN b.bcl IS NOT NULL THEN 'border'
       |            ELSE 'noise' END AS role,
       |       CASE WHEN p.is_core THEN cl.cluster_id ELSE b.bcl END AS cluster_id
       |FROM pts p
       |LEFT JOIN corelab cl ON cl.vec_id = p.vec_id
       |LEFT JOIN bcl b ON b.vec_id = p.vec_id
       |ORDER BY p.vec_id""".stripMargin

  /** Benchmark decontamination in EMBEDDING space — the semantic sibling
    * of the n-gram guards ([[graft.ops.Dedup.decontaminate]] exact,
    * `decontaminateFuzzy` containment): drop every training vector whose
    * cosine similarity to ANY benchmark vector reaches `threshold`. The
    * n-gram guards catch verbatim and near-verbatim quotes; this catches
    * paraphrases and translations the lexical tests cannot see — modern
    * pipelines run both.
    *
    * Scale shape: the benchmark is broadcast (a benchmark/eval corpus is
    * small next to training data at any scale) and the contamination test
    * is a broadcast LEFT SEMI nested-loop join — per training row, Spark
    * scans benchmark vectors and SHORT-CIRCUITS on the first hit, so the
    * n·m worst case is paid only by clean rows, map-side, no shuffle of
    * the training corpus. The codegen'd [[graft.functions]] vector
    * expressions compute the cosine. Benchmark members self-match at
    * sim 1.0 — a training copy OF a benchmark row always drops, by
    * construction. For a benchmark too large to broadcast, compose
    * [[cosinePairsLsh]] over the tagged union instead (the
    * [[semanticDedupKeepList]] composition pattern).
    *
    * Deterministic (exact arithmetic, no LSH on this form) → full value
    * oracle: DuckDB brute-forces the same max-sim test.
    */
  def decontaminateSemantic(train: DataFrame, benchmark: DataFrame,
                            threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"cosine contamination threshold must be in (0, 1], got $threshold")
    val t = train.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val b = benchmark.select(asDouble(col("embedding")).as("bv"))
      .withColumn("bnrm", norm(col("bv")))
    val contaminated = t.join(org.apache.spark.sql.functions.broadcast(b),
        dot(col("v"), col("bv")) / (col("nrm") * col("bnrm")) >= threshold,
        "left_semi")
      .select("vec_id")
    train.select("vec_id")
      .join(contaminated, Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  /** Deterministic near-duplicate augmentation: every vector gets a
    * perturbed copy v'ᵢ = vᵢ + α·v₍ᵢ₊₁ mod d₎ under `idOffset`. For
    * near-orthogonal shift (any non-degenerate corpus), cos(v, v′) ≈
    * 1/√(1+α²) ≈ 0.97 at the default α — squarely in the ≥0.9 regime where
    * LSH near-dup detection is the right tool. The fixture corpus has no
    * natural pairs above ~0.6, so the registered high-threshold LSH queries
    * run on this augmented corpus: a corpus WITH near-dups is the honest
    * demonstration regime for the 100 TB path (content-free perturbation,
    * no randomness — reproducible across engines and scale factors).
    */
  def withSyntheticNearDups(embeddings: DataFrame, idOffset: Long = 1000000L,
                            alpha: Double = 0.25): DataFrame = {
    val d = size(col("embedding"))
    val pert = embeddings.select(
      (col("vec_id") + idOffset).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        x + lit(alpha) * element_at(col("embedding"),
          (pmod(i + 1, d) + 1).cast("int"))).as("embedding"),
      col("label"))
    embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("embedding"), col("label"))
      .unionByName(pert)
  }

  /** Approximate cosine near-dup pairs — the sub-quadratic 100 TB path:
    * multi-table hyperplane-LSH candidate generation (same machinery as
    * [[annTopK]]) + exact cosine verification, so the output has exact
    * similarities and no false positives; only recall is probabilistic.
    *
    * Pair-detection probability at cosine s: 1 - (1 - p^b)^L with
    * p = 1 - acos(s)/π. The defaults (L=24, b=2) give ≥ 1 - 5e-6 at s=0.4 —
    * chosen for the low fixture threshold, where candidate selectivity is
    * necessarily poor (see [[cosineDupPairs]]); at a real near-dup threshold
    * (s ≥ 0.8, p ≥ 0.80) raise b to 8-12 for bucket selectivity and L for
    * recall — that regime is where LSH pays. Approximate but seeded: its
    * registered query hash-matches [[cosinePairsLshOracleSql]], which
    * replays the same hyperplanes; recall vs [[cosineDupPairs]] is
    * asserted in SimilaritySpec.
    */
  def cosinePairsLsh(embeddings: DataFrame, threshold: Double,
                     nTables: Int = 24, bitsPerTable: Int = 2, dim: Int = 64,
                     sorted: Boolean = true): DataFrame = {
    // no persist: e is a narrow scan+cast+norm projection — recomputing it
    // per consumer is cheaper than pinning an uncollectable cache entry
    // for the application lifetime (this function returns a lazy frame and
    // has no unpersist point)
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    // payload-carrying signatures (round 11): cosine computed INSIDE the
    // bucket self-join and projected to (id_a, id_b, sim) immediately —
    // no candidate-id join-back, so the fat pair stream never shuffles
    // (see lshSignaturesWithVec). The threshold filter runs per collision
    // BEFORE the dedup, shrinking the distinct to survivors only; sim is
    // a deterministic function of the pair, so deduping (id_a, id_b, sim)
    // after rounding is exactly the old dedup-then-verify cardinality.
    val sigv = lshSignaturesWithVec(e, nTables, bitsPerTable, dim)
    val out = sigv.as("x").join(sigv.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.sig_id") < col("y.sig_id"))
      .select(col("x.sig_id").as("id_a"), col("y.sig_id").as("id_b"),
        (dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm"))).as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
      .distinct()
    if (sorted) out.orderBy("id_a", "id_b") else out
  }

  /** Exact k-nearest-neighbor graph: every vector's top-k cosine neighbors
    * — the similarity structure curation pipelines build once and reuse
    * (SemDeDup clustering, diversity sampling, graph-based filtering).
    *
    * Pair generation is the same block-partitioned equi-join as
    * [[cosineDupPairs]] (no BNLJ, n²/nBlocks per task), computed ONCE per
    * unordered pair and mirrored into both directions before the per-node
    * top-k window — dot products are symmetric, so this halves the join
    * work against a naive `a ≠ b` self-join. Quadratic by definition: like
    * `q_cosine_pairs` this is the fixture-scale oracle anchor; the 100 TB
    * path is [[knnGraphLsh]], same output shape with bucketed candidates.
    */
  def knnGraph(embeddings: DataFrame, k: Int = 5, nBlocks: Int = 32): DataFrame = {
    guardQuadraticAnchor(embeddings, "knnGraph (q_knn_graph)", "knnGraphLsh")
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val own = e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"),
      pmod(col("vec_id"), lit(nBlocks.toLong)).as("blk"))
    val repl = e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
      .withColumn("blk", explode(array((0 until nBlocks).map(b => lit(b.toLong)): _*)))
      .repartition(nBlocks, col("blk"))
    val und = repl.join(own, repl("blk") === own("blk") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("sim"))
    val directed = und.unionByName(
      und.select(col("id_b").as("id_a"), col("id_a").as("id_b"), col("sim")))
    val w = Window.partitionBy("id_a").orderBy(col("sim").desc, col("id_b"))
    directed
      .select(col("id_a").as("vec_id"), col("id_b").as("neighbor_id"),
        round(col("sim"), 6).as("sim"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= k)
      .orderBy("vec_id", "rn")
  }

  /** Sub-quadratic k-NN graph — the 100 TB path for [[knnGraph]]:
    * multi-table hyperplane-LSH buckets generate candidate edges (same
    * [[lshSignatures]] machinery as [[annTopK]]/[[cosinePairsLsh]], so the
    * recall math is shared), exact cosine + per-node top-k run on
    * candidates only. A node's emitted neighbors are a subset of its exact
    * top candidates with EXACT similarities; recall vs [[knnGraph]] is
    * asserted in SimilaritySpec, and the registered query hash-matches
    * [[knnGraphLshOracleSql]], which replays the same hyperplanes.
    * Nodes whose buckets collide with nothing emit no rows — at corpus
    * scale raise L for recall, b for bucket selectivity.
    */
  def knnGraphLsh(embeddings: DataFrame, k: Int = 5,
                  nTables: Int = 8, bitsPerTable: Int = 4, dim: Int = 64): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    // payload-carrying signatures (round 11, the cosinePairsLsh shape):
    // cosine inside the bucket join, 24-byte rows after — the former
    // candidate-id join-back shuffled the (candidates × vector) stream
    // twice and dominated this operator at 100× data. sim is a
    // deterministic function of the pair, so the (id_a, id_b, sim)
    // distinct is exactly the old id-pair distinct's cardinality.
    val sigv = lshSignaturesWithVec(e, nTables, bitsPerTable, dim)
    val sim = sigv.as("x").join(sigv.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.sig_id") =!= col("y.sig_id"))
      .select(col("x.sig_id").as("id_a"), col("y.sig_id").as("id_b"),
        (dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm"))).as("sim"))
      .distinct()
    val w = Window.partitionBy("id_a").orderBy(col("sim").desc, col("id_b"))
    sim.select(col("id_a").as("vec_id"), col("id_b").as("neighbor_id"),
        round(col("sim"), 6).as("sim"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= k)
      .orderBy("vec_id", "rn")
  }

  // ---------------------------------------------------------------- HNSW

  /** [[hnswGraph]]'s default level cap and exact-path layer size. */
  val HnswDefaultMaxLevel: Int = 6
  val HnswDefaultExactCap: Long = 4096L

  /** The level multiplier mL = 1/ln(M) of [[hnswLevel]]. */
  def hnswMl(m: Int): Double = 1.0 / math.log(m.toDouble)

  /** Deterministic HNSW level assignment (Malkov & Yashunin 2016,
    * arXiv:1603.09320 §4): level(v) = min(floor(−ln(u)·mL), maxLevel)
    * with mL = 1/ln(M), giving the paper's geometric layer sizes
    * (P[level ≥ l] = M^−l). The stochastic draw is replaced by a hash of
    * the vector id — u ∈ (0, 1] from xxhash64 — so the hierarchy is a
    * PURE FUNCTION of the corpus: rebuildable, spec-able, no RNG state
    * shipped between executors.
    */
  private[graft] def hnswLevel(mL: Double, maxLevel: Int): Column = {
    val u = (pmod(xxhash64(col("vec_id"), lit(0x9e51L)), lit(1L << 31)) + 1)
      .cast("double") / lit((1L << 31).toDouble)
    least(floor(-log(u) * mL), lit(maxLevel.toLong)).cast("int")
  }

  /** HNSW-style layered neighbor graph — the third ANN index family next
    * to IVF/PQ/LSH: a hierarchy of bounded-degree similarity graphs,
    * layer l holding exactly the nodes with [[hnswLevel]] ≥ l, each node
    * keeping its top-M (2M on the base layer, per the paper's M_max0)
    * cosine neighbors WITHIN the layer, symmetrized and re-capped so
    * greedy search can traverse either direction. Upper layers shrink
    * geometrically (M^−l), so they act as the long-range expressways a
    * flat kNN graph lacks.
    *
    * Spark-first build, not the paper's sequential insertion: each
    * layer's edge set is one per-layer kNN-graph computation —
    * [[knnGraph]]'s once-per-pair block join while the layer fits
    * `exactCap` (upper layers always do; the fixtures' base layers too),
    * [[knnGraphLsh]]'s banded candidates above it (the same corpus-scale
    * path every pair family here takes — at 100 TB only layers 0..~2
    * exceed the cap, and their recall knobs are the shared LSH L/b
    * geometry). Insertion-order dependence disappears: the graph is a
    * pure function of (corpus, M, seed), so index builds are replayable.
    *
    * Output: (level, vec_id, neighbor_id, sim) — sims exact cosine,
    * round(6); degree ≤ 2M at level 0, ≤ M above; every edge's reverse
    * is present unless the cap trimmed it (the paper's shrink step).
    *
    * Reachability caveat on the forced-LSH path (r16 review): when a
    * layer exceeds `exactCap`, its kNN edges come from banded LSH
    * candidates — a vector whose buckets are all singletons surfaces in
    * NO candidate pair and drops out of that layer's adjacency entirely,
    * making it unreachable by [[hnswTopK]] at any ef/beamRounds (the
    * exact path cannot strand nodes; the registered fixture's recall
    * floor pins only that path). Raise nTables / lower the per-table
    * bits when stranded-node coverage matters at corpus scale, or
    * pre-filter stranded ids via the layer-membership minus
    * adjacency-key anti-join and handle them by brute-force fallback.
    */
  def hnswGraph(embeddings: DataFrame, m: Int = 8, maxLevel: Int = HnswDefaultMaxLevel,
                exactCap: Long = HnswDefaultExactCap,
                nTables: Int = 8, bitsPerTable: Int = 4): DataFrame = Checkpoints.owned {
    require(m >= 2 && maxLevel >= 1, s"need m >= 2, maxLevel >= 1, got $m/$maxLevel")
    val lvl = Checkpoints(embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("level", hnswLevel(hnswMl(m), maxLevel)))
    // ONE bounded collect (per-level histogram, ≤ maxLevel+1 rows) replaces
    // the lMax aggregate plus the per-layer membership count jobs (round 18
    // job-floor trim): every layer's member count is a suffix sum of the
    // histogram, and the exact-vs-LSH path decision per layer is unchanged.
    val hist = lvl.groupBy("level").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val lMax = if (hist.isEmpty) 0 else hist.keys.max
    val nAtOrAbove: Map[Int, Long] =
      (0 to lMax).map(l => l -> (l to lMax).map(h => hist.getOrElse(h, 0L)).sum).toMap
    def mmaxOf(l: Int): Int = if (l == 0) 2 * m else m
    // Fused exact layers (round 18, the VERDICT r16/r17 "per-layer kNN"
    // lever): layer memberships shrink geometrically (M^−l) and are NESTED
    // (members(l+1) ⊆ members(l)), so every layer small enough for the
    // exact path shares one pairwise-similarity computation — a pair
    // (i, j) is a candidate in exactly the layers l ≤ min(level_i,
    // level_j). One block join over the largest exact layer's members +
    // one per-(level, node) window replaces a separate knnGraph build
    // (block join, window, orderBy — each its own AQE job tree) per
    // layer. Per-layer results are bit-identical to knnGraph(members(l),
    // mmax): the same pair set, the same raw-cosine ordering with the
    // same id tiebreak, the same round-6 output — pinned by
    // SimilaritySpec's fused-vs-loop parity test.
    val exactL0 = (0 to lMax).find(l => nAtOrAbove(l) <= exactCap)
    val mmaxCol = when(col("level") === 0, lit(2 * m)).otherwise(lit(m))
    val fusedPart = exactL0.map { l0 =>
      guardQuadraticAnchor(embeddings.sparkSession, nAtOrAbove(l0),
        "hnswGraph's exact layers (q_hnsw_topk)",
        "an exactCap within the cap (larger layers take the banded-LSH build)")
      val nBlocks = 32 // knnGraph's block-join width
      val mem = lvl.filter(col("level") >= l0)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"), col("level"))
        .withColumn("nrm", norm(col("v")))
      val own = mem.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb"), col("level").as("lb"),
        pmod(col("vec_id"), lit(nBlocks.toLong)).as("blk"))
      val repl = mem.select(col("vec_id").as("id_a"), col("v").as("va"),
          col("nrm").as("na"), col("level").as("la"))
        .withColumn("blk", explode(array((0 until nBlocks).map(b => lit(b.toLong)): _*)))
        .repartition(nBlocks, col("blk"))
      val und = repl.join(own, repl("blk") === own("blk") && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("sim"),
          least(col("la"), col("lb")).as("lmin"))
      val directed = und.unionByName(und.select(col("id_b").as("id_a"),
          col("id_a").as("id_b"), col("sim"), col("lmin")))
        .select(col("id_a"), col("id_b"), col("sim"),
          explode(sequence(lit(l0), col("lmin"))).as("level"))
      val w1 = Window.partitionBy("level", "id_a").orderBy(col("sim").desc, col("id_b"))
      val knnL = directed.withColumn("rn", row_number().over(w1))
        .filter(col("rn") <= mmaxCol)
        .select(col("level"), col("id_a").as("vec_id"),
          col("id_b").as("neighbor_id"), round(col("sim"), 6).as("sim"))
      // symmetrize, then re-cap by similarity so no node exceeds mmax —
      // dedup BEFORE the window (an edge found in both directions must
      // not occupy two of the cap's slots); keyed by level so the fused
      // frame replays each layer's window exactly
      val sym = knnL.unionByName(knnL.select(col("level"),
          col("neighbor_id").as("vec_id"), col("vec_id").as("neighbor_id"),
          col("sim")))
        .groupBy("level", "vec_id", "neighbor_id").agg(max("sim").as("sim"))
      val w2 = Window.partitionBy("level", "vec_id")
        .orderBy(col("sim").desc, col("neighbor_id"))
      sym.withColumn("rn", row_number().over(w2))
        .filter(col("rn") <= mmaxCol)
        .select(col("level"), col("vec_id"), col("neighbor_id"), col("sim"))
    }
    // layers too large for the exact path (at fixture scale: at most the
    // base layer; at 100 TB: layers 0..~2) keep the banded-LSH build with
    // the corpus-adaptive signature width — fixed bits would let bucket
    // populations, and so candidate volume, grow linearly with n
    val lshLayers = (0 until exactL0.getOrElse(lMax + 1)).map { l =>
      val members = lvl.filter(col("level") >= l).select("vec_id", "embedding")
      val mmax = mmaxOf(l)
      val knn = knnGraphLsh(members, mmax, nTables,
        scaledBits(bitsPerTable, 512L, nAtOrAbove(l)))
      val undirected = knn.select(col("vec_id"), col("neighbor_id"), col("sim"))
        .unionByName(knn.select(col("neighbor_id").as("vec_id"),
          col("vec_id").as("neighbor_id"), col("sim")))
        .groupBy("vec_id", "neighbor_id").agg(max("sim").as("sim"))
      val w = Window.partitionBy("vec_id").orderBy(col("sim").desc, col("neighbor_id"))
      undirected.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= mmax)
        .select(lit(l).as("level"), col("vec_id"), col("neighbor_id"), col("sim"))
    }
    val layers = lshLayers ++ fusedPart.toSeq
    // the index carries each neighbor's vector + norm (the standard
    // vector-store trade — HNSW stores vectors with the graph): a search
    // hop then scores candidates straight off the adjacency rows, with no
    // corpus join per step. One corpus join here, at build time, pays for
    // all of them.
    val ev = embeddings.select(col("vec_id").as("neighbor_id"),
      asDouble(col("embedding")).as("nv"))
      .withColumn("nnrm", norm(col("nv")))
    Checkpoints(layers.reduce(_ unionByName _)
      .join(ev, "neighbor_id")
      .select(col("level"), col("vec_id"), col("neighbor_id"), col("sim"),
        col("nv"), col("nnrm")))
  }

  /** Greedy HNSW search over a [[hnswGraph]] — batch form: ALL queries
    * descend together, every hop one co-partitioned join of the bounded
    * (query, position) frontier against the layer's adjacency rows, so
    * the search cost is O(queries · hops · degree) rows of shuffle and
    * never touches the corpus beyond the visited neighborhoods.
    *
    * Upper layers run the paper's ef=1 greedy walk (`hopsPerLevel`
    * synchronous best-neighbor steps — a hop that finds no improvement
    * leaves the cursor fixed, so surplus hops are no-ops); the base layer
    * widens to an ef-candidate beam expanded `beamRounds` times with the
    * visited set folded in (a candidate once seen keeps its exact sim and
    * is never re-scored). All similarities are EXACT cosines computed on
    * the spot; ties break by candidate id everywhere, so the result is
    * deterministic for a given graph. Output matches [[annTopK]]:
    * (qid, cid, sim round-6, rn ≤ k).
    *
    * Under-fill caveat (r16 review): a query's result can carry FEWER
    * than k rows when the beam dead-ends — a tiny corpus (< k reachable
    * nodes), a disconnected graph, or a stranded node on the forced-LSH
    * build path (see [[hnswGraph]]). Callers needing a completeness
    * guarantee should check per-qid row counts; [[hnswRecallReport]]'s
    * `full_k_ok` column is exactly that check for the registered path.
    */
  def hnswTopK(embeddings: DataFrame, graph: DataFrame,
               nQueries: Int = 20, k: Int = 5, ef: Int = 64,
               hopsPerLevel: Int = 1, beamRounds: Int = 4): DataFrame = Checkpoints.owned {
    require(k >= 1 && ef >= k, s"need ef >= k >= 1, got ef=$ef k=$k")
    require(hopsPerLevel >= 0 && beamRounds >= 1,
      s"need hopsPerLevel >= 0 and beamRounds >= 1, got $hopsPerLevel/$beamRounds")
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    // the bounded query frame is read exactly once (the entry cursor
    // below carries qv/qn from there on), so it no longer needs its own
    // checkpoint job — the cursor checkpoint materializes it in the same
    // action (round 17; the earlier checkpoint-q form existed because
    // every hop re-broadcast this frame)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    // entry point: the highest-level node, smallest id on ties — a driver
    // scalar pair, one bounded job over the (level, vec_id) projection.
    // An edgeless graph (≤1-vector corpus) degenerates to a flat scan
    // from the smallest id with no upper layers.
    val (entry, lMax) = graph.groupBy("vec_id").agg(max("level").as("level"))
      .orderBy(col("level").desc, col("vec_id")).limit(1).collect() match {
      case Array(r) => (r.getLong(0), r.getInt(1))
      case _ =>
        (e.agg(coalesce(min("vec_id"), lit(0L))).head().getLong(0), 0)
    }
    // the frontier frames are bounded (≤ queries × ef rows), the graph is
    // not: broadcast the bounded side so the adjacency STREAMS map-side —
    // no graph-sized shuffle anywhere in the search. A hop scores its
    // candidates straight off the adjacency rows' carried vectors (no
    // corpus join per step — the build paid it once).
    //
    // The frontier rows also CARRY their query vector + norm (round 17,
    // second job trim): attaching qv/qn by a second broadcast join of
    // the checkpointed query table cost one extra broadcast-build JOB
    // per hop and per beam round — on a search the job-count probe read
    // as floor-bound (40 jobs / 0.56 s task time), that build was pure
    // scheduler floor. Carrying 64 doubles on ≤ queries × ef rows is
    // kilobytes of broadcast payload; the scoring expression is
    // unchanged, so every sim is bit-identical to the two-join form.
    def hop(frontier: DataFrame, l: Int): DataFrame =
      graph.filter(col("level") === l)
        .select(col("vec_id").as("cid"), col("neighbor_id"), col("nv"), col("nnrm"))
        .join(broadcast(frontier.select(col("qid"), col("cid"),
          col("qv"), col("qn"))), "cid")
        .select(col("qid"), col("neighbor_id").as("cid"),
          (dot(col("qv"), col("nv")) / (col("qn") * col("nnrm"))).as("sim"),
          col("qv"), col("qn"))
    // cursor: (qid, cid, sim, qv, qn), one row per query. The entry
    // point is a single corpus row, so the initial scores come from one
    // broadcast of that row against the query table — not a corpus join.
    val entryCur = Checkpoints(q.crossJoin(broadcast(e.filter(col("vec_id") === entry)
        .select(col("vec_id").as("cid"), col("v"), col("nrm"))))
      .select(col("qid"), col("cid"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"),
        col("qv"), col("qn")))
    // qv/qn ride the argmin struct behind the (ns, c) key: within one
    // qid group every row carries the SAME qv/qn, so they can never
    // influence the comparison — they are along for the ride, not keys.
    def best(cands: DataFrame): DataFrame = cands
      .groupBy("qid")
      .agg(min(struct((-col("sim")).as("ns"), col("cid").as("c"),
        col("qv").as("qv"), col("qn").as("qn"))).as("b"))
      .select(col("qid"), col("b.c").as("cid"), (-col("b.ns")).as("sim"),
        col("b.qv").as("qv"), col("b.qn").as("qn"))
    // base-layer beam round: candidate set capped at ef per query. Dedup
    // via ONE (qid, cid) aggregate — re-scoring an already-seen candidate
    // recomputes the same sim, so max() folds the visited set in without
    // the two extra shuffles an anti-join/except would plan. max(qv)/
    // max(qn) are constant-folds, not choices: every row of a (qid, cid)
    // group carries the same query vector, so the aggregate just keeps
    // qv/qn on the frame without a re-attach join.
    def widen(beam: DataFrame): DataFrame = {
      val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
      beam.unionByName(hop(beam, 0))
        .groupBy("qid", "cid").agg(max("sim").as("sim"),
          max("qv").as("qv"), max("qn").as("qn"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= ef).drop("rn")
    }
    // the greedy hops (layers lMax..1, `hopsPerLevel` each), then the beam
    // rounds, each checkpointed: each hop's plan embeds the cursor TWICE
    // (the stay-option union + the broadcast frontier), so un-checkpointed
    // hops nest the previous hop's three broadcast builds exponentially —
    // measured SLOWER than paying one eager checkpoint job per hop on the
    // nQueries-row cursor (the HITS nesting-factor lesson: cadence follows
    // the plan's self-embedding count, not job-count intuition)
    val greedyHops = lMax * hopsPerLevel
    val beam = Rounds.run(entryCur, greedyHops + beamRounds) { (cur, i) =>
      if (i <= greedyHops) best(cur.unionByName(hop(cur, lMax - (i - 1) / hopsPerLevel)))
      else widen(cur)
    }
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    beam.filter(col("cid") =!= col("qid"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("qid", "rn")
  }

  /** The recall dashboard for [[hnswTopK]] — the [[annRecallReport]]
    * pattern extended to the graph index: exact ground truth over the
    * bounded query set, the HNSW answer joined against it, and one row of
    * literals + booleans a SQL oracle can pin.
    *
    * `full_k_ok` additionally pins coverage: every query must surface a
    * full k results (a beam that dead-ends early would under-fill long
    * before recall degrades smoothly).
    */
  def hnswRecallReport(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5,
                       m: Int = 8, ef: Int = 64,
                       recallFloor: Double = 0.93): DataFrame = Checkpoints.owned {
    val exact = cosineTopK(embeddings, nQueries, k).select(col("qid"), col("cid"))
    // hnswTopK returns a checkpoint of its beam, which no longer reads the
    // index, so this scope releases the index
    val got = hnswTopK(embeddings, hnswGraph(embeddings, m), nQueries, k, ef)
    val hits = exact.join(got.select(col("qid"), col("cid")),
        Seq("qid", "cid"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("hits"))
    val counts = got.groupBy("qid").agg(count(lit(1)).as("nres"))
    exact.select("qid").distinct()
      .join(hits, Seq("qid"), "left")
      .join(counts, Seq("qid"), "left")
      .agg(count(lit(1)).as("nq"),
        (sum(coalesce(col("hits"), lit(0L))).cast("double") /
          (count(lit(1)) * k)).as("recall"),
        min(coalesce(col("nres"), lit(0L))).as("min_res"))
      .select(lit("hnsw").as("method"), col("nq").as("n_queries"),
        lit(k.toLong).as("k"), lit(m.toLong).as("m"), lit(ef.toLong).as("ef"),
        lit(recallFloor).as("recall_floor"),
        (col("recall") >= lit(recallFloor)).as("recall_ok"),
        (col("min_res") >= k).as("full_k_ok"))
  }

  /** Generated oracle for [[hnswRecallReport]] — literals + the two
    * booleans, the exact-bound report pattern. */
  def hnswRecallReportOracleSql(nQueries: Int = 20, k: Int = 5,
                                m: Int = 8, ef: Int = 64,
                                recallFloor: Double = 0.93): String =
    s"""SELECT 'hnsw' AS method, CAST($nQueries AS BIGINT) AS n_queries,
       |CAST($k AS BIGINT) AS k, CAST($m AS BIGINT) AS m,
       |CAST($ef AS BIGINT) AS ef, CAST($recallFloor AS DOUBLE) AS recall_floor,
       |TRUE AS recall_ok, TRUE AS full_k_ok""".stripMargin

  /** Deterministic embedding scaler for the LSH scaling experiments:
    * `copies` replicas under disjoint id ranges, copy c's vectors rotated
    * by c positions. Rotation is ORTHOGONAL, so every replica's internal
    * cosine structure (near-dup pairs, kNN edges) is exactly the base
    * corpus's — true-pair mass grows linearly with n — while cross-replica
    * similarities stay at the base corpus's unrelated-pair level for
    * non-degenerate vectors. Copy 0 is the unmodified base.
    */
  private[graft] def rotatedCopies(embeddings: DataFrame, copies: Int,
                                   idOffset: Long = 10000000L): DataFrame = {
    require(copies >= 1)
    val d = size(col("embedding"))
    (0 until copies).map { c =>
      if (c == 0) embeddings.select(col("vec_id"), col("embedding"), col("label"))
      else embeddings.select((col("vec_id") + c * idOffset).as("vec_id"),
        concat(slice(col("embedding"), lit(c + 1), d - lit(c)),
          slice(col("embedding"), lit(1), lit(c))).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
  }

  final case class EmbeddingRow(vec_id: Long, embedding: Array[Float], label: Int)

  /** Per-label embedding centroid via the typed [[graft.functions.VecMeanAggregator]]
    * (Dataset `Aggregator` — algebraic partial aggregation, one small
    * (sums, count) buffer per group on the shuffle). Emits the centroid's
    * L2 norm for oracle comparability.
    */
  def labelCentroids(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cents = embeddings.as[EmbeddingRow]
      .groupByKey(_.label)
      .mapValues(_.embedding)
      .agg(graft.functions.VecMeanAggregator.toColumn.name("centroid"))
      .toDF("label", "centroid")
    cents.select(col("label"),
        round(vec_norm(col("centroid")), 6).as("centroid_norm"))
      .orderBy("label")
  }

  /** Mean intra-label cosine similarity — CLOSED FORM, one aggregation pass.
    *
    * For unit-normalized u_i = v_i/‖v_i‖, Σ_{i≠j} u_i·u_j = ‖Σu_i‖² − n, so
    * mean pairwise cosine = (‖S‖² − n) / (n(n−1)) with S the per-label sum
    * of normalized vectors. That turns the former within-label all-pairs
    * join (quadratic per group AND a skew bomb — one big label = one giant
    * partition) into a single hash aggregate: dim running sums + a count
    * per label on the shuffle, nothing else. Linear, skew-immune, exact.
    *
    * The per-dimension sums run in DECIMAL(25,18) (components are in
    * [−1, 1], so the cast is lossless to 1e-18): decimal addition is exact
    * and order-independent, making the result bit-stable under any
    * partitioning — same contract as Helpers.dsum, mirrored by the oracle.
    */
  def labelCohesion(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(25, 18)
    // dim must equal the actual vector length: wider vectors would
    // otherwise be silently truncated to the first `dim` components
    // (narrower ones already fail ANSI element_at). The check lives inside
    // the always-read nrm column so column pruning cannot drop it.
    val e = embeddings.select(col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", when(size(col("v")) === dim, norm(col("v")))
        .otherwise(raise_error(lit(
          s"labelCohesion: embedding length != dim=$dim")).cast("double")))
    val dimSums = (0 until dim).map(i =>
      sum((element_at(col("v"), i + 1) / col("nrm")).cast(dec)).as(s"s$i"))
    val agg = e.groupBy("label")
      .agg(dimSums.head, (dimSums.tail :+ count(lit(1)).as("n")): _*)
    val ss = (0 until dim).map(i =>
      col(s"s$i").cast("double") * col(s"s$i").cast("double")).reduce(_ + _)
    agg.filter(col("n") >= 2)
      .select(col("label"),
        round((ss - col("n")) / (col("n") * (col("n") - 1)), 6).as("mean_sim"),
        expr("n * (n - 1) DIV 2").as("n_pairs")) // DIV: integer-exact past 2^53 pairs
      .orderBy("label")
  }

  /** The ANN recall dashboard (the exact-bound-report pattern): mean
    * recall@k of each approximate method — hyperplane LSH, IVF, PQ-ADC —
    * against the brute-force [[cosineTopK]] ground truth, checked against
    * its declared floor. Every method is seeded-deterministic, so the
    * booleans are stable and the DuckDB oracle pins (method, n_queries, k,
    * floor, TRUE) — a recall regression in ANY method turns its row red in
    * the correctness gate, which is exactly the monitor an ANN deployment
    * runs after each index rebuild. The per-method top-k outputs are
    * registered as their own queries, whose oracles replay each seeded
    * construction (their candidate sets are sketch-dependent by design,
    * so only this report pins recall). Measured recall@5 over 20 queries:
    * lsh 0.73/0.68, ivf 0.85/0.83, pq 0.59/0.56 at sf0.001/sf0.01 — the
    * default floors sit ≥0.1 under the lower measurement so a fixture
    * regeneration cannot flip a boolean without a REAL recall collapse.
    */
  def annRecallReport(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5,
                      floors: Map[String, Double] = Map(
                        "lsh" -> 0.55, "ivf" -> 0.7, "pq" -> 0.45)): DataFrame = {
    val exact = cosineTopK(embeddings, nQueries, k).select(col("qid"), col("cid"))
    def leg(name: String, method: DataFrame): DataFrame = {
      val hits = exact.join(method.select(col("qid"), col("cid")),
          Seq("qid", "cid"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("hits"))
      exact.select("qid").distinct()
        .join(hits, Seq("qid"), "left")
        .agg(count(lit(1)).as("nq"),
          (sum(coalesce(col("hits"), lit(0L))).cast("double") /
            (count(lit(1)) * k)).as("recall"))
        .select(lit(name).as("method"), col("nq").as("n_queries"),
          lit(k.toLong).as("k"), lit(floors(name)).as("recall_floor"),
          (col("recall") >= lit(floors(name))).as("recall_ok"))
    }
    leg("lsh", annTopK(embeddings, nQueries, k))
      .unionByName(leg("ivf", ivfTopK(embeddings, nQueries, k)))
      .unionByName(leg("pq", pqTopK(embeddings, nQueries, k)))
      .orderBy("method")
  }

  /** Generated oracle for [[annRecallReport]]. */
  def annRecallReportOracleSql(nQueries: Int = 20, k: Int = 5,
                               floors: Map[String, Double] = Map(
                                 "lsh" -> 0.55, "ivf" -> 0.7, "pq" -> 0.45)): String =
    floors.toSeq.sortBy(_._1).map { case (m, f) =>
      s"""SELECT '$m' AS method, CAST($nQueries AS BIGINT) AS n_queries,
         |CAST($k AS BIGINT) AS k, CAST($f AS DOUBLE) AS recall_floor,
         |TRUE AS recall_ok""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY method"

  /** The LSH fidelity dashboard — [[annRecallReport]]'s sibling for the
    * three LSH-bucketed families, pinning each family's STRUCTURAL
    * guarantee (which holds by construction, so a violation means a real
    * bug) next to its recall floor (declared under the measured fixture
    * recalls, which are fixed numbers — every hash is seeded):
    *
    *  - `pair_graph`: [[cosinePairsLsh]] at the registered ≥0.9 regime
    *    over [[withSyntheticNearDups]] — every emitted pair is verified
    *    with exact cosine, so lsh ⊆ exact (no false positives); recall =
    *    |lsh| / |exact|.
    *  - `knn_top1`: [[knnGraphLsh]] vs [[knnGraph]] at k=1 — a candidate
    *    top-1 can never BEAT the exact top-1 (sim_lsh ≤ sim_exact per
    *    node); recall = fraction of nodes whose top-1 neighbor matches.
    *  - `semantic_keeplist`: the LSH-pair composition of
    *    [[semanticDedupKeepList]] — fewer pairs can only drop FEWER docs,
    *    so survivors ⊇ exact survivors; recall = dropped-set agreement.
    *
    * All columns are literals or booleans, so the DuckDB oracle pins all
    * six checks — the LSH queries' oracles replay their hyperplanes, so
    * their recall guarantees are driver-visible through this row. Measured at
    * sf0.001/sf0.01: pair_graph 0.994/1.000 (0 false positives),
    * knn_top1 0.686/0.704, keeplist dropped-agreement 0.994/1.000
    * (0 violations) — floors sit well under the lower measurement.
    *
    * Like [[annRecallReport]]'s fixed query set, this is a bounded
    * fidelity PROBE, not a corpus-wide computation: `maxVectors` caps the
    * audited subset (deterministically, by id), because the exact
    * reference side is quadratic — at production scale you certify
    * fidelity on a bounded sample and let the LSH path run the corpus.
    * The sf0.01 gate fixture (500 vectors) sits under the default cap, so
    * the oracle's measurements are over the full fixture.
    */
  def lshFidelityReport(embeddings: DataFrame,
                        floors: Map[String, Double] = Map(
                          "pair_graph" -> 0.85, "knn_top1" -> 0.5,
                          "semantic_keeplist" -> 0.85),
                        maxVectors: Long = 1000L): DataFrame = {
    val bounded = embeddings.filter(col("vec_id") < maxVectors)
    val aug = withSyntheticNearDups(bounded)
    // each pair frame feeds the pair leg AND a keep-list clustering, whose
    // connected components run eagerly at construction — the frame owns one
    // materialized copy instead of running the quadratic probe twice
    val exactPairs = Checkpoints(cosineDupPairs(aug, 0.9, sorted = false))
    val lshPairs = Checkpoints(cosinePairsLsh(aug, 0.9, nTables = 8, bitsPerTable = 8,
      sorted = false))
    // pair_graph (marker columns — a USING full-outer collapses the key
    // columns, so side-membership must ride its own flag)
    val exactP = exactPairs.select(col("id_a"), col("id_b"), lit(1).as("me"))
    val lshP = lshPairs.select(col("id_a"), col("id_b"), lit(1).as("ml"))
    val pairLeg = lshP.join(exactP, Seq("id_a", "id_b"), "full_outer")
      .select(col("me").isNotNull.as("in_e"), col("ml").isNotNull.as("in_l"))
    // knn_top1
    val e1 = knnGraph(bounded, 1)
      .select(col("vec_id"), col("neighbor_id").as("en"), col("sim").as("es"))
    val l1 = knnGraphLsh(bounded, 1)
      .select(col("vec_id"), col("neighbor_id").as("ln"), col("sim").as("ls"))
    val knnLeg = e1.join(l1, Seq("vec_id"), "left")
    // semantic_keeplist — clustered from the same pair frames
    val exactK = semanticDedupKeepList(aug, exactPairs)
      .select(col("vec_id"), lit(1).as("ke"))
    val lshK = semanticDedupKeepList(aug, lshPairs)
      .select(col("vec_id"), lit(1).as("kl"))
    val keepLeg = aug.select("vec_id")
      .join(exactK, Seq("vec_id"), "left").join(lshK, Seq("vec_id"), "left")

    def report(family: String, guarantee: String, agg: DataFrame): DataFrame =
      agg.select(lit(family).as("family"), lit(guarantee).as("guarantee"),
        col("g_ok").as("guarantee_ok"),
        lit(floors(family)).as("recall_floor"),
        (col("recall") >= lit(floors(family))).as("recall_ok"))
    val pairR = report("pair_graph", "subset_of_exact",
      pairLeg.agg(
        (sum(when(col("in_l") && !col("in_e"), 1L).otherwise(0L)) === 0).as("g_ok"),
        coalesce(sum(when(col("in_l") && col("in_e"), 1L).otherwise(0L)).cast("double") /
          sum(when(col("in_e"), 1L).otherwise(0L)), lit(1.0)).as("recall")))
    val knnR = report("knn_top1", "never_beats_exact",
      knnLeg.agg(
        (sum(when(col("ls") > col("es"), 1L).otherwise(0L)) === 0).as("g_ok"),
        (sum(when(col("ln") === col("en"), 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("recall")))
    val keepR = report("semantic_keeplist", "superset_of_exact",
      keepLeg.agg(
        (sum(when(col("ke").isNotNull && col("kl").isNull, 1L).otherwise(0L)) === 0).as("g_ok"),
        coalesce(sum(when(col("ke").isNull && col("kl").isNull, 1L).otherwise(0L)).cast("double") /
          sum(when(col("ke").isNull, 1L).otherwise(0L)), lit(1.0)).as("recall")))
    knnR.unionByName(pairR).unionByName(keepR).orderBy("family")
  }

  /** Generated oracle for [[lshFidelityReport]]. */
  def lshFidelityReportOracleSql(floors: Map[String, Double] = Map(
      "pair_graph" -> 0.85, "knn_top1" -> 0.5,
      "semantic_keeplist" -> 0.85)): String = {
    val g = Map("pair_graph" -> "subset_of_exact", "knn_top1" -> "never_beats_exact",
      "semantic_keeplist" -> "superset_of_exact")
    floors.toSeq.sortBy(_._1).map { case (fam, f) =>
      s"""SELECT '$fam' AS family, '${g(fam)}' AS guarantee, TRUE AS guarantee_ok,
         |CAST($f AS DOUBLE) AS recall_floor, TRUE AS recall_ok""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY family"
  }

  /** Per-label centroid-distance outlier profile — the embedding-space
    * data-quality dashboard: for each label, the distance distribution to
    * the label centroid (mean/std) and the single farthest member with
    * its z-score and an outlier flag (mislabeled or corrupted vectors
    * surface here first). One row per label, so the report is always
    * non-empty and cheap to eyeball.
    *
    * Exactness: per-dimension centroid sums are DECIMAL(30,12) (one hash
    * aggregate, the quantizeInt8 bounds pattern — labels are a bounded
    * codebook, enforced ≤ `maxLabels`, so the collect is the documented
    * bounded-driver materialization); per-dim means round to 9 so both
    * engines hold the identical centroid. Distances come from
    * dist² = v·v − 2·v·m + m·m with every dot the codegen [[dot]]
    * (left-to-right — the oracle's `list_sum(list_transform(...))`
    * association), distances re-quantize to round-9 decimals for
    * order-free Σd / Σd².
    *
    * Scale shape: two narrow passes (the bounds aggregate; the scoring
    * scan with the centroid table broadcast) + one per-label window over
    * the scored rows.
    */
  def embedOutlierProfile(embeddings: DataFrame, zThresh: Double = 2.0,
                          dim: Int = 64, maxLabels: Int = 10000): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val spark = embeddings.sparkSession
    import spark.implicits._
    val dec = DecimalType(30, 12)
    val e = embeddings.select(col("label").cast("int").as("label"),
      col("vec_id"), asDouble(col("embedding")).as("v"))
    val sumAggs =
      count(lit(1)).as("_n") +:
        (1 to dim).map(i => sum(element_at(col("v"), i).cast(dec)).as(s"_s$i"))
    val sumRows = e.groupBy("label").agg(sumAggs.head, sumAggs.tail: _*).collect()
    require(sumRows.length <= maxLabels,
      s"${sumRows.length} labels exceed the bounded-codebook cap $maxLabels")
    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cents = sumRows.toSeq.map { r =>
      val n = r.getLong(1).toDouble
      val m = Array.tabulate(dim)(i =>
        r9(r.getDecimal(2 + i).doubleValue() / n))
      // m·m left-to-right — the same association list_sum replays
      var mm = 0.0
      var i = 0
      while (i < dim) { mm += m(i) * m(i); i += 1 }
      (r.getInt(0), m.toSeq, mm)
    }
    val centDf = cents.toDF("label", "_cent", "_mm")
    val d2 = dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("_cent")) + col("_mm")
    val scored = e.join(broadcast(centDf), "label")
      .select(col("label"), col("vec_id"),
        round(sqrt(greatest(d2, lit(0.0))), 9).as("_d"))
    val wFar = Window.partitionBy("label").orderBy(col("_d").desc, col("vec_id"))
    val far = scored.withColumn("_rn", row_number().over(wFar))
      .filter(col("_rn") === 1)
      .select(col("label"), col("vec_id").as("far_vec_id"), col("_d").as("_far"))
    val stats = scored.groupBy("label").agg(
      count(lit(1)).as("n_vectors"),
      sum(col("_d").cast(DecimalType(18, 9))).as("_sd"),
      sum(col("_d").cast(DecimalType(18, 9)) * col("_d").cast(DecimalType(18, 9)))
        .as("_sd2"))
    val n = col("n_vectors").cast("double")
    val mean = col("_sd").cast("double") / n
    val variance = col("_sd2").cast("double") / n - mean * mean
    val std = sqrt(greatest(variance, lit(0.0)))
    stats.join(far, "label")
      .select(col("label"), col("n_vectors"),
        round(mean, 6).as("mean_dist"),
        round(std, 6).as("std_dist"),
        col("far_vec_id"),
        round(col("_far"), 6).as("far_dist"),
        round(when(std > 0, (col("_far") - mean) / std).otherwise(lit(0.0)), 4)
          .as("far_z"),
        // flagged on the ROUNDED z (the reported value — the psiDrift
        // drift-flag convention), so a last-ulp wobble in the double
        // divide cannot flip the boolean across engines
        (round(when(std > 0, (col("_far") - mean) / std).otherwise(lit(0.0)), 4)
          > zThresh).as("is_outlier"))
      .orderBy("label")
  }

  /** Generated DuckDB oracle for [[embedOutlierProfile]]: per-dim decimal
    * centroid replay, the same dist² dots, round-9 distance sums. */
  def embedOutlierProfileOracleSql(zThresh: Double = 2.0, dim: Int = 64): String =
    s"""WITH e AS (SELECT CAST(label AS INTEGER) AS label, vec_id,
       |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |ex AS (SELECT label, vec_id, generate_subscripts(v, 1) AS pos, unnest(v) AS x
       |       FROM e),
       |cs AS (SELECT label, pos,
       |              CAST(SUM(CAST(x AS DECIMAL(30,12))) AS DOUBLE) AS s,
       |              COUNT(*) AS n
       |       FROM ex GROUP BY label, pos),
       |cm AS (SELECT label, pos, round(s / n, 9) AS m FROM cs),
       |cl AS (SELECT label, list(m ORDER BY pos) AS cent FROM cm GROUP BY label),
       |cmm AS (SELECT label, cent,
       |               list_sum(list_transform(generate_series(1, $dim), i -> cent[i] * cent[i])) AS mm
       |        FROM cl),
       |sc AS (SELECT e.label, e.vec_id,
       |              round(sqrt(greatest(
       |                list_sum(list_transform(generate_series(1, $dim), i -> v[i] * v[i]))
       |                - 2.0 * list_sum(list_transform(generate_series(1, $dim), i -> v[i] * cent[i]))
       |                + mm, 0.0)), 9) AS d
       |       FROM e JOIN cmm ON e.label = cmm.label),
       |far AS (SELECT label, vec_id AS far_vec_id, d AS fard
       |        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY label
       |                        ORDER BY d DESC, vec_id) AS rn FROM sc)
       |        WHERE rn = 1),
       |st AS (SELECT label, COUNT(*) AS n_vectors,
       |              CAST(SUM(CAST(d AS DECIMAL(18,9))) AS DOUBLE) AS sd,
       |              CAST(SUM(CAST(d AS DECIMAL(18,9)) * CAST(d AS DECIMAL(18,9)))
       |                   AS DOUBLE) AS sd2
       |       FROM sc GROUP BY label),
       |fin AS (SELECT st.label, n_vectors,
       |               sd / n_vectors AS mean,
       |               sqrt(greatest(sd2 / n_vectors - (sd / n_vectors) * (sd / n_vectors), 0.0)) AS std,
       |               far_vec_id, fard
       |        FROM st JOIN far ON st.label = far.label)
       |SELECT label, n_vectors, round(mean, 6) AS mean_dist, round(std, 6) AS std_dist,
       |       far_vec_id, round(fard, 6) AS far_dist,
       |       round(CASE WHEN std > 0 THEN (fard - mean) / std ELSE 0.0 END, 4) AS far_z,
       |       (round(CASE WHEN std > 0 THEN (fard - mean) / std ELSE 0.0 END, 4) > $zThresh)
       |         AS is_outlier
       |FROM fin ORDER BY label""".stripMargin

  /** Sign-bit binary quantization code: bit i set iff v[i] > 0 — one
    * 64-bit word per vector (512 B float32 → 8 B, a 64× scan-cost cut).
    * Built as a codegen'd OR-reduction over `element_at`; no UDF.
    * `dim` must equal the vector length: positions past the actual
    * length read null → bit 0 (ANSI-off element_at), silently densifying
    * Hamming distances rather than erroring — callers pass the corpus
    * dim explicitly (the [[quantizeInt8]] contract).
    */
  def binaryCode(v: Column, dim: Int = 64): Column = {
    require(dim <= 64, s"binaryCode packs into one 64-bit word, got dim=$dim")
    (0 until dim).map { i =>
      when(element_at(v, i + 1) > 0.0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Binary-quantized similarity search: Hamming-distance candidate
    * generation over 1-bit sign codes, exact-cosine rerank — the
    * two-stage architecture a 100 TB vector store runs (RaBitQ/BQ-style:
    * scan the 8-byte codes, `bit_count(xor)` per pair in whole-stage
    * codegen, touch the full float vectors only for the top-`nCand`
    * shortlist). The Hamming pass here scans all codes per query (its
    * win is the 64× smaller operand + 1-op distance, not sublinearity);
    * for sublinear candidate generation compose with [[ivfTopK]]'s cells
    * or [[annTopK]]'s buckets — the shortlist/rerank shape is identical.
    *
    * Candidate shortlist is deterministic: top-`nCand` by (hamming, cid)
    * per query; final top-`k` by (cosine desc, cid). The DuckDB oracle
    * replays the sign bits per dimension (strict `> 0`, identical on the
    * float→double cast) and the same two-stage ordering.
    *
    * The pair stream carries ONLY (qid, cid, 8-byte codes) — the full
    * float vectors never enter the quadratic stage (an array-carrying
    * pair stream measured ~2× slower: 100k pair rows × 1 KB of copied
    * arrays vs 24 B). The rerank re-reads the corpus once with the
    * bounded (nQueries·nCand)-row shortlist BROADCAST onto the scan —
    * map-side, no shuffle of vectors anywhere.
    */
  def hammingTopK(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5,
                  nCand: Int = 50, dim: Int = 64): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val codes = e.select(col("vec_id"), binaryCode(col("v"), dim).as("code"))
    val qcodes = codes.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("code").as("qcode"))
    val ham = codes.join(broadcast(qcodes), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        bit_count(col("code").bitwiseXOR(col("qcode"))).cast("long").as("hamming"))
    val wc = Window.partitionBy("qid").orderBy(col("hamming"), col("cid"))
    val cand = ham.withColumn("_crn", row_number().over(wc))
      .filter(col("_crn") <= nCand)
      .select("qid", "cid", "hamming")
    val qv = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), norm(col("v")).as("qn"))
    val candq = cand.join(broadcast(qv), Seq("qid"))
    val sim = e.join(broadcast(candq), col("vec_id") === col("cid"))
      .select(col("qid"), col("cid"), col("hamming"),
        (dot(col("qv"), col("v")) / (col("qn") * norm(col("v")))).as("sim"))
    val wk = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    sim.withColumn("rn", row_number().over(wk).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("hamming"),
        round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("qid", "rn")
  }

  /** Generated DuckDB oracle for [[hammingTopK]]: per-dimension sign
    * disagreement count (≡ `bit_count(xor)` of the packed codes), the
    * same (hamming, cid) shortlist and (sim desc, cid) rerank. */
  def hammingTopKOracleSql(nQueries: Int = 20, k: Int = 5, nCand: Int = 50,
                           dim: Int = 64): String =
    s"""WITH e AS ($rawVectorsSql),
       |n AS (SELECT vec_id, v,
       |             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
       |             list_transform(v, x -> CASE WHEN x > 0 THEN 1 ELSE 0 END) AS bits
       |      FROM e),
       |p AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
       |             list_sum(list_transform(generate_series(1, $dim),
       |               i -> CASE WHEN q.bits[i] <> c.bits[i] THEN 1 ELSE 0 END)) AS ham,
       |             q.v AS qv, q.nrm AS qn, c.v AS cv, c.nrm AS cn
       |      FROM n q JOIN n c ON c.vec_id <> q.vec_id
       |      WHERE q.vec_id < $nQueries),
       |cand AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ham, cid) AS crn
       |         FROM p),
       |r AS (SELECT qid, cid, ham,
       |             list_sum(list_transform(generate_series(1, least(len(qv), len(cv))),
       |               i -> qv[i] * cv[i])) / (qn * cn) AS sim
       |      FROM cand WHERE crn <= $nCand),
       |rk AS (SELECT qid, cid, ham, sim,
       |              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
       |       FROM r)
       |SELECT qid, cid, CAST(ham AS BIGINT) AS hamming, round(sim, 6) AS sim,
       |       CAST(rn AS BIGINT) AS rn
       |FROM rk WHERE rn <= $k ORDER BY qid, rn""".stripMargin
}
