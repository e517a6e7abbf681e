package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication surface (SURVEY.md §2 group H): exact, hash-keyed exact,
  * exact n-gram Jaccard (inverted-index join), MinHash+LSH banding, SimHash.
  *
  * Scale design: exact dedup groups on a 256-bit digest (32 bytes shuffled
  * per row, never the document body). Near-dup candidate generation never
  * goes pairwise-quadratic: the exact-Jaccard path joins on shared shingles
  * (inverted index — candidates only where intersection > 0) and the LSH
  * path joins on band buckets (candidates only where a band collides). Both
  * shuffle keys + ids, not documents.
  */
object Dedup {

  private val wordRe = "[a-z0-9]+"

  /** (doc_id, sh: array<long>) — distinct lower-cased word-n-gram shingles
    * per doc, as 64-bit hashes.
    *
    * Two deliberate shapes here:
    *  - A typed row-local pass, not a `transform` higher-order function:
    *    interpreted HOF lambdas pay per-element interpreter overhead and a
    *    long codegen warmup — the imperative loop measured ~1.7× faster
    *    warm and ~4× faster on first execution (the regime every
    *    one-shot pipeline query runs in). Hash values stay bit-identical:
    *    catalyst's XXH64 with the SQL `xxhash64` default seed (42).
    *  - Shingles are hashed to longs up front: long join keys and primitive
    *    array intersection downstream. Jaccard-preserving while xxhash64 is
    *    collision-free on the vocabulary (≈|vocab|²/2⁶⁵ expected
    *    collisions — irrelevant even at 100 TB vocabularies).
    */
  private[graft] def shingleArrays(documents: DataFrame, n: Int = 3): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val tokenRe = wordRe.r
    documents.select(col("doc_id"), lower(col("text")).as("t")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          if (text == null) (id, Array.empty[Long])
          else {
            val toks = tokenRe.findAllIn(text).toArray
            val m = toks.length - n + 1
            val seen = new java.util.LinkedHashSet[java.lang.Long]()
            var i = 0
            while (i < m) {
              val sb = new java.lang.StringBuilder(toks(i))
              var j = 1
              while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
              val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              seen.add(org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
                bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L))
              i += 1
            }
            val out = new Array[Long](seen.size)
            val itr = seen.iterator(); var k = 0
            while (itr.hasNext) { out(k) = itr.next(); k += 1 }
            // sorted ascending: set semantics make order free, and the
            // sorted form is the SortedIntersectSize precondition — the
            // verify stage's merge scan replaces a per-pair hash build
            java.util.Arrays.sort(out)
            (id, out)
          }
        }
      }.toDF("doc_id", "sh")
  }

  /** Exploded form: one (doc_id, shingle-hash) row per distinct shingle. */
  private[graft] def shingles(arrs: DataFrame): DataFrame =
    arrs.select(col("doc_id"), explode(col("sh")).as("shingle"))

  /** [[shingleArrays]] over the md5-derived 48-bit PORTABLE hash family
    * ([[Text.gramHash48]]) instead of xxhash64 — same row-local
    * LinkedHashSet pass, but every hash is reproducible in ANSI SQL, so
    * operators built on it (MinHash signatures) carry real value oracles.
    * Jaccard over the hashed sets is unchanged while the family is
    * collision-free on the vocabulary (48 uniform bits: ~v²/2⁴⁹ expected
    * collisions — negligible even at 100 TB vocabularies, and both engines
    * hash identically so the comparison never drifts).
    */
  private[graft] def shingleArrays48(documents: DataFrame, n: Int = 3): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val tokenRe = wordRe.r
    documents.select(col("doc_id"), lower(col("text")).as("t")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          if (text == null) (id, Array.empty[Long])
          else {
            val toks = tokenRe.findAllIn(text).toArray
            val m = toks.length - n + 1
            val seen = new java.util.LinkedHashSet[java.lang.Long]()
            var i = 0
            while (i < m) {
              val sb = new java.lang.StringBuilder(toks(i))
              var j = 1
              while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
              seen.add(Text.gramHash48Local(md, sb.toString))
              i += 1
            }
            val out = new Array[Long](seen.size)
            val itr = seen.iterator(); var k = 0
            while (itr.hasNext) { out(k) = itr.next(); k += 1 }
            // sorted ascending: set semantics make order free, and the
            // sorted form is the SortedIntersectSize precondition — the
            // verify stage's merge scan replaces a per-pair hash build
            java.util.Arrays.sort(out)
            (id, out)
          }
        }
      }.toDF("doc_id", "sh")
  }

  /** Exact dedup, oracle-comparable form: one keeper (min doc_id) per
    * distinct text + the duplicate count. `dropDuplicates` keeps an
    * arbitrary row, which is nondeterministic under parallelism; a dedup
    * pipeline that must be reproducible keys on min-id per group instead.
    */
  def exactDedup(documents: DataFrame): DataFrame =
    documents.groupBy("text")
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
      .select("keeper_id", "n_copies")
      .orderBy("keeper_id")

  /** Exact dedup at scale: group on sha2-256 of the text, so the shuffle
    * carries 32-byte digests instead of document bodies. Collision risk
    * 2^-128 — the standard trade at 100 TB.
    */
  def hashDedup(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), sha2(col("text"), 256).as("digest"))
      .groupBy("digest")
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
      .select("keeper_id", "n_copies")
      .orderBy("keeper_id")

  /** Incremental (batch-over-corpus) exact dedup — the daily-crawl shape:
    * a new batch arrives against a corpus that is already deduplicated,
    * and only the batch may be touched. Two stages, both digest-keyed so
    * no document body ever shuffles:
    *
    * 1. intra-batch: min-id keeper per digest within `incoming` (the same
    *    deterministic rule as [[hashDedup]]);
    * 2. cross-corpus: anti-join the keepers against the existing corpus'
    *    digest set.
    *
    * At 100 TB the existing-digest side is the WHOLE corpus — but it is a
    * 32-byte-per-doc column that a production deployment stores bucketed
    * by digest, so this anti-join co-locates without a corpus-side
    * shuffle and only the (small) daily batch moves. Output: the batch
    * survivors with their digests, ready to append.
    */
  def incrementalDedup(incoming: DataFrame, existing: DataFrame): DataFrame = {
    val incomingKeepers = incoming
      .select(col("doc_id"), sha2(col("text"), 256).as("digest"))
      .groupBy("digest").agg(min("doc_id").as("doc_id"))
    val existingDigests = existing
      .select(sha2(col("text"), 256).as("digest"))
    incomingKeepers
      .join(existingDigests, Seq("digest"), "left_anti")
      .select(col("doc_id"), col("digest"))
      .orderBy("doc_id")
  }

  /** Exact n-gram Jaccard near-dup pairs via PREFIX FILTERING (PPJoin
    * family): order every document's shingles by global document frequency
    * (rarest first), index only each document's prefix of length
    * |d| - ceil(t·|d|) + 1, and generate candidates from prefix∩prefix
    * collisions. Any pair with J ≥ t must share its globally-smallest
    * common shingle inside BOTH prefixes (pigeonhole on |A∩B| ≥ t·|A|), so
    * this loses nothing — it is exact, not approximate.
    *
    * Why not a naive inverted-index self-join: shingle frequency is zipfian;
    * a stop-shingle appearing in d documents contributes d² join rows. The
    * df-ascending prefix keeps exactly the rare shingles in the index, so
    * the candidate set stays near-linear at corpus scale. Verification then
    * computes exact Jaccard per candidate from the full shingle sets.
    */
  /** `sorted=false` skips the final global orderBy — internal consumers
    * (clustering, fuzzy verify) re-shuffle or re-sort anyway, and a global
    * sort costs a range exchange PLUS the range-partitioner's extra
    * boundary-sampling pass over the whole candidate pipeline.
    */
  def jaccardPairs(documents: DataFrame, threshold: Double = 0.5,
                   orderByDocFreq: Boolean = true,
                   sorted: Boolean = true): DataFrame = {
    // one shingling pass, materialized: prefix generation and verify both read it
    val arrs = Checkpoints(shingleArrays(documents))
    // Prefix filtering is EXACT under any global total order of shingles.
    // Default df-ascending (rarest-first): keeps common shingles out of
    // prefixes so the candidate join stays near-linear — measured ~30%
    // fewer candidates even on the near-uniform fixture corpus, and the
    // difference grows with zipfian skew at 100 TB. The alternative hash
    // order builds the prefix as a row-local slice of the sorted hash
    // array (zero index-build shuffles) — useful when the df aggregate
    // itself is the bottleneck.
    val prefix =
      if (!orderByDocFreq) {
        // sh is sorted ascending at build time (shingleArrays invariant),
        // so the hash-order prefix is a plain slice — no per-row sort
        arrs.select(col("doc_id"), size(col("sh")).as("n_sh"),
            explode(slice(col("sh"), lit(1),
              greatest(lit(0), (size(col("sh")) -
                ceil(lit(threshold) * size(col("sh"))) + 1).cast("int"))))
              .as("shingle"))
          .select("doc_id", "shingle", "n_sh")
      } else {
        // df-ranking via ONE aggregation: join each shingle to its document
        // frequency, regroup per doc, then rank ROW-LOCALLY with
        // sort_array over (df, shingle) structs and slice the prefix. Same
        // total order as a row_number window over (df, shingle), but one
        // shuffle fewer (no separate sizes aggregate — the group size IS
        // the ranked array's length) and no per-group sort machinery:
        // measured ~1.6× faster, 2× on first execution.
        //
        // Measured negative alternative (round 8, 10× corpus): replacing
        // the join+regroup with a driver-capped broadcast of the top-64Ki
        // (shingle → df) entries and a row-local rank — still exact (prefix
        // filtering holds under any consistent total order) — BLEW UP
        // candidates 2 444 → 2.93 M: this corpus has ≫64 Ki shingles with
        // df ≥ 2, and everything below the cap ties at rank 0, degrading
        // prefix quality to near hash-order while still paying rank cost
        // (14.6 s vs 8.3 s full-path). The exact global df order IS the
        // value; its price is a linear shuffle, the correct trade here.
        val sh = shingles(arrs)
        val docFreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        sh.join(docFreq, "shingle")
          .groupBy("doc_id")
          .agg(sort_array(collect_list(struct(col("df"), col("shingle")))).as("ranked"))
          .select(col("doc_id"), size(col("ranked")).as("n_sh"),
            explode(slice(col("ranked"), lit(1),
              greatest(lit(0), (size(col("ranked")) -
                ceil(lit(threshold) * size(col("ranked"))) + 1).cast("int")))).as("r"))
          .select(col("doc_id"), col("r.shingle").as("shingle"), col("n_sh"))
      }
    // The candidate SELF-join duplicates its input subtree, so without a
    // materialization barrier the whole df-rank pipeline (df join + regroup
    // + rank) executes twice — once per side. Materializing the exploded
    // prefix (3 narrow columns, ~prefix-volume rows) feeds BOTH sides from
    // one computation: measured on the 10× corpus as 8.3 s → 6.5 s
    // single-rep and 8.3 s → 5.6 s best-of-reps (the PERF.md figure). The
    // hash-order prefix is a row-local slice of arrs — materializing that
    // would only duplicate arrs' blocks.
    val prefixShared = if (orderByDocFreq) Checkpoints(prefix) else prefix
    // length filter (PPJoin): J >= t forces t·|A| <= |B| <= |A|/t
    val cand = prefixShared.as("a")
      .join(prefixShared.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n_sh") >= lit(threshold) * col("a.n_sh") &&
          col("a.n_sh") >= lit(threshold) * col("b.n_sh"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val verified = cand
      .join(arrs.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(arrs.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      // |A∪B| = |A|+|B|-|A∩B|; sorted arrays → allocation-free codegen
      // merge scan (SortedIntersectSize) instead of a per-pair hash build
      .withColumn("_inter", graft.functions.VectorExpressions.sorted_intersect_size(col("sh_a"), col("sh_b")))
      .select(col("id_a"), col("id_b"),
        round(col("_inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("_inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    if (sorted) verified.orderBy("id_a", "id_b") else verified
  }

  /** MinHash LSH parameters shared by the operator and its generated
    * oracle: signatures are affine maps m_i(h) = (a_i·(h mod p) + b_i)
    * mod p over the prime field p = 2³¹−1, applied to the md5-derived
    * 48-bit shingle hash. Note this is an APPROXIMATE (non-bijective)
    * MinHash family, not a true permutation of the shingle universe: the
    * initial `h mod p` collapses the 48-bit hash space ~2¹⁷-to-1, so
    * collision probability is slightly inflated vs exact Jaccard. That
    * affects candidate recall only — exact verification downstream (and
    * the matching oracle) keeps the output correct. Products stay < 2⁶² —
    * exact in 64-bit integer arithmetic on BOTH engines, which is what
    * makes the signature (and therefore the whole operator)
    * value-oracle-able in DuckDB. The (a, b) coefficients come from one
    * seeded generator, inlined as literals into both the Spark plan and
    * the generated SQL.
    */
  private[graft] val MinhashP = 2147483647L // 2^31 - 1
  private[graft] def minhashCoeffs(k: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(k)((1L + rnd.nextInt((MinhashP - 1).toInt).toLong,
      rnd.nextInt(MinhashP.toInt).toLong))
  }

  /** MinHash signature + LSH banding near-dup detection (approximate
    * candidate generation, exact verification).
    *
    * Signature = k per-doc minima of the affine permutation family above
    * (one hash-aggregate). Banding: k = bands × rows; docs sharing any band
    * bucket are candidates (band-bucket equi-join — bucket = md5 of the
    * band's row values, an engine-portable scalar key), then candidates are
    * verified with exact Jaccard over the full hashed shingle sets, so the
    * output has no false positives. False-negative probability for J=0.8
    * with 16×4 banding: (1 - (1-0.8⁴))^16 ≈ 2e-4. Every stage is
    * reproducible in ANSI SQL (md5-derived base hash, prime-field affine
    * permutations, md5 band buckets), so unlike the usual sketch policy
    * this query carries a REAL value oracle — [[minhashOracleSql]] is
    * generated beside the operator.
    */
  def minhashPairs(documents: DataFrame, threshold: Double = 0.5,
                   bands: Int = 16, rows: Int = 4,
                   sorted: Boolean = true): DataFrame = {
    val k = bands * rows
    val coeffs = minhashCoeffs(k)
    val arrs = Checkpoints(shingleArrays48(documents))
    val sh = shingles(arrs)
    // materialize the band-bucket frame: the candidate SELF-join would
    // otherwise run the k-min signature aggregate (k mins over the full
    // shingle volume) once per side — the jaccard prefix rationale above
    val buckets = Checkpoints(minhashBuckets(sh, coeffs, bands, rows))
    val cand = buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    // exact verification on candidates ONLY (never the full pair space):
    // join each candidate pair back to its two shingle sets and compute
    // exact Jaccard — LSH is a pre-filter, not the answer (SURVEY.md §7.4)
    val verified = cand
      .join(arrs.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(arrs.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      // |A∪B| = |A|+|B|-|A∩B|; sorted arrays → allocation-free codegen
      // merge scan (SortedIntersectSize) instead of a per-pair hash build
      .withColumn("_inter", graft.functions.VectorExpressions.sorted_intersect_size(col("sh_a"), col("sh_b")))
      .select(col("id_a"), col("id_b"),
        round(col("_inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("_inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    if (sorted) verified.orderBy("id_a", "id_b") else verified
  }

  /** Deterministic corpus scaler for the dedup/LSH scaling experiments:
    * `copies` salted replicas of the corpus under disjoint id ranges. Every
    * token of copy c > 0 gets an injective per-copy prefix, so each
    * replica's INTERNAL shingle-set relationships (Jaccard structure, dup
    * pairs) are exactly the base corpus's while shingle VALUES are disjoint
    * across replicas — true-duplicate mass grows linearly with n by
    * construction, which is the regime where a candidate generator's own
    * growth exponent is measurable (replicating verbatim would instead
    * grow TRUE pairs quadratically and blame the data). Copy 0 is the
    * unmodified base corpus.
    */
  private[graft] def saltedCopies(documents: DataFrame, copies: Int,
                                  idOffset: Long = 10000000L): DataFrame = {
    require(copies >= 1)
    (0 until copies).map { c =>
      if (c == 0) documents.select(col("doc_id"), col("text"))
      else documents.select((col("doc_id") + c * idOffset).as("doc_id"),
        regexp_replace(col("text"), "([A-Za-z0-9]+)", s"r${c}x$$1").as("text"))
    }.reduce(_ unionByName _)
  }

  /** The (doc_id, band, bucket) frame [[minhashPairs]] joins on — extracted
    * so the scaling probe/spec can measure candidate VOLUME (Σ per-bucket
    * C(size,2), exactly the rows the band equi-join materializes) without
    * running the join. `sh` = [[shingles]] of [[shingleArrays48]].
    */
  private[graft] def minhashBuckets(sh: DataFrame, coeffs: Seq[(Long, Long)],
                                    bands: Int, rows: Int): DataFrame = {
    val k = bands * rows
    val sigCols = (0 until k).map { i =>
      val (a, b) = coeffs(i)
      min(pmod(lit(a) * pmod(col("shingle"), lit(MinhashP)) + lit(b), lit(MinhashP))).as(s"m$i")
    }
    val sig = sh.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
    val bandCols = (0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        md5(concat_ws(",", (bnd * rows until (bnd + 1) * rows)
          .map(i => col(s"m$i").cast("string")): _*).cast("binary")).as("bucket"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** The matching DuckDB oracle for [[minhashPairs]] — generated beside the
    * operator (same pattern as [[Search.bm25OracleSql]]) so the hash family,
    * affine coefficients, banding, and verification arithmetic can never
    * drift from the Spark side. Band membership is expressed as raw
    * row-value equality per band, which is exactly what the Spark side's
    * md5 band-bucket equi-join computes (the bucket is injective on the
    * comma-separated row values).
    */
  def minhashOracleSql(threshold: Double = 0.5, bands: Int = 16, rows: Int = 4): String = {
    val k = bands * rows
    val coeffs = minhashCoeffs(k)
    val gram = "CAST('0x' || substring(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 12) AS BIGINT)"
    val mins = (0 until k).map { i =>
      val (a, b) = coeffs(i)
      s"MIN(($a * (h % $MinhashP) + $b) % $MinhashP) AS m$i"
    }.mkString(",\n                ")
    val bandCond = (0 until bands).map { bnd =>
      val eqs = (bnd * rows until (bnd + 1) * rows).map(i => s"a.m$i = b.m$i").mkString(" AND ")
      s"($eqs)"
    }.mkString("\n                OR ")
    s"""WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
       sets AS (SELECT doc_id, list_distinct(list_transform(
                  generate_series(1, greatest(len(t) - 2, 0)), i -> $gram)) AS hs FROM toks),
       sh AS (SELECT doc_id, unnest(hs) AS h FROM sets),
       sig AS (SELECT doc_id,
                $mins
              FROM sh GROUP BY doc_id),
       cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b
                ON a.doc_id < b.doc_id AND (
                $bandCond)),
       j AS (SELECT id_a, id_b,
               round(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) /
                     (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))), 6) AS jaccard
             FROM cand JOIN sets sa ON id_a = sa.doc_id JOIN sets sb ON id_b = sb.doc_id)
       SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= $threshold ORDER BY id_a, id_b"""
  }

  /** Fuzzy (edit-distance) verification on top of Jaccard candidates: pairs
    * that share enough shingles AND whose leading text is within a small
    * Levenshtein distance. The shingle stage is the scalable candidate
    * generator (edit distance is O(len²) — never run it on the full pair
    * space); the prefix cap bounds the per-pair cost.
    */
  def fuzzyPairs(documents: DataFrame, jaccardThreshold: Double = 0.5,
                 maxEdit: Int = 20, prefixLen: Int = 100): DataFrame = {
    val texts = documents.select(col("doc_id"),
      substring(lower(col("text")), 1, prefixLen).as("head"))
    jaccardPairs(documents, jaccardThreshold, sorted = false)
      .join(texts.select(col("doc_id").as("id_a"), col("head").as("head_a")), "id_a")
      .join(texts.select(col("doc_id").as("id_b"), col("head").as("head_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("jaccard"),
        levenshtein(col("head_a"), col("head_b")).cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= maxEdit)
      .orderBy("id_a", "id_b")
  }

  /** Duplicate CLUSTERS: connected components over the near-dup pair graph,
    * labeled by the component's minimum doc_id — the end-product a dedup
    * pipeline keys "keep one per cluster" on. The components come from
    * [[clusterPairs]] over the [[jaccardPairs]] graph, whose checkpoints
    * are released once [[clusterPairs]] has copied the pairs.
    */
  def dupClusters(documents: DataFrame, threshold: Double = 0.5,
                  sorted: Boolean = true): DataFrame = Checkpoints.owned {
    clusterPairs(jaccardPairs(documents, threshold, sorted = false), sorted)
  }

  /** Leakage-safe train/validation split: the md5-bucket assignment of
    * [[Text.trainValSplit]] keyed by the NEAR-DUP CLUSTER root instead of
    * the document id — every member of a near-duplicate cluster lands in
    * the same fold, so a validation document can never have a near-copy
    * in train (the split-time contamination that per-document hashing
    * cannot prevent and that inflates eval scores exactly like benchmark
    * contamination). Singletons (no near-dup) fall back to their own id,
    * so on a dup-free corpus this IS trainValSplit (spec-asserted).
    *
    * Scale shape: [[dupClusters]]' bucketed LSH pair generation + its
    * connected components, one left join back to the corpus, one
    * row-local hash — nothing beyond the dedup pass a curation pipeline
    * already runs.
    */
  def clusterSafeSplit(documents: DataFrame, threshold: Double = 0.5,
                       valHexDigits: String = "01234"): DataFrame = {
    val clusters = dupClusters(documents, threshold, sorted = false)
    documents.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_root", coalesce(col("cluster_id"), col("doc_id")))
      .select(col("doc_id"), col("cluster_root"),
        Text.splitExprOn(col("cluster_root"), valHexDigits).as("split"))
      .orderBy("doc_id")
  }

  /** Connected components over an ARBITRARY near-dup pair graph
    * (`id_a`/`id_b` long columns) — the clustering engine behind
    * [[dupClusters]], shared by any candidate generator (n-gram Jaccard,
    * embedding cosine, SimHash) so every dedup family gets the same
    * cluster semantics: component label = minimum member id.
    *
    * Up to [[SmallGraphEdgeCap]] edges the components come from a
    * driver-side union-find over the collected pairs (near-dup graphs are
    * tiny relative to the corpus: edges grow with duplicates, not rows).
    * The cap bounds driver memory. Past it the pair graph goes to
    * [[Graph.connectedComponents]], whose pointer-jumped min propagation
    * needs O(log diameter) rounds. Both label a component by its minimum
    * id; a self-pair (id_a = id_b) carries no edge past the cap.
    */
  def clusterPairs(pairGraph: DataFrame,
                   sorted: Boolean = true): DataFrame = Checkpoints.owned {
    // the pairs checkpoint is superseded by either path's copy: the
    // collected edges or connectedComponents' checkpointed labels
    val pairs = Checkpoints(pairGraph.select("id_a", "id_b"))
    if (pairs.count() <= SmallGraphEdgeCap) smallGraphClusters(pairs)
    else {
      val out = Graph.connectedComponents(
          pairs.select(col("id_a").as("src"), col("id_b").as("dst")), sorted = false)
        .select(col("node").as("doc_id"), col("comp").as("cluster_id"))
      if (sorted) out.orderBy("doc_id") else out
    }
  }

  /** Edge count up to which [[clusterPairs]] collects the pair graph to
    * the driver. */
  private val SmallGraphEdgeCap = 100000L

  /** Driver-side union-find over a capped edge list — exact, deterministic
    * (cluster id = component minimum, independent of edge order), and free
    * of per-round shuffle barriers. Only reachable under
    * [[SmallGraphEdgeCap]] from [[clusterPairs]].
    */
  private def smallGraphClusters(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var cur = x // path compression
      while (parent.getOrElse(cur, cur) != cur) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
      root
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    // roots are per-union minima, so find(node) IS the component minimum
    nodes.map(n => (n, find(n))).sortBy(_._1)
      .toSeq.toDF("doc_id", "cluster_id")
  }

  /** The end product of the dedup pipeline: the keep-list. Every document
    * survives except non-keeper members of a near-dup cluster (keeper =
    * cluster minimum id, from [[dupClusters]]).
    */
  /** Duplication rate per source — the dedup REPORT a curation dashboard
    * reads: per source, total documents, documents whose content digest
    * appears more than once CORPUS-WIDE (cross-source copies count for
    * both sources), and the rate. Digest-keyed (32 bytes on the shuffle),
    * one aggregate over digests + one joined rollup — never the bodies.
    */
  def dupRateBySource(documents: DataFrame): DataFrame = {
    val digests = documents.select(col("doc_id"), col("source"),
      sha2(col("text"), 256).as("digest"))
    val counts = digests.groupBy("digest").agg(count(lit(1)).as("n_copies"))
    digests.join(counts, "digest")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .withColumn("dup_rate",
        round(col("n_dup_docs").cast("double") / col("n_docs"), 6))
      .orderBy("source")
  }

  def dedupKeepList(documents: DataFrame, threshold: Double = 0.5): DataFrame =
    dedupKeepList(documents, dupClusters(documents, threshold, sorted = false))

  /** Dedup as a FILTER: the surviving documents with ALL their columns —
    * the form a composed pipeline consumes. One left-anti join against the
    * non-keeper list; no projection to ids, no join back, no output sort
    * (the caller orders its own final result).
    */
  def dedupSurvivors(documents: DataFrame,
                     threshold: Double = 0.5): DataFrame = Checkpoints.owned {
    // the pair graph's own checkpoints are superseded by clusterPairs' copy
    dedupSurvivors(documents, jaccardPairs(documents, threshold, sorted = false))
  }

  /** Survivors from an ARBITRARY near-dup pair graph (`id_a`/`id_b`) — the
    * pluggable form: pass [[minhashPairs]] output and the same anti-join
    * becomes the sub-quadratic 100 TB composition (every generator shares
    * [[clusterPairs]]'s cluster-min keeper semantics). Because LSH edges
    * are exactly verified (⊆ the exact pair graph), survivors from an LSH
    * graph are always a SUPERSET of the exact-graph survivors — asserted
    * in PipelinesSpec.
    */
  def dedupSurvivors(documents: DataFrame, pairGraph: DataFrame): DataFrame = {
    val drop = clusterPairs(pairGraph, sorted = false)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    documents.join(drop, Seq("doc_id"), "left_anti")
  }

  /** Keep-list from PRECOMPUTED clusters: a pipeline that materializes
    * [[dupClusters]] (to keep cluster labels) and also needs the keep-list
    * must not re-run shingling + pair generation + connected components a
    * second time — pass the clusters in and this is one anti-join.
    */
  def dedupKeepList(documents: DataFrame, clusters: DataFrame): DataFrame = {
    val drop = clusters
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    documents.join(drop, Seq("doc_id"), "left_anti")
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: remove training documents sharing ANY
    * word-n-gram with a benchmark/eval corpus — the standard guard against
    * test-set leakage into pre-training data. One inverted-index semi-join
    * on hashed shingles: the shuffle carries (doc_id, 64-bit hash) pairs,
    * the benchmark side collapses to its distinct shingle set first, and
    * no document pair is ever compared. At 100 TB the benchmark shingle
    * set is small enough to broadcast, making this a map-side filter.
    */
  /** (doc_id, shingle-hash) rows via a typed flatMap, not the HOF-array +
    * explode used by the materialized jaccard path: under explode WITHOUT a
    * materialization barrier, CollapseProject inlines the tokenization into the
    * generator lambda and the regex re-runs per array element (interpreted
    * HOFs have no CSE) — measured 22s instead of ~2s at sf0.1. The
    * row-local pass is collapse-proof, still one narrow stage, and hashes
    * with the same md5-derived 48-bit family as the fingerprint operators.
    */
  private def hashedShingles(df: DataFrame, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val tokenRe = "[a-z0-9]+".r
    // lowercase INSIDE the flatMap with Locale.ROOT, not default-locale
    // String.toLowerCase: under a Turkish default JVM locale 'I' would
    // lower to dotless 'ı' (non-token) instead of 'i' (token), making the
    // batch verdicts locale-dependent.
    df.select(col("doc_id"), col("text").as("t")).as[(Long, String)]
      .flatMap { case (id, raw) =>
        val text = if (raw == null) null else raw.toLowerCase(java.util.Locale.ROOT)
        val toks = if (text == null) Array.empty[String] else tokenRe.findAllIn(text).toArray
        if (toks.length < n) Iterator.empty
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          val seen = new java.util.HashSet[Long]()
          Iterator.range(0, toks.length - n + 1).flatMap { i =>
            val h = Text.gramHash48Local(md, toks.slice(i, i + n).mkString(" "))
            if (seen.add(h)) Iterator.single((id, h)) else Iterator.empty
          }
        }
      }.toDF("doc_id", "shingle")
  }

  /** Cross-document LINE dedup (the C4-style cleanup, finer-grained than
    * whole-document dedup): every distinct line longer than `minChars`
    * keeps exactly its FIRST occurrence in corpus order (min doc_id, then
    * line position) and every other copy is dropped; short lines always
    * survive (deduping "" or "Introduction" corpus-wide would shred
    * unrelated documents). Emits one row per input document with the
    * reconstructed text and kept/removed line counts — documents whose
    * every line was a later duplicate survive with empty text (the caller
    * decides whether to drop empties; removal is a row-count change this
    * operator refuses to make silently).
    *
    * Scale shape (round-10 de-skew): short lines are routed AROUND the
    * dedup entirely — they are kept unconditionally, so ranking them was
    * pure waste, and they are the most duplicated strings in any real
    * corpus (blank lines from \n\n paragraph breaks): under the previous
    * `row_number().over(partitionBy(line))` plan every copy of the
    * hottest key shuffled into ONE task. The long-line first-occurrence
    * pick is now a partial-aggregable `groupBy(line).agg(min(struct(
    * doc_id, line_no)))` — map-side combine collapses duplicate-heavy
    * keys to one row per task BEFORE the wire, so a million-copy line
    * costs the reduce task one row per upstream task instead of a
    * million. No join-back either: each group's minimal (doc_id,
    * line_no) IS the kept occurrence, so the aggregate's output is the
    * kept set directly. One combine-absorbed shuffle keyed by long-line
    * text, one shuffle keyed by doc_id to reassemble. Nothing pairwise,
    * nothing driver-side. Deterministic → full value oracle (first
    * occurrence via a window in SQL — the oracle keeps the declarative
    * form; only the Spark plan changed).
    */
  def dedupLines(documents: DataFrame, minChars: Int = 30,
                 sep: String = "\n"): DataFrame = {
    // sep is a LITERAL separator on both engines (DuckDB string_split is
    // non-regex) — quote it against Spark's regex split
    val sepRe = java.util.regex.Pattern.quote(sep)
    val lines = documents
      .select(col("doc_id"), posexplode(split(coalesce(col("text"), lit("")), sepRe))
        .as(Seq("line_no", "line")))
    val isShort = length(col("line")) < minChars
    val longFirsts = lines.filter(!isShort)
      .groupBy("line")
      .agg(min(struct(col("doc_id"), col("line_no"))).as("_first"))
      .select(col("_first.doc_id").as("doc_id"),
        col("_first.line_no").as("line_no"), col("line"))
    val kept = lines.filter(isShort).unionByName(longFirsts)
    documents.select(col("doc_id"), size(split(coalesce(col("text"), lit("")), sepRe))
        .cast("long").as("n_lines"))
      .join(kept.groupBy("doc_id")
          .agg(count(lit(1)).as("n_kept"),
            concat_ws(sep, transform(
              array_sort(collect_list(struct(col("line_no"), col("line")))),
              s => s.getField("line"))).as("text_out")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_out"), lit("")).as("text_out"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
      .orderBy("doc_id")
  }

  /** Cross-document PARAGRAPH dedup — [[dedupLines]] on \n\n units, the
    * Dolma-style coarser sibling of the C4 line rule: boilerplate
    * paragraphs (footers, license blocks, navigation text) keep exactly
    * their first corpus occurrence. Identical scale shape — one
    * combine-absorbed shuffle keyed by long-paragraph text.
    */
  def dedupParagraphs(documents: DataFrame, minChars: Int = 30): DataFrame =
    dedupLines(documents, minChars, sep = "\n\n")

  /** Generated DuckDB replay of [[dedupLines]]/[[dedupParagraphs]] — the
    * same first-occurrence pick (declarative window form) and reassembly
    * in SQL. `sepSql` is the separator as a DuckDB expression.
    */
  def dedupLinesOracleSql(minChars: Int = 30,
                          sepSql: String = "chr(10)"): String =
    s"""WITH ls AS (SELECT doc_id, string_split(text, $sepSql) AS a FROM documents),
       lines AS (SELECT doc_id, i - 1 AS line_no, a[i] AS line
                 FROM ls, LATERAL (SELECT UNNEST(generate_series(1, len(a))) AS i)),
       ranked AS (SELECT doc_id, line_no, line,
                    ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
                  FROM lines),
       kept AS (SELECT doc_id, line_no, line FROM ranked
                WHERE length(line) < $minChars OR rn = 1),
       agg AS (SELECT doc_id, COUNT(*) AS n_kept,
                 string_agg(line, $sepSql ORDER BY line_no) AS text_out
               FROM kept GROUP BY doc_id)
       SELECT d.doc_id,
              COALESCE(agg.text_out, '') AS text_out,
              COALESCE(agg.n_kept, 0) AS n_kept,
              len(string_split(d.text, $sepSql)) - COALESCE(agg.n_kept, 0) AS n_removed
       FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
       ORDER BY d.doc_id"""

  def decontaminate(train: DataFrame, benchmark: DataFrame, n: Int = 3): DataFrame =
    exactSurvivors(train, hashedShingles(train, n), hashedShingles(benchmark, n))
      .orderBy("doc_id")

  /** The exact decontamination leg over PRE-SHINGLED frames — shared by
    * [[decontaminate]] and [[decontaminateBloomReport]] so the report can
    * materialize one shingling of each corpus across both of its legs.
    */
  private def exactSurvivors(train: DataFrame, trainSh: DataFrame,
                             benchSh: DataFrame): DataFrame = {
    val contaminated = trainSh
      .join(benchSh.select("shingle").distinct(), Seq("shingle"), "left_semi")
      .select("doc_id").distinct()
    train.join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id")
  }

  /** Per-source contamination audit: for each training source, how many
    * documents share at least one n-gram with the benchmark (the
    * [[decontaminate]] rule) and the resulting rate — the breakdown a
    * pipeline owner reads to find WHICH feed is leaking eval data before
    * deciding between dropping documents and dropping the feed. Benchmark
    * members that are themselves in `train` count as contaminated (they
    * share their own shingles) — the same convention as the exact leg.
    *
    * Scale shape: the [[decontaminate]] semi-join (shuffle keyed by the
    * 48-bit shingle hash, benchmark side distinct) reduced to a per-doc
    * flag, then one combining aggregate by (source, verdict) and a window
    * over the ≤ 2·|sources|-row result for the within-source share. The
    * only double is the final rounded share. Output is a contingency
    * table — one row per (source, contaminated) combination that EXISTS —
    * deliberately: a report keyed only by source would let a row-count
    * consumer prune the whole shingle join (unique-key left joins whose
    * columns all die in pruning are eliminated by the optimizer), i.e.
    * its cheap-looking plan would not be doing the audit's work.
    */
  def contaminationBySource(train: DataFrame, benchmark: DataFrame,
                            n: Int = 3): DataFrame = {
    val contaminated = hashedShingles(train, n)
      .join(hashedShingles(benchmark, n).select("shingle").distinct(),
        Seq("shingle"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("hit", lit(1L))
    val bySource = Window.partitionBy("source")
    train.select(col("doc_id"), col("source"))
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy(col("source"), col("hit").isNotNull.as("contaminated"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share", round(col("n_docs").cast("double") /
        sum("n_docs").over(bySource).cast("double"), 6))
      .orderBy("source", "contaminated")
  }

  /** Fuzzy decontamination by benchmark-side n-gram CONTAINMENT — the
    * production middle ground between [[decontaminate]] (ANY shared
    * shingle drops the doc: trigger-happy on boilerplate phrases) and no
    * guard at all. A training doc is contaminated when it covers at least
    * `tau` of SOME benchmark item's distinct n-grams
    * (|sh(t) ∩ sh(b)| / |sh(b)| ≥ τ — the C4/Dolma-style overlap rule):
    * paraphrased or partially-quoted eval items are caught, while an
    * incidental common trigram no longer costs a document.
    *
    * Scale shape: one equi-join on the 48-bit shingle hash (shuffle keyed
    * by shingle — same class as the exact path), per-(train, bench) counts
    * reduced map-side, and the benchmark-size table — one row per
    * benchmark ITEM, small by definition — broadcast for the containment
    * division. Benchmark items with fewer than n tokens have no shingles
    * and cannot contaminate (both engines agree by construction).
    * Full value oracle: [[decontaminateFuzzyOracleSql]] replays the
    * hash-48 shingling and the containment rule in SQL.
    */
  def decontaminateFuzzy(train: DataFrame, benchmark: DataFrame,
                         tau: Double = 0.5, n: Int = 3): DataFrame = {
    val tsh = hashedShingles(train, n)
    val bsh = hashedShingles(benchmark, n)
      .select(col("doc_id").as("bid"), col("shingle"))
    // hashedShingles dedups per doc, so plain counts are distinct counts
    val bn = bsh.groupBy("bid").agg(count(lit(1)).as("bn"))
    val contaminated = tsh.join(bsh, "shingle")
      .groupBy(col("doc_id"), col("bid"))
      .agg(count(lit(1)).as("o"))
      .join(broadcast(bn), "bid")
      .filter(col("o") >= lit(tau) * col("bn"))
      .select("doc_id").distinct()
    train.join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** Generated DuckDB replay of [[decontaminateFuzzy]] over the registered
    * self-benchmark shape (every `mod`-th doc is the benchmark): hash-48
    * shingles, per-pair overlap counts, benchmark-side containment ≥ τ.
    */
  def decontaminateFuzzyOracleSql(tau: Double = 0.5, mod: Int = 50): String = {
    val gram = "CAST('0x' || substring(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 12) AS BIGINT)"
    s"""WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
       sets AS (SELECT doc_id, list_distinct(list_transform(
                  generate_series(1, greatest(len(t) - 2, 0)), i -> $gram)) AS hs FROM toks),
       sh AS (SELECT doc_id, unnest(hs) AS h FROM sets),
       bsh AS (SELECT doc_id AS bid, h FROM sh WHERE doc_id % $mod = 0),
       bn AS (SELECT bid, COUNT(*) AS bn FROM bsh GROUP BY bid),
       ov AS (SELECT s.doc_id, b.bid, COUNT(*) AS o
              FROM sh s JOIN bsh b ON s.h = b.h GROUP BY s.doc_id, b.bid),
       cont AS (SELECT DISTINCT ov.doc_id FROM ov JOIN bn USING (bid)
                WHERE o >= $tau * bn)
       SELECT d.doc_id FROM documents d LEFT JOIN cont ON d.doc_id = cont.doc_id
       WHERE cont.doc_id IS NULL ORDER BY d.doc_id"""
  }

  /** Decontamination through a BROADCAST Bloom filter — the shape the exact
    * semi-join takes at 100 TB when even the distinct benchmark shingle set
    * is too big to ship to every task as join state: fold it into an
    * O(bits) filter once, broadcast that, and contamination testing becomes
    * a map-side predicate on the train scan (zero shuffle until the final
    * per-doc distinct).
    *
    * Bloom semantics make this SAFE in exactly the direction decontamination
    * needs: no false negatives (every truly contaminated document is still
    * removed), and false positives only over-remove at the configured rate
    * (`fpp` of clean shingles, union-bounded per doc). The spec asserts
    * kept ⊆ exact-kept and dropped ⊇ exact-dropped. The filter bits are a
    * deterministic, order-independent function of the shingle set, so the
    * output is reproducible — but not expressible in SQL, so the survivor
    * set itself carries no DuckDB oracle; the REGISTERED query is
    * [[decontaminateBloomReport]], which pins the guarantees instead.
    */
  def decontaminateBloom(train: DataFrame, benchmark: DataFrame, n: Int = 3,
                         expectedShingles: Long = 1000000L,
                         fpp: Double = 0.001): DataFrame = {
    val bf = hashedShingles(benchmark, n)
      .stat.bloomFilter("shingle", expectedShingles, fpp)
    bloomSurvivors(train, hashedShingles(train, n), bf).orderBy("doc_id")
  }

  /** The Bloom decontamination leg over a PRE-SHINGLED train frame and a
    * PRE-BUILT filter — shared by [[decontaminateBloom]] and
    * [[decontaminateBloomReport]] so the report builds the filter (an eager
    * driver aggregation) exactly once and reuses one materialized shingling.
    */
  private def bloomSurvivors(train: DataFrame, trainSh: DataFrame,
                             bf: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    val bcast = spark.sparkContext.broadcast(bf)
    val contaminated = trainSh.as[(Long, Long)]
      .filter(r => bcast.value.mightContainLong(r._2))
      .toDF("doc_id", "shingle")
      .select("doc_id").distinct()
    train.join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id")
  }

  /** The oracle-anchored report over [[decontaminateBloom]] (the
    * exact-bound-report pattern from the sketch family): one row carrying
    * the exact survivor count, the HARD guarantee check (no false
    * negatives — a doc the exact path drops can never survive the Bloom
    * path, because every real benchmark shingle is in the filter), and an
    * over-removal check against a declared slack bound (false positives
    * may drop extra docs at ≈ per-probe fpp; the bound is generous because
    * the filter is sized for `expectedShingles` and typically underfilled).
    * The DuckDB oracle pins the exact count and both booleans TRUE, so a
    * broken filter — EITHER direction — turns the row red. One lazy plan:
    * full-outer join of the two survivor sets into a single aggregate.
    */
  def decontaminateBloomReport(train: DataFrame, benchmark: DataFrame,
                               n: Int = 3, expectedShingles: Long = 1000000L,
                               fpp: Double = 0.001,
                               slack: Double = 0.05): DataFrame = {
    // Round-13 (from round-12 review): composing the two public operators
    // shingled BOTH corpora twice — the exact leg and the Bloom leg each
    // re-ran the typed tokenize+hash pass independently (the report's
    // dominant constant factor). Shingle each corpus ONCE, materialized:
    // the benchmark shingles feed the eager filter build and the exact
    // leg's semi-join; the train shingles feed both legs.
    val tsh = Checkpoints(hashedShingles(train, n))
    val bsh = Checkpoints(hashedShingles(benchmark, n))
    val bf = bsh.stat.bloomFilter("shingle", expectedShingles, fpp)
    val e = exactSurvivors(train, tsh, bsh).select(col("doc_id"), lit(1).as("e"))
    val b = bloomSurvivors(train, tsh, bf).select(col("doc_id"), lit(1).as("b"))
    e.join(b, Seq("doc_id"), "full_outer")
      .agg(
        count(col("e")).as("n_survivors_exact"),
        sum(when(col("b").isNotNull && col("e").isNull, 1L).otherwise(0L)).as("_fn"),
        sum(when(col("e").isNotNull && col("b").isNull, 1L).otherwise(0L)).as("_over"))
      .select(
        col("n_survivors_exact"),
        (coalesce(col("_fn"), lit(0L)) === 0).as("no_false_negatives"),
        (coalesce(col("_over"), lit(0L)) <=
          greatest(lit(5L), ceil(lit(slack) * col("n_survivors_exact")).cast("long")))
          .as("over_removal_ok"))
  }

  /** 48-bit SimHash fingerprint per document: per-token md5-derived 48-bit
    * hash (the same engine-portable family as [[Text.gramHash48]]), each bit
    * votes ±1, sign of the vote-sum forms the fingerprint bit. Near-dups =
    * fingerprints within small Hamming distance. One explode + one
    * hash-aggregate with 48 codegen'd sums — no UDAF.
    *
    * The md5 hash family (vs xxhash64) is deliberate: every fingerprint is
    * reproducible in ANSI SQL, so `q_simhash`/`q_simhash_pairs` carry REAL
    * value oracles instead of rows-only checks. 48 uniform bits lose nothing
    * for near-dup detection (the Hamming radius stays ≤ 3).
    */
  def simhash(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"),
      explode(regexp_extract_all(lower(col("text")), lit(wordRe), lit(0))).as("tok"))
      .select(col("doc_id"), Text.gramHash48(col("tok")).as("h"))
    val bitSums = (0 until 48).map { i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0, 1).otherwise(-1)).as(s"s$i")
    }
    val agg = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 48).map { i =>
      when(col(s"s$i") > 0, lit(1L << i)).otherwise(0L)
    }.reduce((x, y) => x.bitwiseOR(y))
    agg.select(col("doc_id"), fp.as("simhash")).orderBy("doc_id")
  }

  /** SimHash near-dup pairs within a Hamming radius, banded for scale: split
    * the 48-bit fingerprint into 4 12-bit blocks; within radius r<=3 at
    * least one block matches exactly (pigeonhole), so candidates come from 4
    * equi-joins on blocks, never a cross join.
    */
  /** The (doc_id, simhash, blk, v) frame [[simhashPairs]] equi-joins on —
    * extracted so the scaling probe/spec can measure candidate volume from
    * block-bucket sizes without running the join.
    */
  private[graft] def simhashBlocks(fp: DataFrame): DataFrame = {
    val blocks = (0 until 4).map { b =>
      struct(lit(b).as("blk"), shiftright(col("simhash"), b * 12).bitwiseAND(lit(0xFFFL)).as("v"))
    }
    fp.select(col("doc_id"), col("simhash"), explode(array(blocks: _*)).as("kb"))
      .select(col("doc_id"), col("simhash"), col("kb.blk").as("blk"), col("kb.v").as("v"))
  }

  def simhashPairs(documents: DataFrame, radius: Int = 3): DataFrame = {
    require(radius <= 3, "4-block banding guarantees recall only for radius <= 3")
    val keyed = simhashBlocks(simhash(documents))
    val cand = keyed.as("x").join(keyed.as("y"),
        col("x.blk") === col("y.blk") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.simhash").as("ha"), col("y.simhash").as("hb"))
      .distinct()
    cand
      .select(col("id_a"), col("id_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= radius)
      .orderBy("id_a", "id_b")
  }

  /** Weighted lexical near-dup pairs: TF-IDF cosine over word n-gram
    * shingles via a document-frequency-pruned inverted index — the
    * WEIGHTED sibling of [[jaccardPairs]] (Jaccard treats every shared
    * shingle equally; here a shared RARE shingle counts for more, the
    * boilerplate-robust similarity a curation pipeline wants when common
    * headers/footers would otherwise dominate set overlap).
    *
    * Semantics (the df cap is part of the operator's contract, not an
    * approximation knob): the vector space is the shingles with
    * df ≤ `dfCap` — higher-df shingles are corpus boilerplate with
    * near-zero idf and df² candidate cost, excluded by definition (the
    * standard stop-term rule of sparse lexical similarity). Within that
    * space the cosine is EXACT: norms include every kept term (df = 1
    * terms too — they shape the norm even though they can never match),
    * and the candidate join runs only over 2 ≤ df ≤ dfCap terms, which
    * loses nothing because a df = 1 posting has no partner.
    *
    * Scale shape: shingles are xxhash64 longs internally (primitive join
    * keys; the oracle replays over the strings — collision-free on any
    * real vocabulary, the [[shingleArrays]] argument), candidates are
    * bounded by Σ_{df≤cap} df² (near-linear under the cap, never corpus²),
    * and the weighted postings table is materialized once since three
    * consumers read it (norms + both join sides).
    *
    * Determinism: weights are round-9 decimals (the bm25 contract), dot
    * products and norm sums are exact DECIMAL arithmetic, the final
    * cosine is one double sequence replayed verbatim, and the threshold
    * compares the ROUNDED cosine so a boundary pair cannot flip engines.
    */
  def tfidfCosinePairs(documents: DataFrame, threshold: Double = 0.4,
                       dfCap: Int = 1000, n: Int = 3): DataFrame = {
    require(n >= 1 && n <= 8, s"need 1 <= n <= 8, got $n")
    require(threshold > 0 && threshold <= 1,
      s"need 0 < threshold <= 1, got $threshold")
    require(dfCap >= 2, s"need dfCap >= 2, got $dfCap")
    // term frequencies in ONE typed row-local pass (the [[shingleArrays]]
    // trade: an interpreted transform() HOF pays per-element lambda
    // overhead — measured 2× on this operator's hot path): each doc's
    // windows are hashed and counted in a local map, so the (doc, sh, tf)
    // rows leave the scan ALREADY aggregated — no token-granularity
    // explode, no (doc, sh) shuffle at all. Same catalyst XXH64/seed-42
    // hash family as the shinglers.
    val spark = documents.sparkSession
    import spark.implicits._
    val tokenRe = wordRe.r
    val tf = documents.select(col("doc_id"), lower(col("text")).as("t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          else {
            val toks = tokenRe.findAllIn(text).toArray
            val m = toks.length - n + 1
            if (m <= 0) Iterator.empty
            else {
              val counts = new java.util.HashMap[java.lang.Long, java.lang.Long]()
              var i = 0
              while (i < m) {
                val sb = new java.lang.StringBuilder(toks(i))
                var j = 1
                while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
                val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
                val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
                  bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
                  bytes.length, 42L)
                counts.merge(h, 1L, (a, b) => a + b)
                i += 1
              }
              val entries = counts.entrySet().iterator()
              new Iterator[(Long, Long, Long)] {
                def hasNext: Boolean = entries.hasNext
                def next(): (Long, Long, Long) = {
                  val e = entries.next(); (id, e.getKey, e.getValue)
                }
              }
            }
          }
        }
      }.toDF("doc_id", "sh", "tf")
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    // tf feeds both the df aggregate and the weight join; it is NOT
    // persisted — measured: materializing the pass costs as much as the
    // second row-local tokenization it saves (1.98 s vs 1.74 s warm at
    // sf0.1), and at scale a persisted token-granularity table is its own
    // liability. The weighted postings (w) below ARE materialized: three
    // consumers and a shuffle+join pipeline behind them.
    val dfT = tf.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
    val nd = documents.agg(count(lit(1)).as("_n"))
    val w = Checkpoints(tf.join(dfT, "sh")
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("sh"), col("df"),
        round(col("tf").cast("double") *
          log(col("_n").cast("double") / col("df").cast("double")), 9)
          .cast(dec).as("w")))
    val norms = w.groupBy("doc_id")
      .agg(sqrt(sum(col("w") * col("w")).cast("double")).as("nrm"))
    // The candidate self-join is the compute stage: each sh-group expands
    // to df² ordered pairs, so its cost per input byte dwarfs every other
    // exchange here. An explicit width pin lived here briefly (round 17)
    // as a workaround for the round-16 8 MB AQE advisory serializing the
    // expansion; that advisory tune is reverted, and under default AQE
    // (parallelismFirst=true never coalesces below the slot count) the
    // pin only forced an extra exchange — measured at sf1x it throttled
    // the pair expansion to the slot floor (31.8 s vs ~12 s). The plain
    // shuffle join lets AQE size the exchange from the actual postings
    // volume at every scale; both self-join sides reuse the one exchange.
    val post = w.filter(col("df") >= 2).select(col("doc_id"), col("sh"), col("w"))
    val dot = post.as("a")
      .join(post.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"),
        sum(col("a.w") * col("b.w")).as("_dot"))
    dot
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("_na")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("_nb")), "doc_b")
      .withColumn("cos",
        round(col("_dot").cast("double") / (col("_na") * col("_nb")), 6))
      .filter(col("cos") >= threshold)
      .select("doc_a", "doc_b", "n_shared", "cos")
      .orderBy("doc_a", "doc_b")
  }

  /** Generated DuckDB oracle for [[tfidfCosinePairs]]: the same tf/df/idf
    * pipeline keyed by the shingle STRINGS (the hash is internal to the
    * Spark side), same decimal dot/norm sums and double cosine. */
  def tfidfPairsOracleSql(table: String = "documents", threshold: Double = 0.4,
                          dfCap: Int = 1000, n: Int = 3): String = {
    val names = (0 until n).map(j => s"w$j")
    val unnests = (0 until n)
      .map(j => s"unnest(t[${j + 1}:len(t) - ${n - 1 - j}]) AS w$j")
      .mkString(",\n           ")
    val joined = names.mkString(" || ' ' || ")
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |  FROM $table),
       |nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM $table),
       |g AS (SELECT doc_id, $joined AS sh FROM (
       |    SELECT doc_id,
       |           $unnests
       |    FROM toks WHERE len(t) >= $n)),
       |tf AS (SELECT doc_id, sh, CAST(COUNT(*) AS BIGINT) AS tf
       |       FROM g GROUP BY doc_id, sh),
       |dfx AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM tf
       |        GROUP BY sh HAVING COUNT(*) <= $dfCap),
       |w AS MATERIALIZED (
       |  SELECT doc_id, tf.sh, df,
       |         CAST(round(CAST(tf AS DOUBLE) * ln(nn / CAST(df AS DOUBLE)), 9)
       |              AS DECIMAL(18,9)) AS w
       |  FROM tf JOIN dfx ON tf.sh = dfx.sh CROSS JOIN nd),
       |nrm AS (SELECT doc_id, sqrt(CAST(SUM(w * w) AS DOUBLE)) AS nrm
       |        FROM w GROUP BY doc_id),
       |dot AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |               COUNT(*) AS n_shared, SUM(a.w * b.w) AS d
       |        FROM w a JOIN w b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |        WHERE a.df >= 2 AND b.df >= 2
       |        GROUP BY a.doc_id, b.doc_id)
       |SELECT doc_a, doc_b, n_shared,
       |       round(CAST(d AS DOUBLE) / (na.nrm * nb.nrm), 6) AS cos
       |FROM dot
       |JOIN nrm na ON dot.doc_a = na.doc_id
       |JOIN nrm nb ON dot.doc_b = nb.doc_id
       |WHERE round(CAST(d AS DOUBLE) / (na.nrm * nb.nrm), 6) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }
}
