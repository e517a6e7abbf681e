package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composite a training-data pipeline
  * actually runs, built entirely from the library's own operators so the
  * whole flow stays one declarative plan (Catalyst sees every stage).
  * Two things materialize: the gated corpus, checkpointed once because
  * every later stage reads it, and the dedup pair graph, which
  * [[Dedup.clusterPairs]] checkpoints by design. The returned frame reads
  * the gated corpus; the pair stage's checkpoints that it does not read
  * are released when the build returns ([[Checkpoints]]). The stages:
  *
  *   1. quality gate   — [[Text.qualityScore]] thresholds (Gopher-style)
  *   2. near-dup dedup — [[Dedup.dedupKeepList]] (prefix-filtered Jaccard →
  *                       connected components → cluster-min keepers)
  *   3. source mixture — [[Text.corpusMix]]'s md5-bucket downsampling
  *   4. train/val split — [[Text.trainValSplit]]'s stable md5 assignment
  *   5. sequence packing — [[Text.packSequences]]'s contiguous token budget
  *
  * Every stage is deterministic and engine-portable, so the ENTIRE
  * pipeline carries a DuckDB value oracle (q_curation) — the composition
  * proof that the pieces a reference user would chain actually compose.
  */
object Pipelines {

  def curate(documents: DataFrame,
             minMeanTokLen: Double = 4.0,
             maxMeanTokLen: Double = 9.0,
             minTypeToken: Double = 0.3,
             jaccardThreshold: Double = 0.5,
             mixRates: Map[String, Int] = Map.empty,
             valHexDigits: String = "01234",
             budgetTokens: Int = 512): DataFrame =
    curateWith(documents, Dedup.jaccardPairs(_, jaccardThreshold, sorted = false),
      minMeanTokLen, maxMeanTokLen, minTypeToken, mixRates, valHexDigits, budgetTokens)

  /** [[curate]] with a PLUGGABLE near-dup pair generator — the 100 TB
    * composition point: pass `Dedup.minhashPairs(_, t, sorted = false)` and
    * the dedup stage becomes sub-quadratic MinHash-LSH candidate generation
    * (exactly verified) instead of the exact prefix-filtered all-pairs scan,
    * with every other stage unchanged. The generator runs ON the gated
    * corpus, so upstream filtering always pays off in the pair stage.
    * Because LSH edges are verified-exact, the LSH pipeline's survivor set
    * is a superset of the exact pipeline's (see the pair-graph overload of
    * `Dedup.dedupSurvivors`); all downstream stages are deterministic
    * row-wise functions, so rows
    * shared by both outputs are value-identical except `pack_id`, whose
    * running token budget shifts when the survivor set grows.
    */
  /** [[curateWith]] with a PLUGGABLE quality gate as well — pass
    * `Text.gopherKeep()` to run the boolean Gopher rule gates instead of
    * the graded ratio thresholds; every downstream stage is unchanged.
    * Any per-row boolean Column over the documents schema is a valid gate
    * (it is applied IN PLACE, so it stays a narrow codegen predicate over
    * the corpus scan).
    */
  def curateWithGate(documents: DataFrame,
                     gate: org.apache.spark.sql.Column,
                     pairGenerator: DataFrame => DataFrame,
                     mixRates: Map[String, Int] = Map.empty,
                     valHexDigits: String = "01234",
                     budgetTokens: Int = 512): DataFrame =
    // spread an under-split corpus scan before the per-row-expensive gate
    // and shingle stages — size-gated (Helpers.spreadForCompute), so a
    // small corpus skips the text shuffle (measured regression) and a
    // properly-split 100 TB scan passes through untouched. The gate runs
    // through filterOnce: a conjunction-heavy text gate re-scans the text
    // per conjunct as a plain filter (Helpers.filterOnce scaladoc; ~26 s →
    // ~10 s at the 100× corpus for the Gopher gate)
    curateTail(Helpers.filterOnce(Helpers.spreadForCompute(documents), gate),
      pairGenerator, mixRates, valHexDigits, budgetTokens)

  def curateWith(documents: DataFrame,
                 pairGenerator: DataFrame => DataFrame,
                 minMeanTokLen: Double = 4.0,
                 maxMeanTokLen: Double = 9.0,
                 minTypeToken: Double = 0.3,
                 mixRates: Map[String, Int] = Map.empty,
                 valHexDigits: String = "01234",
                 budgetTokens: Int = 512): DataFrame = {
    // 1. quality gate — ratios evaluated ONCE per row (filterOnce: the
    // withColumn+filter form collapses and the between-conjuncts would
    // re-tokenize per predicate; same rationale as the Gopher gate in
    // curateWithGate), still a narrow codegen pipeline over the scan
    val ratios = Text.qualityRatios
    // same size-gated spread rationale as curateWithGate
    val gated = Helpers.filterOnce(Helpers.spreadForCompute(documents),
      ratios.meanTokLen.between(minMeanTokLen, maxMeanTokLen) &&
        ratios.typeTokenRatio >= minTypeToken)
    curateTail(gated, pairGenerator, mixRates, valHexDigits, budgetTokens)
  }

  /** Stages 2-5, shared by every gate/generator combination. */
  private def curateTail(gated0: DataFrame,
                         pairGenerator: DataFrame => DataFrame,
                         mixRates: Map[String, Int],
                         valHexDigits: String,
                         budgetTokens: Int): DataFrame = Checkpoints.owned {
    // The gated corpus feeds SEVERAL plan subtrees — the pair generator's
    // shingle-subset semi-join, both exact-verify sides inside it, the
    // survivor anti-join, and the packing tail — and the gate is a
    // full-text regex pass, so without a materialization barrier it
    // re-runs once per subtree (measured 4-5 gate evaluations per curation
    // query at sf0.1). Materialized once (the tfidf weighted-postings
    // pattern): every consumer reads the gated rows and the corpus is
    // gated exactly once. At 100 TB this trades ~|gated| of spill-able
    // storage for 3-4 full-corpus regex re-scans — the same trade the
    // reference pipelines make by materializing their filtered corpus
    // between stages.
    val gated = Checkpoints(gated0)
    // 2. near-dup dedup computed ON the gated corpus — one anti-join.
    // clusterPairs copies the pairs, so this scope releases the
    // checkpoints the generator made for them; one a caller's generator
    // closes over was made outside the scope and stays.
    val deduped = Dedup.dedupSurvivors(gated, pairGenerator(gated))
    // 3. mixture  4. split  5. packing
    val mixed = deduped.filter(Text.mixKeep(mixRates))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mixed
      .select(col("doc_id"), col("source"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z0-9]+"), lit(0)))
          .cast("long").as("n_tokens"),
        Text.splitExpr(valHexDigits).as("split"))
      .withColumn("_cum", sum("n_tokens").over(w))
      .withColumn("pack_id", expr(s"(_cum - n_tokens) DIV $budgetTokens"))
      .drop("_cum")
      .orderBy("doc_id")
  }
}
