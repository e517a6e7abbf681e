package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis surface for training-data pipelines (SURVEY.md §2 group H):
  * token counting, quality scoring, language-ID heuristic, fingerprinting,
  * JSON extraction.
  *
  * Everything is built-in `functions._` (codegen'd, stays inside
  * WholeStageCodegen) — no UDFs in the hot path, so a 100 TB corpus scan is
  * a single narrow stage: vectorized parquet read → codegen'd expressions →
  * (optional) aggregate.
  */
object Text {

  private[graft] val wordRe = "[A-Za-z0-9]+"

  /** Per-document text statistics: char/token counts and quality ratios.
    * Ratios are plain per-row double arithmetic (order-independent), rounded
    * for engine-portability of the last ulp.
    */
  def textStats(documents: DataFrame): DataFrame =
    documents.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(regexp_extract_all(col("text"), lit(wordRe), lit(0))).cast("long").as("n_tokens"),
        size(array_distinct(regexp_extract_all(lower(col("text")), lit(wordRe), lit(0))))
          .cast("long").as("n_uniq_tokens"))
      .orderBy("doc_id")

  /** Quality scoring: heuristic ratios a filtering pipeline thresholds on
    * (mean token length, stopword ratio, type-token ratio). All per-row,
    * fully pushed into codegen.
    */
  def qualityScore(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
        qualityRatios.meanTokLen, qualityRatios.stopwordRatio, qualityRatios.typeTokenRatio)
      .orderBy("doc_id")

  /** The quality-ratio columns by NAME — for pipelines that FILTER on them
    * in place (a narrow codegen'd predicate over the corpus scan, no join
    * back, no sort) instead of materializing a score table. Named fields,
    * not a positional Seq: a consumer thresholding the wrong ratio should
    * be a compile error, not a silent semantic change.
    */
  private[graft] final case class QualityRatios(meanTokLen: Column,
                                                stopwordRatio: Column,
                                                typeTokenRatio: Column)

  private[graft] def qualityRatios: QualityRatios = {
    val toks  = regexp_extract_all(lower(col("text")), lit(wordRe), lit(0))
    val nTok  = size(toks)
    val stops = size(regexp_extract_all(lower(col("text")),
      lit("\\b(the|a|and|of|to|in|is)\\b"), lit(0)))
    QualityRatios(
      round(length(col("text")).cast("double") / greatest(nTok, lit(1)), 6).as("mean_tok_len"),
      round(stops.cast("double") / greatest(nTok, lit(1)), 6).as("stopword_ratio"),
      round(size(array_distinct(toks)).cast("double") / greatest(nTok, lit(1)), 6)
        .as("type_token_ratio"))
  }

  /** Repetition signals (Gopher-style quality rules): duplicate-3-gram
    * ratio (row-local) and top-token dominance (explode + two aggregates —
    * the shuffle carries (doc, token) partial counts) — high values mark
    * boilerplate/spam.
    */
  def repetitionStats(documents: DataFrame): DataFrame = {
    val toks = col("_toks")
    val grams = filter(
      transform(toks, (_, i) => when(i <= size(toks) - 3,
        concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3)))),
      c => c.isNotNull)
    val base = documents
      .withColumn("_toks", regexp_extract_all(lower(col("text")), lit(wordRe), lit(0)))
    val dupGram = base
      .withColumn("_g", grams)
      .select(col("doc_id"),
        round(when(size(col("_g")) > 0,
          lit(1.0) - size(array_distinct(col("_g"))).cast("double") / size(col("_g")))
          .otherwise(0.0), 6).as("dup_gram_ratio"))
    val top = base.select(col("doc_id"), explode(toks).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(round(max("c").cast("double") / sum("c"), 6).as("top_token_ratio"))
    dupGram.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_gram_ratio"),
        coalesce(col("top_token_ratio"), lit(0.0)).as("top_token_ratio"))
      .orderBy("doc_id")
  }

  /** Gopher-style RULE filter (Rae et al. 2021, table A1 shape): the
    * boolean per-document gates a curation pipeline ANDs together, next to
    * the graded ratios of [[qualityScore]]. Word-count bounds, mean word
    * length bounds, bullet-line and ellipsis-line ratios, and a ≥2-distinct-
    * stopwords requirement. Every term is a per-row codegen'd expression
    * (regex counts + arithmetic — no explode, no shuffle), so the filter
    * rides the corpus scan at any scale, and every term is expressible
    * verbatim in the oracle dialect (RE2 and Java regex agree on the
    * `(?m)` line-anchored patterns used here).
    */
  /** The Gopher rule signals by NAME (rounded, per-row, null-text-safe) —
    * the named-fields-not-positions discipline of [[QualityRatios]].
    */
  private[graft] final case class GopherSignals(nWords: Column, meanWordLen: Column,
                                                bulletLineRatio: Column,
                                                ellipsisLineRatio: Column,
                                                stopHits: Column)

  private[graft] def gopherSignals: GopherSignals = {
    // null text gates like empty text (every rule DEFINED per row — a null
    // keep flag would poison the AND in a downstream filter)
    val txt = coalesce(col("text"), lit(""))
    // ONE tokenization pass shared by the word count and the stop-word
    // check (subexpression elimination computes it once per row inside the
    // Project). Round 9: the stop rule previously ran 8 separate
    // `\b<word>\b` rlike scans of the full text — at the 100× corpus that
    // made gopherKeep a co-dominant curation stage (25 s standalone, vs
    // 5.3 s for the ratio gates). Token-set membership is the same Gopher
    // rule ("contains ≥ k words from a stop list") computed over the SAME
    // tokens n_words counts, costs zero extra passes, and both engines
    // replay it identically (array_intersect / list_intersect both dedup).
    // Semantics note: the rlike form and the token form differ only at
    // underscore adjacency ("the_cat": `\b` treats `_` as a word char, the
    // tokenizer splits on it) — the token reading is the more faithful one
    // and the oracle replays it.
    val toks = regexp_extract_all(lower(txt), lit(wordRe), lit(0))
    // counts via regexp_count, NOT size(regexp_extract_all(...)): when the
    // keep-boolean lands in a Filter, Catalyst splits the conjuncts and
    // evaluates each independently (subexpression elimination is unsafe
    // across short-circuit branches), so every count signal is recomputed
    // per conjunct that mentions it — a match COUNTER costs a scan, an
    // extract-all costs a scan PLUS materializing the token array each
    // time (measured at the 100× corpus: 2.1 s vs 0.7 s per pass; the
    // whole gate 26 s → 14 s from this change). The array form survives
    // only where the array is genuinely consumed (the stop-word
    // intersect, one pass).
    val nWords = regexp_count(lower(txt), lit(wordRe))
    // total alphanumeric chars / words — portable mean word length without
    // an array aggregate (regexp_replace strips everything that is not a
    // token character)
    val tokChars = length(regexp_replace(lower(txt), "[^a-z0-9]", ""))
    val nLines = size(split(txt, "\n"))
    val bulletLines = regexp_count(txt, lit("(?m)^[ \\t]*[-*\u2022]"))
    val ellipsisLines = regexp_count(txt, lit("(?m)\\.\\.\\.$"))
    val stopWords = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    GopherSignals(
      nWords.cast("long"),
      round(tokChars.cast("double") / greatest(nWords, lit(1)), 6),
      round(bulletLines.cast("double") / greatest(nLines, lit(1)), 6),
      round(ellipsisLines.cast("double") / greatest(nLines, lit(1)), 6),
      size(array_intersect(toks, array(stopWords.map(lit): _*))).cast("long"))
  }

  /** The Gopher keep-predicate as ONE reusable boolean column — what
    * [[gopherRules]] reports per-rule and [[graft.ops.Pipelines]] applies
    * in place (the mixKeep/splitExpr single-definition pattern).
    */
  private[graft] def gopherKeep(minWords: Int = 40, maxWords: Int = 100000,
                                minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0,
                                maxBulletRatio: Double = 0.9, maxEllipsisRatio: Double = 0.3,
                                minStopHits: Int = 1): Column = {
    val s = gopherSignals
    s.nWords >= minWords && s.nWords <= maxWords &&
      s.meanWordLen >= minMeanLen && s.meanWordLen <= maxMeanLen &&
      s.bulletLineRatio <= maxBulletRatio &&
      s.ellipsisLineRatio <= maxEllipsisRatio &&
      s.stopHits >= minStopHits
  }

  def gopherRules(documents: DataFrame,
                  minWords: Int = 40, maxWords: Int = 100000,
                  minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0,
                  maxBulletRatio: Double = 0.9, maxEllipsisRatio: Double = 0.3,
                  minStopHits: Int = 1): DataFrame = {
    val s = gopherSignals
    documents.select(
        col("doc_id"),
        s.nWords.as("n_words"),
        s.meanWordLen.as("mean_word_len"),
        s.bulletLineRatio.as("bullet_line_ratio"),
        s.ellipsisLineRatio.as("ellipsis_line_ratio"),
        s.stopHits.as("n_stop_hits"),
        gopherKeep(minWords, maxWords, minMeanLen, maxMeanLen,
          maxBulletRatio, maxEllipsisRatio, minStopHits).as("keep"))
      .orderBy("doc_id")
  }

  final case class RepetitionCounts(doc_id: Long,
                                    n_lines: Long, n_dup_lines: Long,
                                    n_line_chars: Long, n_dup_line_chars: Long,
                                    n_paras: Long, n_dup_paras: Long,
                                    n_para_chars: Long, n_dup_para_chars: Long,
                                    n_chars: Long,
                                    top2_chars: Long, top3_chars: Long, top4_chars: Long)

  /** Gopher REPETITION signals (Rae et al. 2021 Table A1 — the component
    * [[gopherRules]] deliberately left out): per document,
    *  - duplicate line / paragraph fraction: occurrences BEYOND the first
    *    of each distinct line (paragraph), over the line (paragraph) count;
    *  - duplicate line / paragraph CHARACTER fraction: characters in those
    *    beyond-first occurrences, over all line (paragraph) characters;
    *  - top n-gram character fraction (n = 2, 3, 4): occurrences of the
    *    single most frequent word n-gram × its character length, over the
    *    document's characters (ties broken to the lexicographically
    *    smallest n-gram — pinned so the signal is deterministic).
    * Lines split on \n, paragraphs on \n\n, both KEEPING empty segments
    * (blank-line runs are exactly the repetition these rules exist to
    * catch); words = the [a-z0-9]+ lowercase tokenization every text
    * operator here shares.
    *
    * Shape: one row-local typed pass (per-doc hash-map n-gram counting —
    * the [[graft.ops.Dedup]] shingling carve-out: a HOF formulation would
    * group-count interpreted per element), then fractions as single
    * double divisions of the EXACT integer counts, which both engines
    * compute bit-identically — the counts ride along in the output so the
    * oracle pins them exactly too. One narrow stage at any corpus size;
    * nothing shuffles but the 13-column result.
    */
  def repetitionSignals(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val tokenRe = "[a-z0-9]+".r
    val counted = documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, raw) =>
        val text = if (raw == null) "" else raw
        def dupStats(parts: Array[String]): (Long, Long, Long, Long) = {
          val seen = new java.util.HashSet[String]()
          var dup = 0L; var dupChars = 0L; var chars = 0L
          parts.foreach { p =>
            chars += p.length
            if (!seen.add(p)) { dup += 1; dupChars += p.length }
          }
          (parts.length.toLong, dup, chars, dupChars)
        }
        val (nL, dupL, charsL, dupCharsL) = dupStats(text.split("\n", -1))
        val (nP, dupP, charsP, dupCharsP) = dupStats(text.split("\n\n", -1))
        val words = tokenRe.findAllIn(text.toLowerCase(java.util.Locale.ROOT)).toArray
        def topNgramChars(n: Int): Long = {
          if (words.length < n) 0L
          else {
            val counts = new java.util.HashMap[String, Long]()
            var i = 0
            while (i <= words.length - n) {
              val g = words.slice(i, i + n).mkString(" ")
              counts.merge(g, 1L, _ + _)
              i += 1
            }
            var bestG: String = null
            var bestC = 0L
            counts.forEach { (g, c) =>
              if (c > bestC || (c == bestC && (bestG == null || g < bestG))) {
                bestG = g; bestC = c
              }
            }
            bestC * bestG.length
          }
        }
        RepetitionCounts(id, nL, dupL, charsL, dupCharsL,
          nP, dupP, charsP, dupCharsP, text.length.toLong,
          topNgramChars(2), topNgramChars(3), topNgramChars(4))
      }
    def frac(num: Column, denom: Column): Column =
      round(num.cast("double") / greatest(denom, lit(1L)), 6)
    counted.toDF().select(
        col("doc_id"), col("n_lines"), col("n_paras"), col("n_chars"),
        col("n_dup_lines"), col("n_dup_line_chars"),
        col("n_dup_paras"), col("n_dup_para_chars"),
        col("top2_chars"), col("top3_chars"), col("top4_chars"),
        frac(col("n_dup_lines"), col("n_lines")).as("dup_line_frac"),
        frac(col("n_dup_line_chars"), col("n_line_chars")).as("dup_line_char_frac"),
        frac(col("n_dup_paras"), col("n_paras")).as("dup_para_frac"),
        frac(col("n_dup_para_chars"), col("n_para_chars")).as("dup_para_char_frac"),
        frac(col("top2_chars"), col("n_chars")).as("top2_char_frac"),
        frac(col("top3_chars"), col("n_chars")).as("top3_char_frac"),
        frac(col("top4_chars"), col("n_chars")).as("top4_char_frac"))
      .orderBy("doc_id")
  }

  // the one definition of each PII pattern — [[patternCounts]] counts them,
  // [[redact]] replaces them; an edit here keeps the counts-vs-redaction
  // correspondence intact by construction
  private[ops] val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[ops] val urlRe = "https?://[^\\s]+"
  private[ops] val digitRunRe = "[0-9]{6,}"

  /** Cleaning-signal pattern counts per document: emails, URLs, long digit
    * runs — the redaction/filter signals a curation pipeline thresholds on.
    */
  def patternCounts(documents: DataFrame): DataFrame =
    documents.select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(urlRe), lit(0))).cast("long").as("n_urls"),
        size(regexp_extract_all(col("text"), lit(digitRunRe), lit(0))).cast("long").as("n_digit_runs"))
      .orderBy("doc_id")

  /** PII redaction — the write-side of [[patternCounts]]: replace emails,
    * URLs, then long digit runs with typed placeholders, in that fixed
    * order (URLs are redacted before digit runs so a numeric path segment
    * collapses into `<URL>` rather than becoming a stray `<NUM>`). Pure
    * per-row `regexp_replace` chain — codegen'd, one narrow pass at any
    * corpus size, and expressible verbatim in the oracle (DuckDB needs the
    * explicit 'g' flag to match Spark's replace-all semantics).
    */
  def redact(documents: DataFrame): DataFrame =
    documents.select(
        col("doc_id"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), emailRe, "<EMAIL>"),
            urlRe, "<URL>"),
          digitRunRe, "<NUM>").as("clean_text"))
      .orderBy("doc_id")

  /** Token counting with a BPE-ish regex (GPT-2-style pretokenizer shape:
    * contractions, letter runs, digit runs, punctuation runs) next to plain
    * whitespace tokens. A real BPE merge table is model-specific; the
    * pretokenizer split is the part a Spark pipeline runs at scale, and its
    * count is the standard proxy.
    */
  def tokenCounts(documents: DataFrame): DataFrame = {
    val bpeRe = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+"
    documents.select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(wordRe), lit(0))).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit(bpeRe), lit(0))).cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Language-ID heuristic: score each candidate language by stopword hits
    * and pick the argmax (ties broken by language code). The stopword lists
    * are the classic high-frequency function words; on a real corpus this is
    * the cheap first-pass filter before a model-based identifier.
    */
  def langId(documents: DataFrame): DataFrame = {
    val lists = Seq(
      "de" -> "der|die|und|das|ist|nicht|ein|zu",
      "en" -> "the|and|of|to|is|in|that|it",
      "es" -> "el|la|de|que|y|en|los|se",
      "fr" -> "le|la|et|les|des|en|un|que")
    val scores = lists.map { case (code, words) =>
      struct(
        size(regexp_extract_all(lower(col("text")), lit(s"\\b(?:$words)\\b"), lit(0))).as("hits"),
        lit(code).as("lang"))
    }
    // argmax by (hits desc, code asc): greatest() on (hits, negated-order
    // code) structs; we instead sort an array of structs and take the last.
    val best = sort_array(array(scores: _*)).getItem(lists.size - 1)
    documents.select(
        col("doc_id"),
        best.getField("hits").cast("long").as("best_hits"),
        when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
          .as("pred_lang"))
      .orderBy("doc_id")
  }

  /** 48-bit gram hash from the first 12 hex digits of md5 — deliberately
    * engine-portable (DuckDB: CAST('0x' || substring(md5(g),1,12) AS
    * BIGINT)), so fingerprint queries get REAL value oracles instead of
    * rows-only checks. 48 bits keeps every digit-fold below 2^53 on any
    * engine while collision risk at corpus vocabularies stays negligible
    * for min/max/winnowing selection (~|grams|²/2⁴⁹).
    */
  private[ops] def gramHash48(g: Column): Column =
    conv(substring(md5(g), 1, 12), 16, 10).cast("long")

  /** The same 48-bit md5-derived gram hash for row-local (typed) code —
    * bit-identical to [[gramHash48]]: first 6 md5 bytes, big-endian.
    */
  private[ops] def gramHash48Local(md: java.security.MessageDigest, s: String): Long = {
    val d = md.digest(s.getBytes("UTF-8"))
    var h = 0L
    var i = 0
    while (i < 6) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
    h
  }

  /** Document fingerprinting: an md5 content hash (normalized
    * whitespace/case) plus min/max of rolling 3-gram hashes — the triple a
    * dedup pipeline keys on. All hashes are md5-derived and oracle-checked
    * (see [[gramHash48]]).
    */
  def fingerprints(documents: DataFrame): DataFrame = {
    // materialize normalized text + tokens as columns BEFORE the n-gram
    // lambda: element_at(<expr>, i) inside a HOF re-evaluates the whole
    // expression per element (no CSE in interpreted lambdas)
    val toks = col("_toks")
    val grams = filter(
      transform(toks, (_, i) => when(i <= size(toks) - 3,
        gramHash48(concat_ws(" ",
          element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3))))),
      c => c.isNotNull)
    documents
      .withColumn("_norm", regexp_replace(lower(col("text")), "\\s+", " "))
      .withColumn("_toks", regexp_extract_all(col("_norm"), lit(wordRe), lit(0)))
      .select(
        col("doc_id"),
        md5(col("_norm")).as("content_hash"),
        array_min(grams).as("min_gram_hash"),
        array_max(grams).as("max_gram_hash"))
      .orderBy("doc_id")
  }

  /** Corpus-wide top-k word bigrams — the n-gram frequency table a data
    * audit reads first. Explode → count → TakeOrdered; the shuffle carries
    * (bigram, partial count) thanks to map-side combine.
    */
  def topNgrams(documents: DataFrame, k: Int = 20): DataFrame = {
    val toks = col("_toks")
    val grams = filter(
      transform(toks, (_, i) => when(i <= size(toks) - 2,
        concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2)))),
      c => c.isNotNull)
    documents
      .withColumn("_toks", regexp_extract_all(lower(col("text")), lit(wordRe), lit(0)))
      .select(explode(grams).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)
  }

  /** Per-document key-term extraction: TF-IDF — tf(d,t) · ln(N/df(t)) —
    * top `topK` terms per document, the classic salient-term signal a
    * corpus index/summary pipeline extracts (next to the corpus-level
    * [[pmiCollocations]] and [[topNgrams]]).
    *
    * Scale shape: one token explode → (doc, term) counts in a combining
    * aggregate; document frequency derived FROM that table (a second
    * keyed aggregate — no second corpus scan); N rides as a 1-row
    * broadcast; ranking through the custom bounded-heap top-k operator
    * (no per-document window sort). Counts exact longs; the score is one
    * double multiply of one ln, oracle-identical.
    */
  def keyTerms(documents: DataFrame, topK: Int = 3): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val tf = Checkpoints(documents.select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit(wordRe), lit(0))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = documents.agg(count(lit(1)).as("n"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"),
        round(col("tf").cast("double") *
          log(col("n").cast("double") / col("df").cast("double")), 6).as("score"))
    graft.plans.TopK.perGroup(scored, groupCols = Seq("doc_id"),
        sortSpec = Seq(("score", false), ("term", true)), k = topK)
      .orderBy("doc_id", "rn")
  }

  /** Corpus-level collocation extraction: pointwise mutual information of
    * adjacent word pairs — PMI(x,y) = ln( p(x,y) / (p(x)·p(y)) ) with
    * p(x,y) from the bigram table and p(·) from the unigram table. The
    * statistical companion to [[topNgrams]]: raw counts surface what is
    * FREQUENT, PMI surfaces what is ASSOCIATED (bigrams occurring far more
    * often than their parts predict), the standard collocation signal a
    * vocabulary/tokenizer audit reads. `minCount` floors the bigram count
    * (PMI of rare pairs is noise).
    *
    * Scale shape: one token scan materialized for its two consumers, unigram
    * and bigram counts are map-side-combining aggregates, the two totals
    * ride as 1-row broadcasts, and the per-bigram probabilities join on
    * the token keys. Determinism: counts are exact longs; the PMI is one
    * ln of an explicit division sequence written identically in the
    * oracle, under the round(·, 6) discipline (the [[unigramSurprisal]]
    * ln precedent).
    */
  def pmiCollocations(documents: DataFrame, minCount: Long = 5L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val toks = col("_toks")
    val base = Checkpoints(documents
      .withColumn("_toks", regexp_extract_all(lower(col("text")), lit(wordRe), lit(0)))
      .select(col("_toks")))
    val uni = base.select(explode(toks).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cu"))
    val totalToks = uni.agg(coalesce(sum("cu"), lit(0L)).as("t"))
    val grams = filter(
      transform(toks, (_, i) => when(i <= size(toks) - 2,
        struct(element_at(toks, i + 1).as("x"), element_at(toks, i + 2).as("y")))),
      c => c.isNotNull)
    val bi = base.select(explode(grams).as("g"))
      .select(col("g.x").as("x"), col("g.y").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("cp"))
    val totalBi = bi.agg(coalesce(sum("cp"), lit(0L)).as("b"))
    bi.filter(col("cp") >= minCount)
      .join(uni.select(col("tok").as("x"), col("cu").as("cx")), "x")
      .join(uni.select(col("tok").as("y"), col("cu").as("cy")), "y")
      .crossJoin(broadcast(totalToks))
      .crossJoin(broadcast(totalBi))
      .select(col("x"), col("y"), col("cp").as("pair_n"),
        round(log((col("cp").cast("double") / col("b").cast("double")) /
          ((col("cx").cast("double") / col("t").cast("double")) *
            (col("cy").cast("double") / col("t").cast("double")))), 6).as("pmi"))
      .orderBy("x", "y")
  }

  /** EXACT corpus-wide heavy hitters (tokens with frequency > N/k) in two
    * bounded-memory passes — the frequent-items report that a naive
    * `groupBy(token)` answers with an all-token shuffle, done instead with
    * a shuffle that carries only candidates:
    *
    * pass 1 — per-partition Misra-Gries summaries with k-1 counters
    * (`mapPartitions`, O(k) memory per task, no shuffle). Any token with
    * global count > N/k has partition count > N_p/k in at least one
    * partition (sum(N_p) = N), and MG's undercount is bounded by N_p/k, so
    * the union of partition summaries is a guaranteed superset of the true
    * heavy hitters — ≤ (k-1)·partitions candidate tokens total.
    *
    * pass 2 — exact counts for candidates only: broadcast the candidate
    * set, semi-join the token stream (map-side filter), one hash aggregate
    * whose shuffle carries ≤ (k-1)·partitions groups, then keep
    * cnt·k > N. Output is EXACT (not an estimate) — hence the DuckDB
    * oracle — while memory and shuffle stay O(k) regardless of vocabulary
    * size: the 100 TB shape for "what dominates my corpus".
    */
  def heavyHitters(documents: DataFrame, k: Int = 40): DataFrame = {
    require(k > 1, s"k must be > 1, got $k")
    val spark = documents.sparkSession
    import spark.implicits._
    val toks = documents.select(
      explode(regexp_extract_all(lower(col("text")), lit(wordRe), lit(0))).as("tok"))
    val candidates = toks.as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        counters.get(t) match {
          case Some(c) => counters(t) = c + 1
          case None if counters.size < k - 1 => counters(t) = 1L
          case None => // decrement-all step: drop zeros, new token not inserted
            val dead = List.newBuilder[String]
            counters.keysIterator.foreach { key =>
              val c = counters(key) - 1
              if (c == 0) dead += key else counters(key) = c
            }
            dead.result().foreach(counters.remove)
        }
      }
      counters.keysIterator
    }.toDF("tok").distinct()
    val total = toks.agg(count(lit(1)).as("_n_total"))
    toks
      .join(broadcast(candidates), Seq("tok"), "left_semi")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total)) // 1-row side
      .filter(col("cnt") * k > col("_n_total"))
      .select(col("tok"), col("cnt"),
        round(col("cnt").cast("double") / col("_n_total"), 6).as("share"))
      .orderBy(col("cnt").desc, col("tok"))
  }

  /** Compression-ratio quality signal: deflate (zlib level 6) each
    * document and report compressed/raw size — near-duplicate boilerplate
    * and template spam compress far below prose, making this the cheap
    * repetition detector used alongside the Gopher rules. One typed
    * `mapPartitions` pass with a single `Deflater` instance per task
    * (reset per row — codec-state reuse is the point of the partition
    * scope, same pattern as [[Multimodal.extractFeatures]]). Deterministic
    * for a fixed zlib level but not SQL-expressible → registered rows-only
    * with behavior asserted in TextSpec.
    */
  def compressionRatio(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    deflated(documents)
      .map { case (id, _, nBytes, ratio) => (id, nBytes, ratio) }
      .toDF("doc_id", "n_bytes", "compress_ratio")
      .orderBy("doc_id")
  }

  /** The deflate pass shared by [[compressionRatio]] and
    * [[compressionChecked]]: (doc_id, n_chars, n_bytes, ratio). One typed
    * `mapPartitions` with a single `Deflater` per task (reset per row).
    * n_chars counts CODE POINTS (not UTF-16 units) to match SQL `length`.
    */
  private def deflated(documents: DataFrame) = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        // release the native zlib buffers when the task ends — Deflater
        // holds ~256KB off-heap that GC pressure does not reclaim promptly
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](64 * 1024)
        it.map { case (id, text) =>
          val raw = if (text == null) Array.empty[Byte] else text.getBytes("UTF-8")
          val nChars = if (text == null) 0L else text.codePointCount(0, text.length).toLong
          if (raw.isEmpty) (id, nChars, 0L, 1.0)
          else {
            deflater.reset()
            deflater.setInput(raw)
            deflater.finish()
            var compressed = 0L
            while (!deflater.finished()) compressed += deflater.deflate(buf)
            (id, nChars, raw.length.toLong,
              BigDecimal(compressed.toDouble / raw.length)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          }
        }
      }
  }

  /** The ORACLE-CHECKABLE per-document restatement of [[compressionRatio]]:
    * exact code-point and UTF-8 byte lengths (both re-derivable by any SQL
    * engine from the raw text — a tokenize/byte-accounting bug on either
    * side is a per-ROW hash mismatch) plus a deflate-envelope boolean
    * pinning the zlib output per document: ratio in (0, 1 + (16 + 5·⌊n/64K⌋)/n]
    * — the exact stored-block worst case (2-byte header + 4-byte adler +
    * 5 bytes per ≤64K block, padded to 16 for the fixed-Huffman edge) —
    * so a wrong deflate loop cannot hide in an aggregate. The raw ratio
    * itself is not SQL-computable; it stays on [[compressionRatio]]
    * (exercised by `q_compress_report`'s corpus anchor and TextSpec).
    */
  def compressionChecked(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    deflated(documents)
      .map { case (id, nChars, nBytes, ratio) =>
        val bound = 1.0 + (16.0 + 5.0 * (nBytes / 65536)) / math.max(nBytes, 1L)
        (id, nChars, nBytes, ratio > 0.0 && ratio <= bound)
      }
      .toDF("doc_id", "n_chars", "n_bytes", "ratio_in_range")
      .orderBy("doc_id")
  }

  /** Generated oracle for [[compressionChecked]] — lengths recomputed from
    * the raw text, envelope boolean pinned TRUE (the exact-bound report
    * pattern). DuckDB `length` = code points, `strlen` = UTF-8 bytes.
    */
  def compressionCheckedOracleSql: String =
    """SELECT doc_id,
      |       CAST(COALESCE(length(text), 0) AS BIGINT) AS n_chars,
      |       CAST(COALESCE(strlen(text), 0) AS BIGINT) AS n_bytes,
      |       TRUE AS ratio_in_range
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The oracle-anchored report over [[compressionRatio]] (the exact-bound
    * report pattern): the exact corpus byte total is a REAL cross-engine
    * anchor — the operator accumulates UTF-8 `raw.length` per document, the
    * oracle sums `octet_length(text)`, so a byte-accounting bug on either
    * side is a hash mismatch — and the booleans pin deflate sanity: every
    * ratio inside (0, 1 + 16/n_bytes] — the zlib envelope is ~11 fixed
    * bytes (2-byte header + 4-byte adler + stored-block framing), so an
    * incompressible SMALL doc legitimately lands above 1.0 by exactly that
    * overhead (measured: a 47-byte fixture doc at 1.128, inside 1+16/47)
    * while large docs tighten to ~1.0 — and the corpus mean inside
    * [0.3, 0.95]. Discrimination (repetitive text compresses harder) stays
    * in TextSpec — the fixture's intra-doc repetition is too mild for a
    * corpus-level correlation check to be meaningful (measured r = −0.05).
    */
  def compressionReport(documents: DataFrame): DataFrame =
    compressionRatio(documents).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_bytes")).as("n_bytes_total"),
      (sum(when(col("compress_ratio") <= 0.0 ||
        col("compress_ratio") > lit(1.0) + lit(16.0) / greatest(col("n_bytes"), lit(1L)),
        1L).otherwise(0L)) === 0).as("all_in_range"),
      avg(col("compress_ratio")).between(0.3, 0.95).as("mean_in_band"))

  /** Generated oracle for [[compressionReport]]. */
  def compressionReportOracleSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(COALESCE(strlen(text), 0)) AS BIGINT) AS n_bytes_total,
      |       TRUE AS all_in_range, TRUE AS mean_in_band
      |FROM documents""".stripMargin

  /** (N, top-K vocabulary) of a checkpointed `_toks` frame, shared by the
    * two surprisal operators. N = Σ size(_toks) over non-null `_toks` is
    * read from the checkpoint itself (the in-plan total [[heavyHitters]]
    * builds), so the token-count aggregate feeds ONE driver action: the
    * `vocabSize` most frequent tokens, ties by token. A token-less corpus
    * (N = 0) runs no vocabulary job and scores nothing.
    */
  private def tokenVocab(base: DataFrame, vocabSize: Int): (Double, Map[String, Long]) = {
    val totalRow = base.filter(col("_toks").isNotNull)
      .agg(sum(size(col("_toks")))).head()
    // sum over no rows is null; a corpus of empty token arrays sums to 0
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    if (total == 0L) (0.0, Map.empty)
    else (total.toDouble,
      base.select(explode(col("_toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(vocabSize)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  /** Unigram surprisal scoring (the CCNet-style quality signal): each
    * document's mean −ln p(token) under the corpus unigram distribution,
    * with the vocabulary capped at the `vocabSize` most frequent tokens
    * and out-of-vocabulary tokens floored at count 1 (≈ add-one
    * smoothing). Low surprisal ≈ commonplace text; high ≈ rare/garbled —
    * a standard filtering axis next to [[qualityScore]].
    *
    * Scale shape: one groupBy builds the token counts, the top-K
    * vocabulary is an explicitly BOUNDED driver materialization (the same
    * capped-driver-work contract as `maxDriverKeys` — CCNet ships exactly
    * such a truncated table), and scoring is then ONE narrow typed pass
    * with the broadcast vocabulary: no token-level join against a
    * zipf-skewed key, which is what a naive formulation would shuffle on.
    *
    * Determinism: per-token surprisal is rounded to 9 decimals and summed
    * as exact decimals (order-independent), the mean rounded to 6 — the
    * oracle mirrors each step.
    */
  def unigramSurprisal(documents: DataFrame, vocabSize: Int = 500): DataFrame = {
    require(vocabSize > 0)
    val spark = documents.sparkSession
    import spark.implicits._
    // ONE corpus tokenize, materialized: the total, the vocab-count job and
    // the scoring pass all read `_toks` (same discipline as [[bigramSurprisal]])
    val base = Checkpoints(documents
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit(wordRe), lit(0)).as("_toks")))
    val (total, vocab) = tokenVocab(base, vocabSize)
    if (total == 0.0)
      return Seq.empty[(Long, Double, Long)].toDF("doc_id", "mean_surprisal", "n_tokens")
    val bc = spark.sparkContext.broadcast(vocab)
    base.select(col("doc_id"), col("_toks")).as[(Long, Seq[String])]
      .flatMap { case (id, tsSeq) =>
        val ts = if (tsSeq == null) Array.empty[String] else tsSeq.toArray
        if (ts.isEmpty) Iterator.empty
        else {
          var acc = BigDecimal(0)
          ts.foreach { tok =>
            val c = bc.value.getOrElse(tok, 1L)
            acc += BigDecimal(-math.log(c / total))
              .setScale(9, BigDecimal.RoundingMode.HALF_UP)
          }
          val mean = BigDecimal(acc.toDouble / ts.length)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          Iterator.single((id, mean, ts.length.toLong))
        }
      }
      .toDF("doc_id", "mean_surprisal", "n_tokens")
      .orderBy("doc_id")
  }

  /** Interpolated BIGRAM surprisal — the second-order sibling of
    * [[unigramSurprisal]]: each token's probability is
    * λ·c(prev,tok)/c(prev) + (1−λ)·c(tok)/N under a CLOSED top-K
    * vocabulary (bigrams are kept only when both tokens are in-vocab, so
    * the conditional can never exceed 1), with the document's first token
    * scored unigram-only. Low scores mark formulaic n-gram-predictable
    * text more sharply than the unigram axis.
    *
    * Scale shape mirrors the CCNet pattern twice over: one token-count
    * aggregate and one bigram-count aggregate (both map-side combined);
    * the top-K vocab and top-B bigram tables are bounded driver
    * materializations broadcast into ONE narrow typed scoring pass — no
    * token-level join against a zipf-skewed key anywhere.
    *
    * Determinism: per-token surprisal rounded to 9 decimals, exact-decimal
    * sum, mean rounded to 6; λ and 1−λ are evaluated as the same double
    * expressions on both engines ([[bigramSurprisalOracleSql]] is GENERATED
    * from the same constants — the minhash-oracle pattern).
    */
  def bigramSurprisal(documents: DataFrame, vocabSize: Int = 100,
                      bigramVocab: Int = 500, lambda: Double = 0.7): DataFrame = {
    require(vocabSize > 0 && bigramVocab > 0, "vocab sizes must be positive")
    require(lambda > 0.0 && lambda < 1.0, s"lambda must be in (0,1), got $lambda")
    val spark = documents.sparkSession
    import spark.implicits._
    // ONE corpus tokenize, materialized: the total, the unigram-count job,
    // the bigram-count job, and the scoring pass all read `_toks` from this
    // frame. Without it each construction job re-ran regexp_extract_all
    // over the full corpus (and scoring tokenized a third time Scala-side)
    // — the tokenize was the dominant cost, 3×.
    val base = Checkpoints(documents
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit(wordRe), lit(0)).as("_toks")))
    val (total, vocab) = tokenVocab(base, vocabSize)
    if (total == 0.0)
      return Seq.empty[(Long, Double, Long)].toDF("doc_id", "mean_surprisal", "n_tokens")
    val grams = filter(
      transform(col("_toks"), (_, i) => when(i <= size(col("_toks")) - 2,
        concat_ws(" ", element_at(col("_toks"), i + 1), element_at(col("_toks"), i + 2)))),
      c => c.isNotNull)
    val vocabKeys = vocab.keySet.toSeq
    val bigMap = base.select(explode(grams).as("bg"))
      .withColumn("_w1", substring_index(col("bg"), " ", 1))
      .withColumn("_w2", substring_index(col("bg"), " ", -1))
      .filter(col("_w1").isin(vocabKeys: _*) && col("_w2").isin(vocabKeys: _*))
      .groupBy("bg").agg(count(lit(1)).as("cb"))
      .orderBy(col("cb").desc, col("bg")).limit(bigramVocab)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bcU = spark.sparkContext.broadcast(vocab)
    val bcB = spark.sparkContext.broadcast(bigMap)
    val lam = lambda
    val n = total
    // scoring reads the SAME `_toks` the counts were built from — no
    // third tokenize, and no Spark-regex-vs-Scala-regex consistency hazard
    base.select(col("doc_id"), col("_toks")).as[(Long, Seq[String])]
      .flatMap { case (id, tsSeq) =>
        val ts = if (tsSeq == null) Array.empty[String] else tsSeq.toArray
        if (ts.isEmpty) Iterator.empty
        else {
          var acc = BigDecimal(0)
          var i = 0
          while (i < ts.length) {
            val cu = bcU.value.getOrElse(ts(i), 1L).toDouble
            val p =
              if (i == 0) cu / n
              else {
                val cprev = bcU.value.getOrElse(ts(i - 1), 1L).toDouble
                val cb = bcB.value.getOrElse(ts(i - 1) + " " + ts(i), 0L).toDouble
                lam * cb / cprev + (1.0 - lam) * cu / n
              }
            acc += BigDecimal(-math.log(p)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
            i += 1
          }
          val mean = BigDecimal(acc.toDouble / ts.length)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          Iterator.single((id, mean, ts.length.toLong))
        }
      }
      .toDF("doc_id", "mean_surprisal", "n_tokens")
      .orderBy("doc_id")
  }

  /** The DuckDB restatement of [[bigramSurprisal]], generated from the same
    * constants so operator and oracle cannot drift.
    */
  def bigramSurprisalOracleSql(vocabSize: Int = 100, bigramVocab: Int = 500,
                               lambda: Double = 0.7): String =
    s"""WITH tt AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
       toks AS (SELECT doc_id, unnest(t) AS tok FROM tt),
       cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
       tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM cnt),
       vocab AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT $vocabSize),
       bgall AS (SELECT t[i-1] AS w1, t[i] AS w2
                 FROM tt, LATERAL unnest(generate_series(2, len(t))) AS g(i)
                 WHERE len(t) >= 2),
       big AS (SELECT w1 || ' ' || w2 AS bg, COUNT(*) AS cb
               FROM bgall JOIN vocab v1 ON w1 = v1.tok JOIN vocab v2 ON w2 = v2.tok
               GROUP BY 1 ORDER BY cb DESC, bg LIMIT $bigramVocab),
       pos AS (SELECT doc_id, i, t[i] AS tok, CASE WHEN i > 1 THEN t[i-1] END AS prev
               FROM tt, LATERAL unnest(generate_series(1, len(t))) AS g(i)),
       p AS (SELECT pos.doc_id,
               CASE WHEN prev IS NULL THEN COALESCE(v2.c, 1) / n
                    ELSE $lambda * COALESCE(b.cb, 0) / COALESCE(v1.c, 1)
                         + (1.0 - $lambda) * COALESCE(v2.c, 1) / n
               END AS prob
             FROM pos
             LEFT JOIN vocab v2 ON pos.tok = v2.tok
             LEFT JOIN vocab v1 ON pos.prev = v1.tok
             LEFT JOIN big b ON pos.prev || ' ' || pos.tok = b.bg
             CROSS JOIN tot),
       sc AS (SELECT doc_id, CAST(round(-ln(prob), 9) AS DECIMAL(18,9)) AS s FROM p)
       SELECT doc_id, round(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS mean_surprisal,
              COUNT(*) AS n_tokens
       FROM sc GROUP BY doc_id ORDER BY doc_id"""

  /** Per-source top-k tokens — the stratified vocabulary audit next to the
    * global [[topNgrams]]. Explode → per-(source, token) count (map-side
    * combined) → [[graft.plans.TopK.perGroup]]: the custom bounded-heap
    * operator replaces the row_number window, so no per-source sort of the
    * full vocabulary ever runs and the final shuffle carries k rows per
    * source per split.
    */
  def topTokensPerSource(documents: DataFrame, k: Int = 5): DataFrame = {
    val counts = documents
      .withColumn("_toks", regexp_extract_all(lower(col("text")), lit(wordRe), lit(0)))
      .select(col("source"), explode(col("_toks")).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("n"))
    graft.plans.TopK.perGroup(counts, Seq("source"),
        Seq(("n", false), ("token", true)), k)
      .orderBy("source", "rn")
  }

  /** Winnowing fingerprints (the MOSS algorithm): hash every word k-gram,
    * slide a window of w hashes, keep each window's minimum — guarantees
    * any shared substring of length >= w+k-1 grams yields a shared
    * fingerprint, with ~2/(w+1) selection density. The fingerprint set is
    * what plagiarism/near-dup index pipelines store per document.
    *
    * Implemented as a typed flatMap with a monotonic-deque sliding minimum
    * (O(grams) per document) — the per-row-imperative carve-out from
    * SURVEY.md's preference order: the HOF formulation
    * (`transform(sequence, i -> array_min(slice(...)))`) evaluates ~|doc|·w
    * interpreted lambda steps per row and measured ~15× slower. Still one
    * narrow pass, no shuffle, at any corpus size.
    */
  def winnowing(documents: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val tokenRe = "[a-z0-9]+".r
    documents.select(col("doc_id"), lower(col("text")).as("t")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = if (text == null) Array.empty[String] else tokenRe.findAllIn(text).toArray
        if (toks.length < k + w - 1) Iterator.empty
        else {
          // md5-derived 48-bit gram hash — identical to gramHash48, so the
          // whole winnowing output is DuckDB-oracle-checkable
          val md = java.security.MessageDigest.getInstance("MD5")
          val grams = Array.tabulate(toks.length - k + 1) { i =>
            gramHash48Local(md, toks.slice(i, i + k).mkString(" "))
          }
          val out = scala.collection.mutable.LinkedHashSet.empty[Long]
          val deque = new java.util.ArrayDeque[Int]()
          var i = 0
          while (i < grams.length) {
            while (!deque.isEmpty && grams(deque.peekLast()) >= grams(i)) deque.pollLast()
            deque.addLast(i)
            if (deque.peekFirst() <= i - w) deque.pollFirst()
            if (i >= w - 1) out += grams(deque.peekFirst())
            i += 1
          }
          out.iterator.map(fp => (id, fp))
        }
      }
      .toDF("doc_id", "fingerprint")
      // input-derived sort width (round-11, from the round-10 sf10x
      // attribution): the final global sort was the operator's ONLY
      // shuffle and it spilled 13× at 100× data through the fixed
      // session width; fingerprint volume is proportional to corpus
      // bytes, so the range exchange widens with the input
      // (repartitionByRange + in-partition sort ≡ orderBy — same
      // physical shape, explicit width; (doc_id, fingerprint) rows are
      // distinct, so the total order is unique either way). 256 KB/task
      // of plan-stats bytes: the stats see compressed pruned text while
      // the sort carries ~2/(w+1) fingerprints per TOKEN — roughly an
      // order of magnitude expansion, and this ratio reproduces the
      // measured de-spill width (256 at the 100× corpus)
      .repartitionByRange(Helpers.shuffleWidthFor(documents, bytesPerPart = 256L << 10),
        col("doc_id"), col("fingerprint"))
      .sortWithinPartitions("doc_id", "fingerprint")
  }

  /** Document chunking for training: split each document into token windows
    * of `chunkTokens` with `overlap` tokens of context carry-over — the
    * standard pre-tokenization windowing before sequence packing. One
    * row-local typed pass, a handful of windows per doc, no shuffle at any
    * corpus size.
    */
  def chunkDocuments(documents: DataFrame, chunkTokens: Int = 32, overlap: Int = 8,
                     sorted: Boolean = true): DataFrame = {
    require(overlap < chunkTokens)
    val spark = documents.sparkSession
    import spark.implicits._
    val stride = chunkTokens - overlap
    val tokenRe = wordRe.r
    // typed row-local windowing (same trade as the shinglers): the HOF
    // formulation (transform + slice per chunk) pays interpreted-lambda
    // cost per window — measured 2× slower for row-identical output
    val out = documents.select(col("doc_id"), lower(col("text")).as("t")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = if (text == null) Array.empty[String] else tokenRe.findAllIn(text).toArray
        if (toks.isEmpty) Iterator.empty
        else {
          val nChunks = math.max(math.ceil((toks.length - chunkTokens) / stride.toDouble), 0).toInt + 1
          Iterator.tabulate(nChunks) { i =>
            val chunk = toks.slice(i * stride, i * stride + chunkTokens)
            (id, i.toLong, chunk.mkString(" "), chunk.length.toLong)
          }
        }
      }.toDF("doc_id", "chunk_idx", "chunk_text", "n_tokens")
    if (sorted) out.orderBy("doc_id", "chunk_idx") else out
  }

  /** Duplicated-passage statistics (the C4/RefinedWeb-style sub-document
    * dedup axis): window each document into non-overlapping token chunks
    * ([[chunkDocuments]] with overlap 0), hash each chunk, and report per
    * document how many of its passages also appear in OTHER documents
    * (document frequency ≥ 2 on the chunk hash — a doc repeating its own
    * passage is repetition, not cross-corpus duplication). High
    * dup_fraction marks template/boilerplate documents whose pairwise
    * Jaccard may still sit below the near-dup threshold.
    *
    * Scale shape: the shuffle carries (xxhash64, doc_id) pairs — 8-byte
    * hashes, never passage text — through one distinct-count aggregate and
    * one join back; everything else is row-local. The chunk+hash pass is
    * materialized because BOTH sides of the docfreq join read it (the same
    * one-pass contract as jaccardPairs' shingle table).
    */
  def duplicatePassageStats(documents: DataFrame, chunkTokens: Int = 32): DataFrame = {
    val hashed = Checkpoints(chunkDocuments(documents, chunkTokens, overlap = 0, sorted = false)
      .select(col("doc_id"), xxhash64(col("chunk_text")).as("h")))
    val df = hashed.groupBy("h")
      .agg(countDistinct("doc_id").as("docfreq"))
    hashed.join(df, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("docfreq") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 6).as("dup_fraction"))
      .orderBy("doc_id")
  }

  /** In-document repeated-unit REMOVAL — the remediation step behind the
    * Gopher repetition signals ([[repetitionSignals]] measures, this
    * fixes): within each document, keep the FIRST occurrence of every
    * distinct line (or paragraph, via `sep`) and drop the repeats,
    * re-joining the survivors in order. The within-document counterpart
    * of the cross-document [[Dedup.dedupLines]]: that operator removes a
    * line because some OTHER document said it first; this one removes a
    * line because the SAME document already said it (navigation chrome,
    * boilerplate footers, generation loops).
    *
    * One row-local typed pass (order-preserving first-occurrence set per
    * document), no shuffle at any corpus size; split keeps empty
    * segments, so a run of blank lines collapses to one — exactly the
    * repetition the signals flag. Null text is treated as empty (total,
    * the [[repetitionSignals]] convention).
    */
  def dedupLinesWithinDoc(documents: DataFrame, sep: String = "\n"): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, raw) =>
        val text = if (raw == null) "" else raw
        val parts = text.split(java.util.regex.Pattern.quote(sep), -1)
        val seen = new java.util.LinkedHashSet[String]()
        parts.foreach(p => seen.add(p): Unit)
        val kept = new Array[String](seen.size)
        val it = seen.iterator()
        var i = 0
        while (it.hasNext) { kept(i) = it.next(); i += 1 }
        (id, kept.mkString(sep), (parts.length - kept.length).toLong)
      }
      .toDF("doc_id", "clean_text", "n_removed")
      .orderBy("doc_id")
  }

  /** Unicode text normalization — the canonicalization pass that belongs
    * BEFORE every hash in the library ([[fingerprints]], the dedup
    * shinglers, [[gramHash48]]): "é" as U+00E9 and as "e"+U+0301 are
    * different strings to a hash while being the same text to a reader.
    * Three regex/NFC-pinned steps, each replayable on DuckDB:
    *   1. NFC (UAX #15 canonical composition) via the native codegen
    *      [[graft.functions.TextExpressions.NfcNormalize]] — Spark has no
    *      builtin; DuckDB has `nfc_normalize`;
    *   2. strip C0 control characters except tab/newline, plus DEL —
    *      the ranges U+0000-U+0008, U+000B-U+001F and U+007F removed (CRLF collapses to
    *      LF because CR is in the range);
    *   3. collapse horizontal-whitespace runs `[ \t]+` to one space, then
    *      trim spaces at both ends.
    * Output keeps every document: `(doc_id, clean_text, n_chars_before,
    * n_chars_after, changed)`. Null text is treated as empty (total).
    *
    * Scale shape: one narrow codegen'd projection — no typed boundary, no
    * UDF, no shuffle; the NFC expression takes a no-allocation fast path
    * on already-normalized rows (at 100 TB nearly all of them), so the
    * pass costs roughly a scan.
    */
  def normalizeText(documents: DataFrame): DataFrame = {
    val raw = coalesce(col("text"), lit(""))
    val clean = trim(
      regexp_replace(
        regexp_replace(
          graft.functions.TextExpressions.nfc_normalize(raw),
          "[\\u0000-\\u0008\\u000B-\\u001F\\u007F]", ""),
        "[ \\t]+", " "))
    documents.select(
        col("doc_id"),
        clean.as("clean_text"),
        length(raw).cast("long").as("n_chars_before"),
        length(clean).cast("long").as("n_chars_after"),
        (clean =!= raw).as("changed"))
      .orderBy("doc_id")
  }

  /** Generated DuckDB oracle for [[normalizeText]] — the same three steps
    * over `nfc_normalize` and RE2 classes equivalent to the Java ones.
    */
  def normalizeTextOracleSql: String =
    """WITH c AS (
      |  SELECT doc_id, COALESCE(text, '') AS raw,
      |         trim(regexp_replace(regexp_replace(
      |           nfc_normalize(COALESCE(text, '')),
      |           '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
      |           '[ \t]+', ' ', 'g')) AS clean_text
      |  FROM documents)
      |SELECT doc_id, clean_text,
      |       CAST(length(raw) AS BIGINT) AS n_chars_before,
      |       CAST(length(clean_text) AS BIGINT) AS n_chars_after,
      |       (clean_text <> raw) AS changed
      |FROM c ORDER BY doc_id""".stripMargin

  /** C4-style boilerplate LINE cleanup (Raffel et al. 2020 §2.2 — the rule
    * set behind the C4 corpus, restated per-document): keep a line only if
    * it (a) ends in a terminal punctuation mark (`. ! ? "`), (b) carries at
    * least `minWords` whitespace-separated words, and (c) does not mention
    * "javascript"; drop the WHOLE page when its text contains "lorem ipsum"
    * or a curly brace (the C4 code-page heuristic), and mark a page as
    * dropped when fewer than `minKeptLines` lines survive (C4 counts
    * sentences; the line-unit restatement is documented here because the
    * fixture corpus is line-structured). The measurement/remediation
    * sibling of [[dedupLinesWithinDoc]]: that one removes repeats, this one
    * removes non-prose chrome.
    *
    * Output keeps EVERY document — `(doc_id, clean_text, n_lines, n_kept,
    * page_kept)` — so downstream can audit drop reasons instead of losing
    * the rows; a curation pipeline filters on `page_kept`.
    *
    * Scale shape: one row-local typed pass (split, trim, test, re-join —
    * the [[dedupLinesWithinDoc]] carve-out), no shuffle at any corpus
    * size; the final orderBy exists for the oracle only. The round-12
    * VERDICT asked for an A/B against the higher-order-function
    * formulation (split → transform → filter → array_join): under HONEST
    * forcing (a checksum aggregate over every output column — `PerfProbe
    * c4ab`, sf0.1, min-of-7) the typed map WINS 1.5× (0.338 s vs
    * 0.510 s): the per-line regex lambdas are interpreted per element
    * under the HOF evaluator and cost more than the Dataset encoder
    * round-trip they avoid. (A count()-forced A/B says the opposite —
    * 0.125 s vs 0.281 s — because Catalyst prunes the pure-projection HOF
    * plan to a bare scan while the typed map is opaque; that artifact
    * briefly shipped this operator as HOFs mid-round-13 before the
    * forcing bug was caught.) Trim/word-split semantics are pinned to the
    * EXPLICIT class `[ \t\n\f\r]` — exactly RE2's `\s` — because Java's
    * `\s` additionally matches U+000B, and Java's unanchored `$` matches
    * before a trailing U+0085/U+2028, either of which would silently
    * diverge the operator from the DuckDB replay on exotic whitespace
    * (the Java side uses `\z` where the oracle's RE2 `$` means
    * end-of-text). Null text is treated as empty (total).
    */
  def c4Clean(documents: DataFrame, minWords: Int = 5,
              minKeptLines: Int = 3): DataFrame = {
    require(minWords >= 1 && minKeptLines >= 1,
      s"need minWords >= 1 and minKeptLines >= 1, got $minWords/$minKeptLines")
    val spark = documents.sparkSession
    import spark.implicits._
    val terminal = "[.!?\"]\\z".r
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, raw) =>
        val text = if (raw == null) "" else raw
        val lines = text.split("\n", -1)
        val nLines = lines.length.toLong
        val lowerAll = text.toLowerCase
        if (lowerAll.contains("lorem ipsum") || lowerAll.contains("{"))
          (id, "", nLines, 0L, false)
        else {
          val kept = lines.iterator
            .map(_.replaceAll("^[ \\t\\n\\f\\r]+|[ \\t\\n\\f\\r]+\\z", ""))
            .filter { t =>
              terminal.findFirstIn(t).isDefined &&
                t.split("[ \\t\\n\\f\\r]+").length >= minWords &&
                !t.toLowerCase.contains("javascript")
            }
            .toArray
          (id, kept.mkString("\n"), nLines, kept.length.toLong,
            kept.length >= minKeptLines)
        }
      }
      .toDF("doc_id", "clean_text", "n_lines", "n_kept", "page_kept")
      .orderBy("doc_id")
  }

  /** Generated DuckDB oracle for [[c4Clean]]: the same regex-pinned trim,
    * word-split and terminal-punctuation tests replayed per line, the page
    * gates replayed per document.
    */
  def c4CleanOracleSql(minWords: Int = 5, minKeptLines: Int = 3): String =
    s"""WITH l AS (
       |  SELECT doc_id, lower(COALESCE(text, '')) AS lt,
       |         string_split(COALESCE(text, ''), chr(10)) AS ls
       |  FROM documents),
       |e AS (
       |  SELECT doc_id, u.pos AS pos,
       |         regexp_replace(u.line, '^\\s+|\\s+$$', '', 'g') AS line
       |  FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(ls)),
       |                i -> {'pos': i, 'line': ls[i]})) AS u
       |        FROM l)),
       |k AS (
       |  SELECT doc_id, pos, line,
       |         CASE WHEN regexp_matches(line, '[.!?"]$$')
       |               AND len(list_filter(regexp_split_to_array(line, '\\s+'),
       |                                   x -> x <> '')) >= $minWords
       |               AND NOT contains(lower(line), 'javascript')
       |              THEN 1 ELSE 0 END AS keep
       |  FROM e),
       |pg AS (
       |  SELECT doc_id,
       |         CASE WHEN contains(lt, 'lorem ipsum') OR contains(lt, '{')
       |              THEN 0 ELSE 1 END AS page_ok,
       |         CAST(len(ls) AS BIGINT) AS n_lines
       |  FROM l)
       |SELECT k.doc_id,
       |       CASE WHEN MAX(pg.page_ok) = 0 THEN ''
       |            ELSE COALESCE(string_agg(CASE WHEN keep = 1 THEN line END,
       |                                     chr(10) ORDER BY pos), '') END AS clean_text,
       |       MAX(pg.n_lines) AS n_lines,
       |       CAST(CASE WHEN MAX(pg.page_ok) = 0 THEN 0
       |                 ELSE SUM(keep) END AS BIGINT) AS n_kept,
       |       (MAX(pg.page_ok) = 1 AND SUM(keep) >= $minKeptLines) AS page_kept
       |FROM k JOIN pg ON k.doc_id = pg.doc_id
       |GROUP BY k.doc_id ORDER BY k.doc_id""".stripMargin

  /** Exact duplicated-run extraction (the Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" substring axis): the
    * MAXIMAL token spans of each document whose every k-token window also
    * appears in at least one OTHER document — the sub-document modality
    * between [[duplicatePassageStats]] (fixed non-overlapping chunks, a
    * statistic) and line/paragraph dedup (delimiter-bounded units): a
    * duplicated run of length L ≥ k is detected at ANY alignment, not just
    * on chunk or line boundaries. Where the paper builds a corpus suffix
    * array, the distributed formulation is: hash every OVERLAPPING k-gram
    * with its position, mark grams whose hash occurs in ≥ 2 distinct
    * documents (cross-document: a doc repeating itself is repetition, not
    * duplication — the [[duplicatePassageStats]] convention), and merge
    * each document's consecutive marked positions into maximal spans
    * (gaps-and-islands: `pos − row_number()` is constant exactly on a
    * consecutive run). A span [s, e] is reported when every window inside
    * it is shared somewhere, i.e. any substring of ≥ k tokens that exists
    * elsewhere is covered by exactly one maximal span per document.
    *
    * Output: (doc_id, start_tok, end_tok, n_tokens) in 1-based inclusive
    * token positions, spans below `minRunTokens` dropped.
    *
    * Scale shape: the shingling is one row-local typed pass (the
    * [[winnowing]] carve-out — a HOF gram builder pays k interpreted
    * lambda steps per gram); the shuffle carries (hash48, doc_id, pos)
    * triples — never text — through one combining distinct-count
    * aggregate and one hash semi-join back; the island window partitions
    * per document, so no global sort exists at any corpus size. The gram
    * pass is materialized because both sides of the shared-hash join read it
    * (the [[duplicatePassageStats]] one-pass contract). Hashes are
    * [[gramHash48]] (md5-derived), so the whole operator carries a full
    * DuckDB value oracle.
    */
  def duplicateRuns(documents: DataFrame, k: Int = 8,
                    minRunTokens: Int = 15): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(minRunTokens >= k, s"minRunTokens must be >= k=$k, got $minRunTokens")
    val spark = documents.sparkSession
    import spark.implicits._
    val tokenRe = "[a-z0-9]+".r
    val grams = Checkpoints(documents.select(col("doc_id"), lower(col("text")).as("t"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = if (text == null) Array.empty[String]
                   else tokenRe.findAllIn(text).toArray
        if (toks.length < k) Iterator.empty
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          Iterator.tabulate(toks.length - k + 1) { i =>
            (id, (i + 1).toLong, // 1-based gram position
              gramHash48Local(md, toks.slice(i, i + k).mkString(" ")))
          }
        }
      }
      .toDF("doc_id", "pos", "h"))
    val shared = grams.groupBy("h")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= 2)
      .select("h")
    val hits = grams.join(shared, Seq("h"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("_grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("_grp"))
      .agg(min("pos").as("start_tok"),
        (max("pos") + lit(k.toLong - 1)).as("end_tok"))
      .select(col("doc_id"), col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok") + 1L).as("n_tokens"))
      .filter(col("n_tokens") >= minRunTokens)
      .orderBy("doc_id", "start_tok")
  }

  /** Deterministic corpus mixture: downsample each source to its configured
    * rate using md5 hex buckets (16ths) of the id — the weighted-mixing
    * step that balances sources before training. Same determinism contract
    * as [[trainValSplit]]: reproducible and stable under growth.
    * `rates` maps source -> kept fraction in sixteenths (0..16); unlisted
    * sources keep everything.
    */
  /** The mixture keep-predicate, shared with [[graft.ops.Pipelines]]. */
  private[ops] def mixKeep(rates: Map[String, Int]): Column = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 1), 16, 10).cast("int")
    rates.foldLeft(lit(true)) { case (acc, (src, sixteenths)) =>
      when(col("source") === src, bucket < sixteenths).otherwise(acc)
    }
  }

  def corpusMix(documents: DataFrame, rates: Map[String, Int]): DataFrame =
    documents.filter(mixKeep(rates))
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
      .orderBy("source")

  /** Temperature-weighted mixture sampling (T=2): draw a deterministic
    * sample whose per-source allocation follows sqrt-damped data volume —
    * the standard multilingual/multi-source rebalancing step (up-weight
    * small sources, down-weight dominant ones) between the hard keep-rates
    * of [[corpusMix]] and a uniform [[perSourceSample]].
    *
    * Every step is INTEGER-exact so the result is engine-portable with no
    * float-boundary risk: per-source char volume is an exact long sum;
    * the damped weight is floor(sqrt(volume)) (IEEE sqrt is correctly
    * rounded — identical on both engines); the per-source quota is
    * integer `targetTotal·w DIV Σw`; and the within-source draw is the
    * md5 ranking of [[perSourceSample]]. Scale shape: the quota table is
    * one row per source (broadcast); the ranking window partitions by
    * source — no global sort, no driver state.
    */
  def temperatureMixture(documents: DataFrame, targetTotal: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(targetTotal > 0)
    val stats = documents.groupBy("source")
      .agg(sum(col("n_chars")).cast("long").as("_vol"))
      .withColumn("_w", floor(sqrt(col("_vol").cast("double"))).cast("long"))
    val wTotal = stats.agg(sum("_w").as("_wt"))
    val quotas = stats.crossJoin(broadcast(wTotal)) // 1-row side
      .select(col("source").as("_src"),
        expr(s"($targetTotal * _w) DIV _wt").as("_n_target"))
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    documents
      .select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .join(broadcast(quotas), col("source") === col("_src"))
      .filter(col("rn") <= col("_n_target"))
      .select("doc_id", "source", "rn")
      .orderBy("source", "rn")
  }

  /** [[prioritySample]] with the Duffield–Lund–Thorup WEIGHT ESTIMATOR —
    * the half that makes priority sampling more than a biased draw: with
    * τ the (n+1)-th priority threshold (expressed on the q = w/u scale,
    * τ_q = 2⁴⁸/p_{n+1}), each sampled item carries ŵ = max(w, τ_q), and
    * Σŵ over any subset of the sample is an UNBIASED estimator of that
    * subset's true total weight (Duffield–Lund–Thorup, JACM 2007) — the
    * property that lets a pipeline answer per-source volume questions
    * from the n-row sample instead of the corpus.
    *
    * Scale shape: the n+1 candidates come from TakeOrderedAndProject;
    * the ranking window then runs over THAT bounded frame only (n+1
    * rows — never the corpus), and τ joins back as a 1-row broadcast.
    * When the corpus has ≤ n documents every item is sampled with
    * certainty and ŵ = w (τ is null → coalesce 0).
    */
  def prioritySampleEstimated(documents: DataFrame, n: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1)
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10).cast("long")
    val base = documents
      .select(col("doc_id"), col("source"),
        greatest(col("n_chars").cast("long"), lit(1L)).as("w"))
      .withColumn("priority", u.cast("double") / col("w").cast("double"))
    val top = base.orderBy(col("priority"), col("doc_id")).limit(n + 1)
      // bounded single-partition window: n+1 rows by construction
      .withColumn("rn", row_number().over(
        Window.orderBy(col("priority"), col("doc_id"))).cast("long"))
    val tau = top.agg(max(when(col("rn") === (n + 1),
      lit(281474976710656.0) / col("priority"))).as("tau")) // 2^48 / p_(n+1)
    top.filter(col("rn") <= n)
      .crossJoin(broadcast(tau))
      .select(col("doc_id"), col("source"), col("w"),
        greatest(col("w").cast("double"), coalesce(col("tau"), lit(0.0))).as("est_w"))
      .orderBy("doc_id")
  }

  /** Top-p (nucleus) data selection per source: rank documents by weight
    * (here length — substitute any quality score) and keep the smallest
    * prefix whose cumulative weight reaches `p` of the source's total —
    * the data-selection analog of nucleus sampling: concentrates the
    * budget on the heaviest documents while the tail is dropped wholesale.
    *
    * All integer arithmetic: cumulative and total weights are long sums,
    * and the keep predicate `cum_w - w < p·total` (strict prefix BEFORE
    * crossing, plus the crossing row) multiplies once in double on
    * integer-exact operands — engine-portable with no rounding knife-edge
    * beyond the documented p·total tie (measure-zero for non-decimal p).
    * Scale shape: one window per source (cumsum) + a per-source total via
    * the same partition — no global sort, no driver state.
    */
  def nucleusSelect(documents: DataFrame, p: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(p > 0 && p <= 1)
    val w = greatest(col("n_chars").cast("long"), lit(1L))
    val order = Window.partitionBy("source")
      .orderBy(col("w").desc, col("doc_id"))
    val all = Window.partitionBy("source")
    documents
      .select(col("doc_id"), col("source"), w.as("w"))
      .withColumn("cum_w", sum("w").over(
        order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total_w", sum("w").over(all))
      // keep rows whose PREDECESSOR cumulative is still under the budget:
      // the crossing row is included, everything after it is not
      .filter((col("cum_w") - col("w")).cast("double") <
        lit(p) * col("total_w").cast("double"))
      .select(col("doc_id"), col("source"), col("w"), col("cum_w"))
      .orderBy("source", "cum_w", "doc_id")
  }

  /** Corpus snapshot diff: the added / removed / changed report between
    * two corpus versions, keyed by doc_id with sha-256 content digests —
    * what an incremental pipeline inspects before reprocessing (the
    * read-side sibling of [[Dedup.incrementalDedup]]). Full outer join on
    * the id; the shuffle carries 32-byte digests, never document bodies.
    * Unchanged documents are omitted (the report is the DELTA — at 100 TB
    * the unchanged mass is the overwhelming majority and never leaves the
    * join).
    */
  def snapshotDiff(oldCorpus: DataFrame, newCorpus: DataFrame): DataFrame = {
    val o = oldCorpus.select(col("doc_id").as("old_id"),
      sha2(col("text"), 256).as("old_digest"))
    val n = newCorpus.select(col("doc_id").as("new_id"),
      sha2(col("text"), 256).as("new_digest"))
    o.join(n, col("old_id") === col("new_id"), "full")
      .select(
        coalesce(col("old_id"), col("new_id")).as("doc_id"),
        when(col("old_id").isNull, lit("added"))
          .when(col("new_id").isNull, lit("removed"))
          .when(col("old_digest") =!= col("new_digest"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .filter(col("status") =!= "unchanged")
      .orderBy("doc_id", "status")
  }

  /** Deterministic train/validation split: bucket by the first md5 hex
    * digit of the id — pseudorandom, reproducible, engine-portable (md5 is
    * identical everywhere), and stable under corpus growth (a document's
    * split never changes when others are added — the property a random()
    * split lacks).
    */
  /** The split-assignment column, shared with [[graft.ops.Pipelines]] and
    * the cluster-keyed leakage-safe variant ([[Dedup.clusterSafeSplit]]
    * passes the cluster root instead of the document id). */
  private[ops] def splitExprOn(key: Column, valHexDigits: String): Column =
    when(substring(md5(key.cast("string")), 1, 1).isin(valHexDigits.map(_.toString): _*),
      lit("val")).otherwise(lit("train"))

  private[ops] def splitExpr(valHexDigits: String): Column =
    splitExprOn(col("doc_id"), valHexDigits)

  def trainValSplit(documents: DataFrame, valHexDigits: String = "01234"): DataFrame =
    documents.select(col("doc_id"), splitExpr(valHexDigits).as("split"))
      .orderBy("doc_id")

  /** Token-budget corpus selection: keep the highest-quality documents
    * (type-token ratio, ties by doc_id) whose running token total stays
    * within `budgetTokens` — the "best N tokens" data-selection step that
    * sizes a training mix to a compute budget.
    *
    * Scale shape — the naive form is a GLOBAL cumulative window (one task
    * sorts the corpus); this is the two-pass threshold form instead:
    * pass 1 aggregates token totals into ≤101 coarse score buckets (the
    * score is a round(·,6) ratio in [0,1]; `floor(score·100)` is
    * monotonic, so buckets are contiguous score ranges) and a bounded
    * driver-side prefix scan finds the BOUNDARY bucket; pass 2 keeps the
    * better buckets wholesale and runs the exact cumulative window over
    * the one boundary bucket only — the global sort never happens, and
    * the single-partition window touches ~1/100th of the corpus, not all
    * of it. Result-identical to the naive window (the oracle replays the
    * naive form; equality also spec-asserted).
    */
  def budgetSelect(documents: DataFrame, budgetTokens: Long,
                   minWindowRows: Long = 4096L,
                   maxWindowFraction: Double = 0.1): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens must be >= 0, got $budgetTokens")
    require(minWindowRows >= 1 && maxWindowFraction > 0)
    val toks = regexp_extract_all(lower(col("text")), lit(wordRe), lit(0))
    // coalesce makes the operator TOTAL on null text (round-10 review: a
    // null `_b` bucket NPE'd the driver collect): a null-text doc scores
    // as worst quality (sentinel score -1.0, sorted last) and costs 0
    // tokens — and the fixtures are non-null, so registered results are
    // byte-identical
    val ttr = coalesce(qualityRatios.typeTokenRatio, lit(-1.0))
      .as("type_token_ratio")
    val base = Checkpoints(documents.select(col("doc_id"), ttr,
        coalesce(size(toks).cast("long"), lit(0L)).as("n_tokens")))
    // Bounded driver-side bucket prefix (≤ ~102 rows per level — the
    // maxDriverKeys discipline): best-first, whole buckets while they fit,
    // then at most one boundary bucket. The boundary bucket normally holds
    // ~1/100 of the corpus and gets the exact cumulative window directly;
    // on a score-DEGENERATE corpus (post-dedup boilerplate where most docs
    // share one TTR) that single bucket IS the corpus and the window would
    // collapse to the naive single-task global sort this operator exists
    // to avoid (round-10 review). So the boundary descends through finer
    // buckets until it is window-small: score hundredths → score
    // ten-thousandths → the EXACT score value (each step ≤ ~102 groups
    // inside one parent bucket, because scores are round(·,6) ratios) —
    // and once the boundary is a single exact score, order within it is
    // doc_id alone, so contiguous doc_id RANGES (span/100 per step) keep
    // subdividing it; doc_id is unique, so each range step shrinks the
    // span ≥100× and the loop terminates. Every step is one ≤ ~102-row
    // driver aggregate; the exact window finally runs over the small
    // terminal bucket only, offset by the tokens of everything kept
    // wholesale above it.
    val scoreLevels: List[Column] = List(
      floor(col("type_token_ratio") * 100).cast("long"),
      floor(col("type_token_ratio") * 10000).cast("long"),
      col("type_token_ratio"))
    // prefix-scan one level's collected (key, tokens, rows) stats:
    // returns (kept keys, boundary key with its offset and row count)
    def prefix(stats: Seq[(Any, Long, Long)], startOffset: Long)
        : (Seq[Any], Option[(Any, Long, Long)]) =
      stats.foldLeft((List.empty[Any], Option.empty[(Any, Long, Long)], startOffset)) {
        case ((ks, None, cum), (k, bt, rows)) =>
          if (cum + bt <= budgetTokens) (k :: ks, None, cum + bt)
          else (ks, Some((k, cum, rows)), cum)
        case (acc, _) => acc // past the boundary: dropped wholesale
      } match { case (ks, b, _) => (ks, b) }
    def levelStats(scope: Column, key: Column, asc: Boolean): Seq[(Any, Long, Long)] = {
      val rows = base.filter(scope).groupBy(key.as("_k"))
        .agg(sum("n_tokens").as("_bt"), count(lit(1)).as("_cnt"))
        .collect()
        .map(r => (r.get(0), if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2)))
      // score keys order best-first (desc); doc_id-range keys order asc
      // (within one exact score the cumulative order is doc_id alone)
      val byKey = rows.sortBy(_._1.asInstanceOf[Number].doubleValue())
      if (asc) byKey.toSeq else byKey.reverse.toSeq
    }
    var keptPreds = List.empty[Column]
    var scope: Column = lit(true)
    var offset = 0L
    var boundary = Option.empty[(Long, Long)] // (offset, rows) of current boundary
    var totalRows = 0L
    var level = 0
    var docLevels = 0
    var done = false
    while (!done) {
      val (key, asc) =
        if (level < scoreLevels.length) (scoreLevels(level), false)
        else {
          // doc_id-range level: only reached once the boundary is a single
          // exact score; one bounded 1-row min/max job sizes the ranges
          val mm = base.filter(scope).agg(min("doc_id"), max("doc_id")).head()
          val lo = mm.getLong(0)
          val width = (mm.getLong(1) - lo) / 100L + 1L
          docLevels += 1
          // long cast truncates the (monotonic) double quotient, so range
          // buckets stay contiguous in doc_id even when the division
          // rounds — assignment only needs monotonicity, not exactness
          (((col("doc_id") - lit(lo)) / lit(width)).cast("long"), true)
        }
      val stats = levelStats(scope, key, asc)
      if (level == 0) totalRows = stats.map(_._3).sum
      val (keptKeys, bnd) = prefix(stats, offset)
      if (keptKeys.nonEmpty) keptPreds ::= scope && key.isin(keptKeys: _*)
      bnd match {
        case None => boundary = None; done = true // everything fits
        case Some((bk, off, rows)) =>
          scope = scope && key === lit(bk)
          offset = off
          boundary = Some((off, rows))
          // window-small, or the hard depth backstop (doc_id uniqueness
          // caps useful range levels at log100(id span) ≤ 7 for 48-bit
          // ids; past it the remaining bucket is as small as ranges make
          // it and the window is still exact, just wider than the target)
          if (rows <= math.max(minWindowRows, (maxWindowFraction * totalRows).toLong)
              || docLevels >= 8) done = true
          else level += 1
      }
    }
    val full = keptPreds match {
      case Nil => base.filter(lit(false))
      case ps => base.filter(ps.reduce(_ || _)) // disjoint ≡ union, one scan
    }
    val out = boundary match {
      case Some((off, _)) =>
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("type_token_ratio").desc, col("doc_id"))
        val bounded = base.filter(scope)
          .withColumn("_cum", sum("n_tokens").over(w) + lit(off))
          .filter(col("_cum") <= budgetTokens)
          .drop("_cum")
        full.unionByName(bounded)
      case None => full
    }
    out.select(col("doc_id"), col("type_token_ratio"), col("n_tokens"))
      .orderBy(col("type_token_ratio").desc, col("doc_id"))
  }

  /** Contiguous sequence packing: assign documents to fixed-token-budget
    * packs, per source in doc_id order — the pre-training step that turns a
    * ragged corpus into near-constant-length training sequences. A document
    * lands in the pack where its running token total starts
    * (pack_id = prior-cumulative-tokens DIV budget): deterministic,
    * engine-portable, and windowed PER SOURCE so no global single-task
    * scan exists (the same partitioning discipline as
    * [[graft.ops.Windows.priceQuartiles]]). Greedy first-fit would pack
    * ~1-2% tighter but needs stateful per-partition iteration; contiguous
    * packing is the standard scalable compromise.
    */
  def packSequences(documents: DataFrame, budgetTokens: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetTokens > 0)
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select(col("doc_id"), col("source"),
        size(regexp_extract_all(col("text"), lit(wordRe), lit(0))).cast("long").as("n_tokens"))
      .withColumn("_cum", sum("n_tokens").over(w))
      // DIV: integer-exact at any corpus size (no double rounding)
      .withColumn("pack_id", expr(s"(_cum - n_tokens) DIV $budgetTokens"))
      .drop("_cum")
      .orderBy("doc_id")
  }

  /** Domain-level curation: per-source frequency caps + blocklist — the
    * "no domain dominates the mix" guard a web-corpus pipeline applies
    * before mixing (C4 caps pages per domain; here `source` is the domain
    * axis the fixtures carry). Blocked sources drop entirely; capped
    * sources keep their `cap` deterministically-ranked documents (the
    * md5-rank draw of [[perSourceSample]] — reproducible and unbiased;
    * unlike the hash-BUCKET rules, a rank-based cap is only boundary-
    * stable under growth: a new document can displace exactly the
    * current rank-`cap` holder, never reshuffle the whole set); unlisted
    * sources pass through whole. Output: survivors with their in-source
    * rank.
    *
    * Scale shape: the blocklist is a pushable codegen'd predicate on the
    * scan; the ranking window partitions by source, so each domain ranks
    * in its own task — no global sort; `caps` is driver-side config
    * (bounded, like every rule threshold), never a shuffled table.
    */
  def capSources(documents: DataFrame, caps: Map[String, Int],
                 blocked: Seq[String] = Nil): DataFrame = {
    require(caps.values.forall(_ >= 0), s"caps must be >= 0: $caps")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val capOf = caps.foldLeft(lit(Long.MaxValue)) { case (acc, (src, c)) =>
      when(col("source") === src, lit(c.toLong)).otherwise(acc)
    }
    val base = if (blocked.isEmpty) documents
               else documents.filter(!col("source").isin(blocked: _*))
    base
      .select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= capOf)
      .orderBy("source", "rn")
  }

  /** Deterministic per-source subsample: keep the k docs per source with
    * the smallest md5(doc_id) — an unbiased, reproducible, growth-stable
    * "random" k-per-stratum sample (same md5-bucket determinism contract
    * as [[trainValSplit]]). The window partitions by source, so each
    * stratum ranks in its own task.
    */
  def perSourceSample(documents: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    documents
      .select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .orderBy("source", "rn")
  }

  /** Weighted corpus sample via deterministic PRIORITY SAMPLING
    * (Duffield–Lund–Thorup, "Priority sampling for estimation of arbitrary
    * subset sums", JACM 2007): each document draws priority
    * u/w — u a 48-bit md5-derived uniform ([[gramHash48]] family), w its
    * weight (here `n_chars`, i.e. sample ∝ length) — and the n smallest
    * priorities win. Inclusion probability is ≈ min(1, w/τ) with τ the
    * (n+1)-th priority, so heavy documents are favored exactly as
    * weight-proportional sampling wants, yet the draw is reproducible,
    * engine-portable, and growth-stable (a doc's priority never changes
    * when the corpus grows — same contract as [[trainValSplit]]).
    *
    * Everything is integer hashing plus ONE double division (IEEE
    * correctly-rounded on every engine — the reason this uses u/w order
    * rather than the Efraimidis–Spirakis u^(1/w) key, whose pow/log are
    * not bit-portable across runtimes). Plan: narrow projection →
    * TakeOrderedAndProject(n) — no global sort, no shuffle beyond the
    * top-n reduction.
    */
  def prioritySample(documents: DataFrame, n: Int = 100): DataFrame = {
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10).cast("long")
    documents
      .select(col("doc_id"), col("source"),
        greatest(col("n_chars").cast("long"), lit(1L)).as("w"))
      .withColumn("priority", u.cast("double") / col("w").cast("double"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(n)
  }

  /** Distributed closed-form least squares: per-group simple linear
    * regression from one aggregation pass — slope, intercept, r² via the
    * normal equations over exact-decimal sums (Sx, Sy, Sxy, Sxx, Syy).
    * The model-calibration primitive a curation pipeline runs to answer
    * "does X predict quality signal Y per source?" without ever leaving
    * the engine: the fit is algebraic (partial-aggregable map-side), so at
    * 100 TB it costs exactly one hash aggregate — no iteration, no driver
    * math, no sampling.
    *
    * Portability contract (the [[graft.ops.Helpers.dsum]] discipline): x
    * must be integral-valued and y fixed-decimal (≤ 6 places) so every sum
    * is exact in DECIMAL; the slope/intercept/r² divisions then run in
    * double over identical operands on any engine. Degenerate groups
    * (constant x or constant y) yield null slope/r² rather than ±Inf.
    */
  def linearFit(data: DataFrame, x: Column, y: Column, group: Column): DataFrame = {
    val fitted = data
      .select(group.as("grp"), x.cast("double").as("_x"), y.cast("double").as("_y"))
      .groupBy("grp")
      .agg(
        count(lit(1)).cast("double").as("_n"),
        Helpers.dsum(col("_x"), 6).as("_sx"),
        Helpers.dsum(col("_y"), 6).as("_sy"),
        Helpers.dsum(col("_x") * col("_y"), 6).as("_sxy"),
        Helpers.dsum(col("_x") * col("_x"), 6).as("_sxx"),
        Helpers.dsum(col("_y") * col("_y"), 12).as("_syy"))
      .withColumn("_dx", col("_n") * col("_sxx") - col("_sx") * col("_sx"))
      .withColumn("_dy", col("_n") * col("_syy") - col("_sy") * col("_sy"))
      .withColumn("_cov", col("_n") * col("_sxy") - col("_sx") * col("_sy"))
    fitted
      .select(col("grp"),
        col("_n").cast("long").as("n_docs"),
        when(col("_dx") =!= 0.0, col("_cov") / col("_dx")).as("slope"),
        when(col("_dx") =!= 0.0,
          (col("_sy") - (col("_cov") / col("_dx")) * col("_sx")) / col("_n")).as("intercept"),
        when(col("_dx") =!= 0.0 && col("_dy") =!= 0.0,
          (col("_cov") * col("_cov")) / (col("_dx") * col("_dy"))).as("r2"))
      .orderBy("grp")
  }

  /** TRAINED quality classifier: fixed-iteration distributed gradient
    * descent that distills the [[gopherKeep]] rule gate into a smooth
    * per-document score over the graded quality features — the standard
    * curation pattern (fastText/CCNet-style: train a cheap classifier on
    * weak rule labels, gate on its calibrated score) next to the
    * closed-form [[linearFit]]. Features: mean word length
    * ([[gopherSignals]]), stopword ratio and type-token ratio
    * ([[qualityRatios]]) — all round(·,6) per-row columns; label: the
    * Gopher keep boolean.
    *
    * The activation is the SOFTSIGN sigmoid σ(z) = 0.5 + 0.5·z/(1+|z|) —
    * a genuine squashing nonlinearity built ONLY from add/mul/div/abs,
    * every one an IEEE-correctly-rounded operation both engines execute
    * bit-identically. (Logistic exp() is not ulp-portable across
    * runtimes; softsign keeps the whole training loop inside the exact
    * replay discipline.) Each iteration computes the full-batch gradient
    * g_j = Σ (σ(w·x)−y)·x_j as ONE algebraic aggregate with
    * DECIMAL(28,18)-cast per-row terms (order-independent, the
    * [[Helpers.dsum]] / [[graft.ops.Graph.pageRank]] contract), then
    * updates w ← w − lr·g/n in double over identical operands — no
    * driver math, no sampling: the weights live in a 1-row broadcast
    * frame, so the whole fit is ONE lazy plan.
    *
    * Scale shape: the feature frame is localCheckpointed once (it feeds
    * every iteration's aggregate and the final scoring) and each
    * iteration is one map-side-combining aggregate over it — at 100 TB
    * the fit costs `iters` scans of a 5-column frame, nothing shuffles
    * but 5 partial sums per task, and the broadcast weight row is bytes.
    * Output: (doc_id, label, score, pred), score = round(σ,6), pred
    * thresholded at 0.5 on the ROUNDED score so both engines threshold
    * the identical value.
    */
  def qualityClassifier(documents: DataFrame, iters: Int = 4,
                        lr: Double = 0.5): DataFrame = {
    require(iters >= 1 && lr > 0, s"need iters >= 1 and lr > 0, got $iters/$lr")
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(28, 18)
    val q = qualityRatios
    val feat = Checkpoints(documents.select(col("doc_id"),
        gopherSignals.meanWordLen.as("x1"),
        q.stopwordRatio.as("x2"),
        q.typeTokenRatio.as("x3"),
        when(gopherKeep(), lit(1.0)).otherwise(lit(0.0)).as("y")))
    val z = col("b") + col("w1") * col("x1") +
      col("w2") * col("x2") + col("w3") * col("x3")
    val sigma = lit(0.5) + lit(0.5) * z / (lit(1.0) + abs(z))
    val err = sigma - col("y")
    var w: DataFrame = documents.sparkSession.range(1)
      .select(lit(0.0).as("b"), lit(0.0).as("w1"),
        lit(0.0).as("w2"), lit(0.0).as("w3"))
    for (_ <- 1 to iters) {
      // previous weights ride the aggregate as max() of their constant
      // broadcast column, so the update stays inside the one plan
      val g = feat.crossJoin(broadcast(w)).agg(
        max("b").as("pb"), max("w1").as("p1"),
        max("w2").as("p2"), max("w3").as("p3"),
        sum(err.cast(dec)).cast("double").as("g0"),
        sum((err * col("x1")).cast(dec)).cast("double").as("g1"),
        sum((err * col("x2")).cast(dec)).cast("double").as("g2"),
        sum((err * col("x3")).cast(dec)).cast("double").as("g3"),
        count(lit(1)).as("n"))
      w = g.select(
        (col("pb") - lit(lr) * col("g0") / col("n")).as("b"),
        (col("p1") - lit(lr) * col("g1") / col("n")).as("w1"),
        (col("p2") - lit(lr) * col("g2") / col("n")).as("w2"),
        (col("p3") - lit(lr) * col("g3") / col("n")).as("w3"))
    }
    feat.crossJoin(broadcast(w))
      .select(col("doc_id"), col("y").cast("long").as("label"),
        round(sigma, 6).as("score"))
      .withColumn("pred", col("score") >= 0.5)
      .orderBy("doc_id")
  }

  /** Generated DuckDB oracle for [[qualityClassifier]]: the `iters`
    * gradient steps unrolled as chained CTE pairs (gradient aggregate,
    * then weight update) — the [[graft.ops.Graph.pageRankOracleSql]]
    * pattern. `lr` must print exactly (a small power-of-two fraction)
    * so both engines multiply the identical literal.
    */
  def qualityClassifierOracleSql(iters: Int = 4, lr: Double = 0.5): String = {
    def sig(z: String) = s"(0.5 + 0.5 * $z / (1 + abs($z)))"
    def z(w: String) = s"($w.b + $w.w1 * f.x1 + $w.w2 * f.x2 + $w.w3 * f.x3)"
    def e(w: String) = s"(${sig(z(w))} - f.y)"
    val steps = (1 to iters).map { i =>
      val p = s"w${i - 1}"
      s"""g$i AS (SELECT max(b) AS pb, max(w1) AS p1, max(w2) AS p2, max(w3) AS p3,
         |  CAST(SUM(CAST(${e(p)} AS DECIMAL(28,18))) AS DOUBLE) AS g0,
         |  CAST(SUM(CAST((${e(p)} * f.x1) AS DECIMAL(28,18))) AS DOUBLE) AS g1,
         |  CAST(SUM(CAST((${e(p)} * f.x2) AS DECIMAL(28,18))) AS DOUBLE) AS g2,
         |  CAST(SUM(CAST((${e(p)} * f.x3) AS DECIMAL(28,18))) AS DOUBLE) AS g3,
         |  COUNT(*) AS n
         |  FROM f, $p),
         |w$i AS (SELECT pb - $lr * g0 / n AS b, p1 - $lr * g1 / n AS w1,
         |  p2 - $lr * g2 / n AS w2, p3 - $lr * g3 / n AS w3 FROM g$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH f AS (SELECT doc_id,
       |    round(CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE)
       |          / greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1), 6) AS x1,
       |    round(CAST(len(regexp_extract_all(lower(text), '\\b(the|a|and|of|to|in|is)\\b')) AS DOUBLE)
       |          / greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1), 6) AS x2,
       |    round(CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS DOUBLE)
       |          / greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1), 6) AS x3,
       |    CASE WHEN (len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 40
       |               AND len(regexp_extract_all(lower(text), '[a-z0-9]+')) <= 100000
       |               AND round(CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE)
       |                     / greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1), 6) >= 2.0
       |               AND round(CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE)
       |                     / greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1), 6) <= 12.0
       |               AND round(CAST(len(regexp_extract_all(text, '(?m)^[ \\t]*[-*•]')) AS DOUBLE)
       |                     / greatest(len(string_split(text, chr(10))), 1), 6) <= 0.9
       |               AND round(CAST(len(regexp_extract_all(text, '(?m)\\.\\.\\.${"$"}')) AS DOUBLE)
       |                     / greatest(len(string_split(text, chr(10))), 1), 6) <= 0.3
       |               AND len(list_intersect(regexp_extract_all(lower(text), '[a-z0-9]+'),
       |                   ['the','be','to','of','and','that','have','with'])) >= 1)
       |         THEN 1.0 ELSE 0.0 END AS y
       |  FROM documents),
       |w0 AS (SELECT CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS w1,
       |       CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3),
       |$steps
       |SELECT doc_id, CAST(f.y AS BIGINT) AS label,
       |       round(${sig(z(s"w$iters"))}, 6) AS score,
       |       round(${sig(z(s"w$iters"))}, 6) >= 0.5 AS pred
       |FROM f, w$iters ORDER BY doc_id""".stripMargin
  }

  /** [[linearFit]] instantiated on the quality surface: per source, does
    * document length (token count) predict lexical diversity
    * (type-token ratio)? The negative slope this finds on any natural
    * corpus is the classic TTR-length effect — the calibration a
    * length-normalized diversity filter needs.
    */
  def diversityFit(documents: DataFrame): DataFrame = {
    val nTok = size(regexp_extract_all(lower(col("text")), lit(wordRe), lit(0)))
    linearFit(
      documents.select(col("source"), nTok.as("_nt"),
        qualityRatios.typeTokenRatio),
      col("_nt"), col("type_token_ratio"), col("source"))
      .withColumnRenamed("grp", "source")
  }

  /** Per-source corpus statistics — the audit table a mixture design reads
    * first: document counts, token totals, mean document length. One hash
    * aggregate; token totals in exact decimal for engine portability.
    */
  def sourceStats(documents: DataFrame): DataFrame = {
    val nTokens = size(regexp_extract_all(col("text"), lit(wordRe), lit(0))).cast("long")
    documents
      .select(col("source"), nTokens.as("nt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("nt").as("total_tokens"),
        round(sum("nt").cast("double") / count(lit(1)), 6).as("mean_tokens"))
      .orderBy("source")
  }

  /** JSON extraction from a string payload column (events.props). */
  def jsonExtract(events: DataFrame): DataFrame =
    events.select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_value"))
      .filter(col("k_value") > 80)
      .orderBy("event_id")

  /** Per-document readability: word / sentence / syllable-proxy counts and
    * the Flesch reading-ease score 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words) — the length-complexity quality signal a
    * curation mix reads beside [[qualityScore]]'s ratios (a corpus of
    * 8-word headlines and a corpus of 40-word legalese both pass stopword
    * gates; they sit at opposite ends of this score).
    *
    * Counting contracts (all three are single-regex run counts, codegen'd,
    * identical in Java regex and DuckDB's RE2 because they are plain
    * character classes): words = `[a-z0-9]+` runs of the lowercased text
    * (the library's one tokenization); sentences = `[.!?]+` terminator
    * runs ("..." and "?!" count once); syllables = `[aeiouy]+` vowel-group
    * runs — the standard dictionary-free proxy (undercounts hiatus like
    * "create", ignores silent-e; stated here rather than pretended away —
    * the score is a RANKING signal, not a clinical grade level).
    * Documents with zero words or zero sentence terminators get a null
    * score (not a division blow-up). Row-local single pass: no shuffle at
    * any scale beyond the final report sort.
    */
  def readability(documents: DataFrame): DataFrame = {
    val nw = size(regexp_extract_all(lower(col("text")), lit(wordRe), lit(0)))
    val ns = size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
    val nsy = size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
    documents.select(
        col("doc_id"),
        nw.cast("long").as("n_words"),
        ns.cast("long").as("n_sentences"),
        nsy.cast("long").as("n_syllables"))
      .withColumn("flesch",
        when(col("n_words") > 0 && col("n_sentences") > 0,
          round(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
            - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")), 4)))
      .orderBy("doc_id")
  }

  /** Generated DuckDB oracle for [[readability]] — the same three run
    * counts and the identical double sequence. */
  def readabilityOracleSql(table: String = "documents"): String =
    s"""WITH c AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_words,
       |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sentences,
       |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
       |  FROM $table)
       |SELECT doc_id, n_words, n_sentences, n_syllables,
       |  CASE WHEN n_words > 0 AND n_sentences > 0
       |       THEN round(206.835
       |                  - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
       |                  - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4)
       |  END AS flesch
       |FROM c ORDER BY doc_id""".stripMargin

  /** Per-language source concentration: Herfindahl–Hirschman index
    * (Σ share²) over the source mix, plus the top source's share — the
    * no-domain-dominates audit beside [[capSources]] (HHI → 1: one feed
    * owns the language; → 1/n_sources: balanced). The number a mixture
    * design checks BEFORE training: a language whose tokens come from one
    * domain generalizes like that domain.
    *
    * Two combining aggregates (lang×source counts, then per-lang fold);
    * shares are identical double divisions on both engines, each share²
    * term rounded to 9 and summed in exact DECIMAL(18,9) (the
    * bm25/surprisal portability contract — a float Σ would be
    * partition-order dependent), HHI rounded once to 6.
    */
  def sourceConcentration(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val counts = documents.groupBy("lang", "source")
      .agg(count(lit(1)).as("n"))
    val share = col("n").cast("double") / col("n_docs").cast("double")
    counts
      .withColumn("n_docs", sum("n").over(Window.partitionBy("lang")))
      .withColumn("_term",
        round(share * share, 9).cast(DecimalType(18, 9)))
      .groupBy("lang")
      .agg(max("n_docs").as("n_docs"),
        count(lit(1)).as("n_sources"),
        round(sum("_term").cast("double"), 6).as("hhi"),
        round(max(share), 6).as("top_share"))
      .orderBy("lang")
  }

  /** Generated DuckDB oracle for [[sourceConcentration]]. */
  def concentrationOracleSql(table: String = "documents"): String =
    s"""WITH c AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
       |           FROM $table GROUP BY lang, source),
       |w AS (SELECT lang, n,
       |        CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS n_docs
       |      FROM c)
       |SELECT lang, MAX(n_docs) AS n_docs, COUNT(*) AS n_sources,
       |       round(CAST(SUM(CAST(round(
       |         (CAST(n AS DOUBLE) / CAST(n_docs AS DOUBLE))
       |         * (CAST(n AS DOUBLE) / CAST(n_docs AS DOUBLE)), 9)
       |         AS DECIMAL(18,9))) AS DOUBLE), 6) AS hhi,
       |       round(MAX(CAST(n AS DOUBLE) / CAST(n_docs AS DOUBLE)), 6)
       |         AS top_share
       |FROM w GROUP BY lang ORDER BY lang""".stripMargin

  /** Per-document n-gram novelty: the fraction of a document's DISTINCT
    * word n-grams whose globally-first occurrence (minimum doc_id) is this
    * document — the memorization-risk / freshness signal a pipeline reads
    * when deciding what a new crawl snapshot actually adds (novelty ≈ 1:
    * genuinely new text; ≈ 0: recombination of already-seen phrases).
    * doc_id is the corpus's ingestion order, so "first" is well-defined
    * and deterministic.
    *
    * Plan shape: one typed row-local pass emits each doc's DISTINCT gram
    * hashes directly (within-doc dedup is per-row work — no cross-doc
    * `.distinct()` shuffle, no interpreted HOF) → the (ngram → min doc)
    * aggregate → one join back keyed on ngram (co-partitioned with the
    * aggregate it just produced — no extra exchange) → per-doc combining
    * count. Everything
    * is keyed by ngram or doc_id; nothing quadratic, no driver state. The
    * distinct gram table feeds both join sides, so it is materialized
    * (the [[graft.ops.Dedup]] prefix-table discipline — without the
    * barrier the explode+distinct runs twice).
    * Documents with fewer than n tokens have no n-grams and no output row
    * (their novelty is undefined, not zero).
    */
  def ngramNovelty(documents: DataFrame, n: Int = 3): DataFrame = {
    require(n >= 2 && n <= 8, s"need 2 <= n <= 8, got $n")
    // distinct grams per doc in ONE typed row-local pass (the shingler
    // trade: interpreted transform() HOFs pay per-element overhead, and a
    // per-doc LinkedHashSet makes the cross-doc `.distinct()` shuffle
    // unnecessary — within-doc dedup is row-local). Grams travel as
    // catalyst-XXH64/seed-42 longs: the grouping key is 8 bytes instead of
    // the gram string, and the oracle replays over the strings (counts and
    // min-doc identical while the hash is collision-free on the gram
    // vocabulary — the [[graft.ops.Dedup.shingleArrays]] argument).
    val spark = documents.sparkSession
    import spark.implicits._
    val tokenRe = "[a-z0-9]+".r
    val grams = Checkpoints(documents.select(col("doc_id"), lower(col("text")).as("t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          else {
            val toks = tokenRe.findAllIn(text).toArray
            val m = toks.length - n + 1
            if (m <= 0) Iterator.empty
            else {
              val seen = new java.util.LinkedHashSet[java.lang.Long]()
              var i = 0
              while (i < m) {
                val sb = new java.lang.StringBuilder(toks(i))
                var j = 1
                while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
                val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
                seen.add(org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
                  bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
                  bytes.length, 42L))
                i += 1
              }
              val itr = seen.iterator()
              new Iterator[(Long, Long)] {
                def hasNext: Boolean = itr.hasNext
                def next(): (Long, Long) = (id, itr.next())
              }
            }
          }
        }
      }.toDF("doc_id", "ngram"))
    val firsts = grams.groupBy("ngram").agg(min("doc_id").as("first_doc"))
    grams.join(firsts, "ngram")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_ngrams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"),
        round(
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6).as("novelty"))
      .orderBy("doc_id")
  }

  /** Generated DuckDB oracle for [[ngramNovelty]]: parallel unnest of the
    * n shifted slices zips the token windows (the collocations pattern),
    * then the same distinct → min → join → count sequence. */
  def ngramNoveltyOracleSql(table: String = "documents", n: Int = 3): String = {
    val names = (0 until n).map(j => s"w$j")
    val unnests = (0 until n)
      .map(j => s"unnest(t[${j + 1}:len(t) - ${n - 1 - j}]) AS w$j").mkString(",\n         ")
    val joined = names.mkString(" || ' ' || ")
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |  FROM $table),
       |g AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, $joined AS ngram FROM (
       |    SELECT doc_id,
       |         $unnests
       |    FROM toks WHERE len(t) >= $n)),
       |f AS (SELECT ngram, min(doc_id) AS first_doc FROM g GROUP BY ngram)
       |SELECT g.doc_id, COUNT(*) AS n_ngrams,
       |       CAST(SUM(CASE WHEN first_doc = g.doc_id THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_novel,
       |       round(CAST(SUM(CASE WHEN first_doc = g.doc_id THEN 1 ELSE 0 END)
       |                  AS DOUBLE) / COUNT(*), 6) AS novelty
       |FROM g JOIN f USING (ngram)
       |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin
  }

  /** Pairwise Jensen-Shannon divergence between per-source token
    * distributions over the corpus top-`vocabK` vocabulary — the
    * which-feeds-actually-differ matrix a mixture designer reads before
    * setting sampling weights (JSD is symmetric, bounded by ln 2, and
    * defined even where KL is not). Smoothed shares over the COMPLETE
    * source × vocab grid (the [[Stats.psiDrift]] add-one pattern, so a
    * token absent from one source stays finite); per-token terms
    * ½p·ln(p/m) + ½q·ln(q/m) round to 9 and sum in DECIMAL(18,9) —
    * order-free, and every operand is a double of exact integers, so the
    * oracle replays bit-for-bit.
    *
    * Scale shape: ONE token explode feeds both the top-K vocab
    * (TakeOrderedAndProject, broadcast back) and the (source, tok)
    * counts; everything after is post-aggregate — the pair join runs
    * over sources² × vocabK rows, never the corpus.
    */
  def jsDivergence(documents: DataFrame, vocabK: Int = 50): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(vocabK >= 2, s"need vocabK >= 2, got $vocabK")
    val toks = documents.select(col("source"),
      explode(regexp_extract_all(lower(col("text")), lit(wordRe), lit(0))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("_c"))
      .orderBy(col("_c").desc, col("tok")).limit(vocabK).select("tok")
    val counts = toks.join(broadcast(vocab), Seq("tok"), "left_semi")
      .groupBy("source", "tok").agg(count(lit(1)).as("_n"))
    val totals = counts.groupBy("source").agg(sum("_n").as("_tot"))
    val kDf = vocab.agg(count(lit(1)).as("_k"))
    val grid = totals.crossJoin(broadcast(vocab))
      .join(counts, Seq("source", "tok"), "left")
      .select(col("source"), col("tok"), coalesce(col("_n"), lit(0L)).as("_n"),
        col("_tot"))
      .crossJoin(broadcast(kDf))
      .withColumn("_p",
        (col("_n") + lit(1)).cast("double") / (col("_tot") + col("_k")).cast("double"))
    val a = grid.select(col("source").as("source_a"), col("tok"), col("_p").as("_pa"))
    val b = grid.select(col("source").as("source_b"), col("tok"), col("_p").as("_pb"))
    val m = (col("_pa") + col("_pb")) / lit(2.0)
    a.join(b, Seq("tok")).filter(col("source_a") < col("source_b"))
      .withColumn("_t",
        round(lit(0.5) * col("_pa") * log(col("_pa") / m)
          + lit(0.5) * col("_pb") * log(col("_pb") / m), 9)
          .cast(DecimalType(18, 9)))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum("_t").cast("double"), 6).as("jsd"))
      .orderBy("source_a", "source_b")
  }

  /** Generated DuckDB oracle for [[jsDivergence]]: same vocab tie order,
    * same smoothed grid, same round-9 decimal term sums. */
  def jsDivergenceOracleSql(vocabK: Int = 50): String =
    s"""WITH toks AS (SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
       |              FROM documents),
       |vocab AS (SELECT tok FROM (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
       |                           ORDER BY c DESC, tok LIMIT $vocabK)),
       |kk AS (SELECT COUNT(*) AS k FROM vocab),
       |counts AS (SELECT source, tok, COUNT(*) AS n FROM toks
       |           WHERE tok IN (SELECT tok FROM vocab) GROUP BY source, tok),
       |totals AS (SELECT source, SUM(n) AS tot FROM counts GROUP BY source),
       |grid AS (SELECT t.source, v.tok, COALESCE(c.n, 0) AS n, t.tot
       |         FROM totals t CROSS JOIN vocab v
       |         LEFT JOIN counts c ON c.source = t.source AND c.tok = v.tok),
       |p AS (SELECT source, tok,
       |             CAST(n + 1 AS DOUBLE) / CAST(tot + k AS DOUBLE) AS p
       |      FROM grid CROSS JOIN kk)
       |SELECT a.source AS source_a, b.source AS source_b,
       |       COUNT(*) AS n_tokens,
       |       round(CAST(SUM(CAST(round(
       |           0.5 * a.p * ln(a.p / ((a.p + b.p) / 2.0))
       |         + 0.5 * b.p * ln(b.p / ((a.p + b.p) / 2.0)), 9) AS DECIMAL(18,9)))
       |         AS DOUBLE), 6) AS jsd
       |FROM p a JOIN p b ON a.tok = b.tok AND a.source < b.source
       |GROUP BY a.source, b.source
       |ORDER BY source_a, source_b""".stripMargin

  /** Language-ID confusion matrix — the audit a curation pipeline runs
    * before trusting [[langId]]'s routing: predicted vs gold language,
    * with each cell's share of its gold row (recall). The heuristic only
    * knows de/en/es/fr (+ 'und'), so gold languages outside that set land
    * visibly in the matrix instead of silently vanishing — that gap IS
    * the audit's finding. One row-local scoring pass + one tiny
    * aggregate + one window over the ≤ |langs|² cells.
    */
  def langIdEval(documents: DataFrame): DataFrame = {
    val preds = langId(documents).select(col("doc_id"), col("pred_lang"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("gold_lang")
    documents.select(col("doc_id"), col("lang").as("gold_lang"))
      .join(preds, "doc_id")
      .groupBy("gold_lang", "pred_lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("gold_share",
        round(col("n_docs").cast("double")
          / sum(col("n_docs")).over(w).cast("double"), 6))
      .orderBy("gold_lang", "pred_lang")
  }

  /** Calibration (reliability) bins for [[qualityClassifier]] — is a
    * score of 0.8 actually kept 80% of the time? Per score decile:
    * count, exact-decimal mean score, empirical keep rate, and the
    * calibration gap. Scores are the classifier's own round-6 outputs,
    * so binning and both means are engine-identical; the training replay
    * rides the existing iteration-unrolled oracle.
    */
  def qualityCalibration(documents: DataFrame, iters: Int = 4,
                         lr: Double = 0.5, nBins: Int = 10): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(nBins >= 2, s"need >= 2 bins, got $nBins")
    val scored = qualityClassifier(documents, iters, lr)
    scored
      .withColumn("bin",
        least(floor(col("score") * nBins).cast("long"), lit(nBins - 1L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("score").cast(DecimalType(18, 6))).cast("double")
          / count(lit(1)).cast("double"), 6).as("mean_score"),
        round(sum("label").cast("double")
          / count(lit(1)).cast("double"), 6).as("keep_rate"))
      .withColumn("gap", round(col("keep_rate") - col("mean_score"), 6))
      .orderBy("bin")
  }

  /** Generated DuckDB oracle for [[qualityCalibration]]: the full
    * classifier training replay as a subquery, then the same binning. */
  def qualityCalibrationOracleSql(iters: Int = 4, lr: Double = 0.5,
                                  nBins: Int = 10): String =
    s"""SELECT bin, COUNT(*) AS n_docs,
       |       round(CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE)
       |             / COUNT(*), 6) AS mean_score,
       |       round(CAST(SUM(label) AS DOUBLE) / COUNT(*), 6) AS keep_rate,
       |       round(round(CAST(SUM(label) AS DOUBLE) / COUNT(*), 6)
       |             - round(CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE)
       |                     / COUNT(*), 6), 6) AS gap
       |FROM (SELECT label, score,
       |             least(CAST(floor(score * $nBins) AS BIGINT), ${nBins - 1}) AS bin
       |      FROM (${qualityClassifierOracleSql(iters, lr)}))
       |GROUP BY bin ORDER BY bin""".stripMargin

  /** Per-source Gopher-gate kept rate with a Wilson score interval — the
    * curation dashboard row that says not just "src7 keeps 62%" but how
    * much that estimate can be trusted given the source's size (a 3-doc
    * source's 66% is not a 30k-doc source's 66%). Wilson (not normal
    * approximation: stays inside [0,1] and behaves at p̂ near 0/1):
    * center = (p̂ + z²/2n)/(1+z²/n), half-width = z·√(p̂(1−p̂)/n +
    * z²/4n²)/(1+z²/n). All inputs are exact longs from one row-local
    * scan + one per-source aggregate, so the doubles are identical on
    * both engines; z is a round-trip literal.
    */
  def keptRateWilson(documents: DataFrame, z: Double = 1.96): DataFrame = {
    val gated = documents.select(col("source"),
      when(gopherKeep(), 1L).otherwise(0L).as("_k"))
    val agg = gated.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("_k").as("n_kept"))
    val n = col("n_docs").cast("double")
    val p = col("n_kept").cast("double") / n
    val z2 = z * z
    val denom = lit(1.0) + lit(z2) / n
    val center = (p + lit(z2) / (lit(2.0) * n)) / denom
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / n +
      lit(z2) / (lit(4.0) * n * n)) / denom
    agg.select(col("source"), col("n_docs"), col("n_kept"),
        round(p, 6).as("kept_rate"),
        round(center - half, 6).as("wilson_lo"),
        round(center + half, 6).as("wilson_hi"))
      .orderBy("source")
  }

  /** Generated DuckDB oracle for [[keptRateWilson]]: the q_gopher_rules
    * keep expression replayed per row, then the same Wilson arithmetic
    * over the exact counts. */
  def keptRateWilsonOracleSql(z: Double = 1.96): String = {
    val z2 = (z * z).toString
    val zs = z.toString
    s"""WITH s AS (SELECT source,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_words,
       |    round(CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE)
       |          / greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1), 6) AS mean_word_len,
       |    round(CAST(len(regexp_extract_all(text, '(?m)^[ \\t]*[-*•]')) AS DOUBLE)
       |          / greatest(len(string_split(text, chr(10))), 1), 6) AS bullet_line_ratio,
       |    round(CAST(len(regexp_extract_all(text, '(?m)\\.\\.\\.$$')) AS DOUBLE)
       |          / greatest(len(string_split(text, chr(10))), 1), 6) AS ellipsis_line_ratio,
       |    CAST(len(list_intersect(regexp_extract_all(lower(text), '[a-z0-9]+'),
       |        ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop_hits
       |  FROM documents),
       |g AS (SELECT source,
       |             CASE WHEN n_words >= 40 AND n_words <= 100000
       |                   AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
       |                   AND bullet_line_ratio <= 0.9 AND ellipsis_line_ratio <= 0.3
       |                   AND n_stop_hits >= 1 THEN 1 ELSE 0 END AS k
       |      FROM s),
       |agg AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(k) AS BIGINT) AS n_kept
       |        FROM g GROUP BY source),
       |w AS (SELECT source, n_docs, n_kept,
       |             CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE) AS p,
       |             CAST(n_docs AS DOUBLE) AS n
       |      FROM agg)
       |SELECT source, n_docs, n_kept,
       |       round(p, 6) AS kept_rate,
       |       round(((p + $z2 / (2.0 * n)) / (1.0 + $z2 / n))
       |             - ($zs * sqrt(p * (1.0 - p) / n + $z2 / (4.0 * n * n))
       |                / (1.0 + $z2 / n)), 6) AS wilson_lo,
       |       round(((p + $z2 / (2.0 * n)) / (1.0 + $z2 / n))
       |             + ($zs * sqrt(p * (1.0 - p) / n + $z2 / (4.0 * n * n))
       |                / (1.0 + $z2 / n)), 6) AS wilson_hi
       |FROM w ORDER BY source""".stripMargin
  }
}
