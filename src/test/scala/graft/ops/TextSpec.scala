package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class TextSpec extends SparkSpec {

  test("unigramSurprisal: hand-computed probabilities, OOV floor, common text scores lower") {
    import spark.implicits._
    val d = Seq(
      (1L, "the the the"),
      (2L, "the zzz"),
      (3L, "")).toDF("doc_id", "text")
    // corpus: the×4, zzz×1 → N=5; vocabSize=1 keeps only 'the' (c=4);
    // 'zzz' floors to c=1
    val out = graft.ops.Text.unigramSurprisal(d, vocabSize = 1).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    def s(c: Double) = BigDecimal(-math.log(c / 5.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val exp1 = BigDecimal((s(4) * 3).toDouble / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp2 = BigDecimal((s(4) + s(1)).toDouble / 2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == (exp1, 3L))
    assert(out(2L) == (exp2, 2L))
    assert(!out.contains(3L), "token-less docs are excluded")
    assert(out(1L)._1 < out(2L)._1, "rare-token doc must score higher surprisal")
  }

  test("duplicatePassageStats: shared passages count, self-repeats and unique text do not") {
    import spark.implicits._
    val shared = "alpha beta gamma delta" // one 4-token chunk
    val d = Seq(
      (1L, s"$shared one two three four"),          // chunk0 shared with doc 2, chunk1 unique
      (2L, s"$shared five six seven eight"),        // chunk0 shared with doc 1
      (3L, "nine ten eleven twelve nine ten eleven twelve"), // self-repeat only: docfreq 1
      (4L, "unique tokens entirely here")).toDF("doc_id", "text")
    val out = graft.ops.Text.duplicatePassageStats(d, chunkTokens = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == (2L, 1L, 0.5))
    assert(out(2L) == (2L, 1L, 0.5))
    assert(out(3L) == (2L, 0L, 0.0), "a doc repeating its own passage is not cross-corpus dup")
    assert(out(4L) == (1L, 0L, 0.0))
  }

  test("compressionRatio: repetitive text compresses far below prose; edge inputs defined") {
    import spark.implicits._
    val repetitive = "spam spam spam spam " * 50
    val prose = "the quick brown fox jumps over a lazy dog while seventeen " +
      "violinists argue about parquet footers and shuffle partitions in oslo"
    val d = Seq((1L, repetitive), (2L, prose), (3L, ""), (4L, null: String))
      .toDF("doc_id", "text")
    val out = graft.ops.Text.compressionRatio(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._2 < 0.1, s"boilerplate should compress hard: ${out(1L)}")
    assert(out(2L)._2 > out(1L)._2 * 3, s"prose ${out(2L)} vs spam ${out(1L)}")
    assert(out(3L) == (0L, 1.0) && out(4L) == (0L, 1.0))
    // deterministic across invocations (fixed zlib level)
    val again = graft.ops.Text.compressionRatio(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(again == out)
  }

  test("compressionChecked: exact lengths + envelope boolean, non-BMP code points") {
    import spark.implicits._
    // "𝕏" is non-BMP (2 UTF-16 units, 1 code point, 4 UTF-8 bytes): the
    // n_chars column must count CODE POINTS to match SQL length()
    val d = Seq((1L, "abc"), (2L, "𝕏y"), (3L, ""), (4L, null: String),
      (5L, "spam " * 100)).toDF("doc_id", "text")
    val out = graft.ops.Text.compressionChecked(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out(1L) == (3L, 3L, true))
    assert(out(2L) == (2L, 5L, true), s"code-point count / UTF-8 bytes: ${out(2L)}")
    assert(out(3L) == (0L, 0L, true) && out(4L) == (0L, 0L, true))
    assert(out(5L) == (500L, 500L, true))
  }

  test("unigramSurprisal: null text and token-less corpora yield empty results, not NPEs") {
    import spark.implicits._
    val withNull = Seq((1L, "the the"), (2L, null: String)).toDF("doc_id", "text")
    val scored = graft.ops.Text.unigramSurprisal(withNull, 10).collect()
    assert(scored.map(_.getLong(0)).toSeq == Seq(1L))
    val tokenless = Seq((1L, "!!! ???"), (2L, null: String)).toDF("doc_id", "text")
    assert(graft.ops.Text.unigramSurprisal(tokenless, 10).isEmpty)
    assert(graft.ops.Text.unigramSurprisal(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), 10).isEmpty)
  }

  test("redact: emails, urls, digit runs become typed placeholders; clean text untouched") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail me at a.b+c@test.org or see https://x.io/p/12345678 ok"),
      (2L, "account 123456789 and 12345 stay partial"),
      (3L, "nothing sensitive here")).toDF("doc_id", "text")
    val out = graft.ops.Text.redact(d).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "mail me at <EMAIL> or see <URL> ok")
    // 12345 is below the 6-digit threshold; URL redaction ran before the
    // digit pass so the path number is already inside <URL>
    assert(out(2L) == "account <NUM> and 12345 stay partial")
    assert(out(3L) == "nothing sensitive here")
  }

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("textStats: counts chars, tokens, unique tokens") {
    val out = Text.textStats(docs((1L, "Hello world hello"))).collect().head
    assert(out.getLong(1) == 17) // chars
    assert(out.getLong(2) == 3)  // tokens
    assert(out.getLong(3) == 2)  // unique lowercased
  }

  test("qualityScore: stopword and type-token ratios") {
    val out = Text.qualityScore(docs((1L, "the cat and the dog"))).collect().head
    // tokens: the cat and the dog (5); stopwords: the, and, the (3); distinct 4
    assert(out.getDouble(2) == 0.6)
    assert(out.getDouble(3) == 0.8)
  }

  test("tokenCounts: BPE-ish regex counts contractions and punctuation runs") {
    val out = Text.tokenCounts(docs((1L, "it's rain-proof, 42 days!"))).collect().head
    // ws tokens: it, s, rain, proof, 42, days = 6
    assert(out.getLong(1) == 6)
    // bpe: [it]['s][ rain][-][proof][,][ 42][ days][!] = 9
    assert(out.getLong(2) == 9)
  }

  test("langId: picks language by stopword hits, 'und' when none") {
    val d = docs(
      (1L, "the cat is in that house and it sleeps"),
      (2L, "der hund ist nicht ein tier und das"),
      (3L, "zzz qqq www"))
    val out = Text.langId(d).collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
    assert(out(3L) == "und")
  }

  test("fingerprints: identical normalized texts share content_hash") {
    val d = docs((1L, "A  B\tC"), (2L, "a b c"), (3L, "x y z"))
    val out = Text.fingerprints(d).collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out(1L) == out(2L))
    assert(out(1L) != out(3L))
  }

  test("packSequences: packs are contiguous per source and respect the budget start rule") {
    import spark.implicits._
    val d = Seq(
      (1L, "a " * 300, "s1"), (2L, "b " * 300, "s1"), (3L, "c " * 300, "s1"),
      (4L, "d " * 10, "s2")
    ).toDF("doc_id", "text", "source")
    val out = Text.packSequences(d, budgetTokens = 512).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    // cum starts: doc1 at 0 -> pack 0; doc2 at 300 -> pack 0; doc3 at 600 -> pack 1
    assert(out(1L) == 0 && out(2L) == 0 && out(3L) == 1)
    assert(out(4L) == 0) // separate source restarts packing
  }

  test("perSourceSample: k rows per source, deterministic across runs") {
    val d = graft.core.Tables.documents(spark, sfDir)
    val a = Text.perSourceSample(d, 5).collect().map(r => (r.getString(1), r.getLong(0)))
    val b = Text.perSourceSample(d, 5).collect().map(r => (r.getString(1), r.getLong(0)))
    assert(a.sameElements(b))
    a.groupBy(_._1).foreach { case (_, rows) => assert(rows.length <= 5) }
  }

  test("sourceStats: totals reconcile with per-doc token counts") {
    val d = graft.core.Tables.documents(spark, sfDir)
    val stats = Text.sourceStats(d).collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap
    val direct = Text.tokenCounts(d)
      .join(d.select("doc_id", "source"), "doc_id")
      .groupBy("source").sum("n_ws_tokens").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(stats == direct)
  }

  test("gramHash48: row-local (winnowing) and column (fingerprint) hashes are bit-identical") {
    import spark.implicits._
    val samples = Seq("alpha beta gamma", "a b c", "x 1 z", "ümlaut mixed 2")
    val viaColumn = samples.toDF("g")
      .select(Text.gramHash48(col("g"))).collect().map(_.getLong(0))
    val md = java.security.MessageDigest.getInstance("MD5")
    val viaLocal = samples.map(Text.gramHash48Local(md, _))
    assert(viaColumn.toSeq == viaLocal)
  }

  test("winnowing: identical docs share all fingerprints; shared substrings overlap") {
    val d = docs(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "prefix words then alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (4L, "totally different content with other words only here today"))
    val fp = Text.winnowing(d).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(fp(1L) == fp(2L))                       // identical => identical sets
    assert((fp(1L) & fp(3L)).nonEmpty)             // long shared substring => overlap
    assert((fp(1L) & fp(4L)).isEmpty)              // disjoint text => no overlap
  }

  test("chunkDocuments: windows cover all tokens with the configured overlap") {
    val text = (1 to 80).map(i => s"w$i").mkString(" ")
    val out = Text.chunkDocuments(docs((1L, text)), chunkTokens = 32, overlap = 8).collect()
    // 80 tokens, stride 24: chunks start at 0, 24, 48 => 3 chunks
    assert(out.length == 3)
    assert(out.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L))
    assert(out(0).getLong(3) == 32 && out(1).getLong(3) == 32 && out(2).getLong(3) == 32)
    assert(out(0).getString(2).startsWith("w1 ") && out(1).getString(2).startsWith("w25 "))
    // overlap: last 8 tokens of chunk 0 == first 8 of chunk 1
    assert(out(0).getString(2).split(" ").takeRight(8).toSeq ==
      out(1).getString(2).split(" ").take(8).toSeq)
  }

  test("trainValSplit: deterministic, stable under corpus growth") {
    val a = Text.trainValSplit(docs((1L, "x"), (2L, "y"))).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val b = Text.trainValSplit(docs((1L, "x"), (2L, "y"), (3L, "z"))).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(a.forall { case (k, v) => b(k) == v }) // adding docs never reassigns
    assert(Set("train", "val").intersect(b.values.toSet).nonEmpty)
  }

  test("repetitionStats: repeated content scores high, varied content low") {
    val d = docs(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "each word here appears exactly once in this document"))
    val out = Text.repetitionStats(d).collect()
      .map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2)))).toMap
    assert(out(1L)._1 > 0.8)  // all 3-grams identical
    assert(out(1L)._2 == 1.0) // one token dominates completely
    assert(out(2L)._1 == 0.0)
    assert(out(2L)._2 < 0.2)
  }

  test("patternCounts: finds emails, urls, digit runs") {
    val d = docs((1L, "contact a@b.com or see https://x.example/page id 1234567 end"),
      (2L, "clean text only"))
    val out = Text.patternCounts(d).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((1L, 1L, 1L)))
    assert(out(2L) == ((0L, 0L, 0L)))
  }

  test("jsonExtract: pulls numeric field and filters") {
    import spark.implicits._
    val events = Seq((1L, """{"k": 99}"""), (2L, """{"k": 10}"""), (3L, """{}"""))
      .toDF("event_id", "props")
    val out = Text.jsonExtract(events).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    assert(out.head.getLong(1) == 99L)
  }

  test("bigramSurprisal: hand-computed interpolated probabilities; first token unigram-only") {
    // corpus: "the cat" x3, "the dog" x1 → N=8; c(the)=4, c(cat)=3, c(dog)=1
    // bigrams (all in-vocab): "the cat":3, "the dog":1
    val d = docs((1L, "the cat"), (2L, "the cat"), (3L, "the cat"), (4L, "the dog"))
    val out = Text.bigramSurprisal(d, vocabSize = 10, bigramVocab = 10).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val n = 8.0
    val lam = 0.7
    def s9(p: Double) = BigDecimal(-math.log(p)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def mean2(a: BigDecimal, b: BigDecimal) =
      BigDecimal((a + b).toDouble / 2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pThe = 4.0 / n
    val pCatGivenThe = lam * 3.0 / 4.0 + (1.0 - lam) * 3.0 / n
    val pDogGivenThe = lam * 1.0 / 4.0 + (1.0 - lam) * 1.0 / n
    assert(out(1L) == ((mean2(s9(pThe), s9(pCatGivenThe)), 2L)))
    assert(out(4L) == ((mean2(s9(pThe), s9(pDogGivenThe)), 2L)))
    // the predictable continuation scores LOWER than the rare one
    assert(out(1L)._1 < out(4L)._1)
  }

  test("gopherRules: each rule gates independently; a clean doc passes") {
    val prose = ("the quick brown fox jumps over a lazy dog and runs far away " * 5).trim
    val d = docs(
      (1L, prose),                                  // clean: passes all gates
      (2L, "short text with the"),                  // too few words
      (3L, ("- item one\n* item two\n• item three\n" * 10) + "the end"), // bullet-heavy
      (4L, ("this line trails off with the dots...\n" * 10).trim),            // ellipsis-heavy
      (5L, prose.replaceAll("\\b(the|a|and)\\b", "xx"))) // no stopwords
    val out = Text.gopherRules(d, minWords = 40).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(6), "clean doc must pass")
    assert(!out(2L).getBoolean(6), "short doc must fail")
    assert(!out(3L).getBoolean(6), "bullet-heavy doc must fail")
    assert(out(3L).getDouble(3) > 0.9, "bullet line ratio detected")
    assert(!out(4L).getBoolean(6), "ellipsis-heavy doc must fail")
    assert(out(4L).getDouble(4) > 0.3, "ellipsis line ratio detected")
    assert(!out(5L).getBoolean(6), "stopword-free doc must fail")
    assert(out(5L).getLong(5) == 0L)
  }

  test("heavyHitters: exact equality with brute-force counts at several k, across partitionings") {
    import spark.implicits._
    // skewed synthetic corpus: token t_i appears ~ 1000/i times (Zipf-ish)
    val words = (1 to 60).flatMap(i => Seq.fill(1000 / i)(s"t$i"))
    val rng = new scala.util.Random(7)
    val shuffled = rng.shuffle(words)
    val d = shuffled.grouped(50).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val n = words.size.toLong
    val exact = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (k <- Seq(5, 12, 40); parts <- Seq(1, 7)) {
      val got = Text.heavyHitters(d.repartition(parts), k).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = exact.filter { case (_, c) => c * k > n }
      assert(got == want, s"k=$k parts=$parts")
    }
  }

  test("temperatureMixture: integer quotas honored, deterministic, sqrt-damped toward small sources") {
    import spark.implicits._
    // two sources with a 100:1 char-volume skew — sqrt damping must give
    // the small source far more than 1% of the sample
    val d = ((1 to 400).map(i => (i.toLong, "x" * 1000, "big")) ++
      (401 to 500).map(i => (i.toLong, "x" * 40, "small")))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")).cast("long"))
    val out = Text.temperatureMixture(d, targetTotal = 100)
    val bySource = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact integer quota math: vol_big=400000, vol_small=4000
    // w = floor(sqrt(vol)): 632, 63 → targets = 100*w DIV 695
    assert(bySource("big") == 100L * 632 / 695)
    assert(bySource("small") == 100L * 63 / 695)
    assert(bySource("small") > 1L, "sqrt damping up-weights the small source")
    // deterministic: same rows on re-run
    val again = Text.temperatureMixture(d, targetTotal = 100)
    assert(out.collect().toSeq == again.collect().toSeq)
  }

  test("prioritySample: deterministic, exact size, and weight-biased toward long documents") {
    val d = graft.core.Tables.documents(spark, sfDir)
    val s1 = Text.prioritySample(d, 50).collect()
    val s2 = Text.prioritySample(d, 50).collect()
    assert(s1.toSeq == s2.toSeq, "md5-derived priorities must be reproducible")
    assert(s1.length == 50)
    // E[w | sampled] ≈ E[w²]/E[w] > E[w]: a length-weighted draw must
    // overrepresent long documents vs the corpus mean
    val meanSampled = s1.map(_.getAs[Long]("w")).sum.toDouble / s1.length
    val corpusMean = d.agg(org.apache.spark.sql.functions.avg(
      org.apache.spark.sql.functions.greatest(col("n_chars"),
        org.apache.spark.sql.functions.lit(1L)))).head().getDouble(0)
    assert(meanSampled > corpusMean,
      s"sample mean weight $meanSampled should exceed corpus mean $corpusMean")
  }

  test("linearFit: closed form matches local least squares; constant-x group degrades to nulls") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      ("a", 1.0, 2.0), ("a", 2.0, 2.9), ("a", 3.0, 4.1), ("a", 4.0, 5.0),
      ("b", 2.0, 7.0), ("b", 2.0, 9.0)
    ).toDF("g", "x", "y")
    val out = Text.linearFit(df, col("x"), col("y"), col("g"))
      .collect().map(r => r.getString(0) -> r).toMap
    // local reference fit for group a
    val xs = Seq(1.0, 2.0, 3.0, 4.0); val ys = Seq(2.0, 2.9, 4.1, 5.0)
    val n = xs.length.toDouble
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
    val sxx = xs.map(a => a * a).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val icept = (sy - slope * sx) / n
    val a = out("a")
    assert(math.abs(a.getAs[Double]("slope") - slope) < 1e-9)
    assert(math.abs(a.getAs[Double]("intercept") - icept) < 1e-9)
    assert(a.getAs[Double]("r2") > 0.98, "near-linear data must fit tightly")
    val b = out("b")
    assert(b.isNullAt(b.fieldIndex("slope")) && b.isNullAt(b.fieldIndex("r2")),
      "constant x has no defined fit")
  }

  test("diversityFit: finds the negative TTR-length slope on every fixture source") {
    val fit = Text.diversityFit(graft.core.Tables.documents(spark, sfDir)).collect()
    assert(fit.nonEmpty)
    fit.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("slope")), s"${r.getString(0)}: degenerate fit")
      assert(r.getAs[Double]("slope") < 0.0,
        s"${r.getString(0)}: TTR should fall with document length")
      assert(r.getAs[Double]("r2") > 0.5, s"${r.getString(0)}: fit should be strong on the fixture")
    }
  }

  test("nucleusSelect: per-source prefix property — crossing row kept, rest dropped") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions.length
    val d = Seq(
      (1L, "a" * 50, "s1"), (2L, "b" * 30, "s1"), (3L, "c" * 15, "s1"), (4L, "d" * 5, "s1"),
      (5L, "e" * 10, "s2"), (6L, "f" * 10, "s2")
    ).toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val kept = Text.nucleusSelect(d, p = 0.5).collect()
      .map(r => r.getLong(0)).toSet
    // s1 total 100, p*total=50: doc 1 (cum 50, predecessor 0 < 50) kept;
    // doc 2 (predecessor 50, not < 50) dropped. s2 total 20, p*total=10:
    // doc 5 kept (ties break by doc_id), doc 6 dropped.
    assert(kept == Set(1L, 5L))
    // a heavier p keeps a strict superset
    val more = Text.nucleusSelect(d, p = 0.9).collect().map(_.getLong(0)).toSet
    assert(kept.subsetOf(more) && more.size > kept.size)
  }

  test("snapshotDiff: added/removed/changed classified; unchanged omitted") {
    val spark2 = spark
    import spark2.implicits._
    val old = Seq((1L, "same"), (2L, "will change"), (3L, "will vanish"))
      .toDF("doc_id", "text")
    val neu = Seq((1L, "same"), (2L, "changed!"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val diff = Text.snapshotDiff(old, neu).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff == Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("prioritySampleEstimated: tau-floor structure, small-corpus certainty, plausible total") {
    val d = graft.core.Tables.documents(spark, sfDir)
    val est = Text.prioritySampleEstimated(d, 50).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(est.length == 50)
    // every estimate is max(w, tau): never below the true weight, and all
    // tau-floored rows share ONE threshold
    est.foreach { case (_, w, e) => assert(e >= w.toDouble) }
    val floored = est.collect { case (_, w, e) if e > w => e }.distinct
    assert(floored.size <= 1, s"all floored rows share tau: $floored")
    // single-draw DLT estimate of the corpus weight: unbiased, variance
    // bounded — assert a generous band, not the expectation itself
    val trueTotal = d.agg(org.apache.spark.sql.functions.sum(
      org.apache.spark.sql.functions.greatest(
        org.apache.spark.sql.functions.col("n_chars"),
        org.apache.spark.sql.functions.lit(1L)))).head().getLong(0).toDouble
    val estTotal = est.map(_._3).sum
    assert(math.abs(estTotal - trueTotal) / trueTotal < 0.5,
      s"DLT estimate $estTotal vs true $trueTotal")
    // corpus smaller than n: every doc sampled with certainty, est_w == w
    val all = Text.prioritySampleEstimated(d.limit(10), 100).collect()
      .map(r => (r.getLong(2), r.getDouble(3)))
    assert(all.length == 10 && all.forall { case (w, e) => e == w.toDouble })
  }

  test("repetitionSignals: hand-computed dup-line/para and top-ngram fractions, tie rule pinned") {
    val spark2 = spark
    import spark2.implicits._
    // doc 1: 4 lines, "dup" twice (3 chars dup'd); paragraphs: "a\nb" style
    val d1 = "dup\nunique line here\ndup\nother"
    // doc 2: repeated bigram "aa bb": words = aa bb aa bb aa -> bigrams:
    // "aa bb" x2, "bb aa" x2 -> tie at c=2 broken to "aa bb" (lexicographic)
    val d2 = "aa bb aa bb aa"
    // doc 3: empty text -> all zeros, denominators guarded
    val docs = Seq((1L, d1), (2L, d2), (3L, "")).toDF("doc_id", "text")
    val out = Text.repetitionSignals(docs).collect().map(r => r.getLong(0) -> r).toMap

    val r1 = out(1L)
    assert(r1.getLong(1) == 4L, "n_lines")                 // dup, unique line here, dup, other
    assert(r1.getLong(4) == 1L, "n_dup_lines")             // second "dup"
    assert(r1.getLong(5) == 3L, "n_dup_line_chars")
    assert(r1.getAs[Double]("dup_line_frac") == 0.25)
    // paragraphs: no \n\n -> 1 paragraph, no dups
    assert(r1.getLong(2) == 1L && r1.getLong(6) == 0L)

    val r2 = out(2L)
    // top bigram "aa bb" (5 chars) x2 over 14 text chars
    assert(r2.getLong(8) == 10L, s"top2_chars: ${r2.getLong(8)}")
    assert(r2.getAs[Double]("top2_char_frac") == math.rint(10.0 / 14 * 1e6) / 1e6)
    // top trigram: "aa bb aa" x2? words aa,bb,aa,bb,aa -> trigrams:
    // "aa bb aa" x2, "bb aa bb" x1 -> 2 * 8 = 16
    assert(r2.getLong(9) == 16L, s"top3_chars: ${r2.getLong(9)}")
    // top 4-gram: "aa bb aa bb" x1, "bb aa bb aa" x1 -> tie to lexicographic
    // smallest "aa bb aa bb", 1 * 11 = 11
    assert(r2.getLong(10) == 11L, s"top4_chars: ${r2.getLong(10)}")

    val r3 = out(3L)
    // "" splits to one empty line/para; no words; all counts 0 except n_lines/n_paras = 1
    assert(r3.getLong(1) == 1L && r3.getLong(2) == 1L && r3.getLong(3) == 0L)
    assert(r3.getLong(8) == 0L && r3.getAs[Double]("top2_char_frac") == 0.0)
  }

  test("pmiCollocations: hand-computed PMI on a micro corpus") {
    import spark.implicits._
    // tokens: a b a b | a c -> cu: a=3 b=2 c=1, T=6
    // bigrams: (a,b)x2 (b,a) (a,c) -> B=4
    val d = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = Text.pmiCollocations(d, minCount = 1).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet == Set(("a", "b"), ("b", "a"), ("a", "c")))
    // pmi(a,b) = ln((2/4)/((3/6)*(2/6))) = ln 3; pmi(b,a) = ln 1.5; pmi(a,c) = ln 3
    assert(out(("a", "b")) == ((2L, 1.098612)))
    assert(out(("b", "a")) == ((1L, 0.405465)))
    assert(out(("a", "c")) == ((1L, 1.098612)))
  }

  test("pmiCollocations: minCount floors rare bigrams; association outranks raw frequency") {
    import spark.implicits._
    // "x y" always together (perfect association) but rarer than "the the"
    val d = Seq((1L, "the the the the the the x y x y"), (2L, "x y rare pair")).toDF("doc_id", "text")
    val all = Text.pmiCollocations(d, minCount = 3).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(all.contains(("x", "y")) && all.contains(("the", "the")))
    assert(!all.contains(("rare", "pair")), "minCount must drop rare bigrams")
    assert(all(("x", "y")) > all(("the", "the")),
      "an always-together pair must out-score a merely frequent one")
  }

  test("pmiCollocations: bit-identical under repartitioning") {
    val d = graft.core.Tables.documents(spark, sfDir)
    assert(Text.pmiCollocations(d, minCount = 2).collect().toSeq ==
      Text.pmiCollocations(d.repartition(7), minCount = 2).collect().toSeq)
  }

  test("budgetSelect: greedy best-quality prefix within the token budget") {
    import spark.implicits._
    // ttr: doc1 = 1.0 (3 toks), doc2 = 0.666667 (3), doc3 = 0.333333 (3)
    val d = Seq((1L, "a b c"), (2L, "a a b"), (3L, "a a a")).toDF("doc_id", "text")
    def ids(budget: Long) =
      Text.budgetSelect(d, budget).collect().map(_.getLong(0)).toSeq
    assert(ids(9) == Seq(1L, 2L, 3L))
    assert(ids(6) == Seq(1L, 2L))
    assert(ids(5) == Seq(1L), "a doc that would overflow the budget is dropped")
    assert(ids(0) == Seq())
    // within one score bucket, lower doc_id wins the remaining budget
    val tie = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    assert(Text.budgetSelect(tie, 3).collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("budgetSelect: two-pass threshold is result-identical to the naive global window") {
    import org.apache.spark.sql.expressions.Window
    val d = graft.core.Tables.documents(spark, sfDir)
    val budget = 10000L
    import org.apache.spark.sql.functions.{lower, regexp_extract_all, size, lit}
    val naive = Text.qualityScore(d)
      .select(col("doc_id"), col("type_token_ratio"))
      .join(d.select(col("doc_id"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
          .cast("long").as("n_tokens")), "doc_id")
      .withColumn("_cum", org.apache.spark.sql.functions.sum("n_tokens")
        .over(Window.orderBy(col("type_token_ratio").desc, col("doc_id"))))
      .filter(col("_cum") <= budget)
      .select("doc_id", "type_token_ratio", "n_tokens")
      .orderBy(col("type_token_ratio").desc, col("doc_id"))
      .collect().toSeq
    val fast = Text.budgetSelect(d, budget).collect().toSeq
    assert(fast == naive)
    assert(fast.nonEmpty && fast.size < d.count(),
      "the fixture budget must select a strict, non-empty subset")
  }

  test("keyTerms: hand-computed TF-IDF, rare terms outrank frequent ones") {
    import spark.implicits._
    // N=3; 'rare' df=1 in doc1; 'the' df=3 (score 0 everywhere)
    val d = Seq((1L, "the rare rare"), (2L, "the the"), (3L, "the common")).toDF("doc_id", "text")
    val out = Text.keyTerms(d, topK = 2).collect()
      .map(r => (r.getLong(0), r.getLong(4)) -> ((r.getString(1), r.getLong(2), r.getDouble(3)))).toMap
    // doc1: rare tf=2 score 2*ln(3) = 2.197225; the tf=1 score 0
    assert(out((1L, 1L)) == (("rare", 2L, 2.197225)))
    assert(out((1L, 2L)) == (("the", 1L, 0.0)))
    // doc3: common tf=1 score ln(3) = 1.098612
    assert(out((3L, 1L)) == (("common", 1L, 1.098612)))
  }

  test("keyTerms: rank bound, per-doc coverage, bit-identical under repartitioning") {
    val d = graft.core.Tables.documents(spark, sfDir)
    val rows = Text.keyTerms(d, topK = 3).collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(4) <= 3L))
    assert(Text.keyTerms(d, topK = 3).collect().toSeq ==
      Text.keyTerms(d.repartition(7), topK = 3).collect().toSeq)
  }

  test("budgetSelect: bit-identical under repartitioning") {
    val d = graft.core.Tables.documents(spark, sfDir)
    assert(Text.budgetSelect(d, 5000).collect().toSeq ==
      Text.budgetSelect(d.repartition(7), 5000).collect().toSeq)
  }

  test("capSources: blocklist drops, caps rank-limit, unlisted pass whole") {
    import spark.implicits._
    val d = (1L to 30L).map { i =>
      val src = if (i <= 10) "a" else if (i <= 20) "b" else "c"
      (i, src, s"doc $i")
    }.toDF("doc_id", "source", "text")
    val got = Text.capSources(d, caps = Map("a" -> 3), blocked = Seq("c")).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
    assert(!got.exists(_._1 == "c"), "blocked source must vanish")
    assert(got.count(_._1 == "a") == 3, "capped source keeps exactly cap docs")
    assert(got.count(_._1 == "b") == 10, "unlisted source passes through whole")
    assert(got.filter(_._1 == "a").forall(_._3 <= 3))
    // the capped survivors are the md5-rank top-3 — same draw as
    // perSourceSample(k=3) restricted to that source
    val sample = Text.perSourceSample(d, 3).collect()
      .filter(_.getString(1) == "a").map(_.getLong(0)).toSet
    assert(got.filter(_._1 == "a").map(_._2).toSet == sample)
    // deterministic under repartitioning
    assert(Text.capSources(d, Map("a" -> 3), Seq("c")).collect().toSeq ==
      Text.capSources(d.repartition(7), Map("a" -> 3), Seq("c")).collect().toSeq)
  }

  test("qualityClassifier: matches a driver-computed gradient descent bit-for-bit") {
    val iters = 4
    val lr = 0.5
    val d = graft.core.Tables.documents(spark, sfDir)
    val q = Text.qualityRatios
    val rows = d.select(col("doc_id"), Text.gopherSignals.meanWordLen.as("x1"),
        q.stopwordRatio, q.typeTokenRatio,
        org.apache.spark.sql.functions.when(Text.gopherKeep(), 1.0).otherwise(0.0).as("y"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.map(_._5).distinct.length == 2,
      "fixture must contain both keep and drop labels for a meaningful fit")
    // replay the training loop on the driver: scale-18 HALF_UP per-term
    // quantization + exact BigDecimal summation = the operator's
    // DECIMAL(28,18) aggregate
    def sig(z: Double) = 0.5 + 0.5 * z / (1.0 + math.abs(z))
    val n = rows.length
    var w = Array(0.0, 0.0, 0.0, 0.0)
    for (_ <- 1 to iters) {
      val sums = Array.fill(4)(BigDecimal(0))
      rows.foreach { case (_, x1, x2, x3, y) =>
        val e = sig(w(0) + w(1) * x1 + w(2) * x2 + w(3) * x3) - y
        val terms = Array(e, e * x1, e * x2, e * x3)
        var j = 0
        while (j < 4) {
          sums(j) += BigDecimal(terms(j)).setScale(18, BigDecimal.RoundingMode.HALF_UP)
          j += 1
        }
      }
      w = Array.tabulate(4)(j => w(j) - lr * (sums(j).toDouble / n))
    }
    val expected = rows.map { case (id, x1, x2, x3, y) =>
      val s = sig(w(0) + w(1) * x1 + w(2) * x2 + w(3) * x3)
      (id, y.toLong,
        BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1).toSeq
    val got = Text.qualityClassifier(d, iters, lr).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected)
    // the fit genuinely learned the gate: kept docs score higher on average
    val (kept, dropped) = expected.partition(_._2 == 1L)
    assert(kept.map(_._3).sum / kept.size > dropped.map(_._3).sum / dropped.size,
      "mean score of keep-labeled docs must exceed the drop-labeled mean")
  }

  test("dedupLinesWithinDoc: first occurrence survives in order, blank runs collapse") {
    import spark.implicits._
    val d = Seq(
      (1L, "nav\nbody one\nnav\nbody two\nnav"),   // chrome repeated 3x
      (2L, "a\n\n\n\nb"),                          // blank-line run
      (3L, "unique\nlines\nonly"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = Text.dedupLinesWithinDoc(d).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("nav\nbody one\nbody two", 2L)))
    assert(got(2L) == (("a\n\nb", 2L)), "empty segments dedup like any line")
    assert(got(3L) == (("unique\nlines\nonly", 0L)))
    assert(got(4L) == (("", 0L)), "null text is total (treated as empty)")
    // paragraph variant: the same semantics on \n\n units
    val p = Seq((1L, "para one\n\npara one\n\npara two")).toDF("doc_id", "text")
    val gp = Text.dedupLinesWithinDoc(p, sep = "\n\n").collect().head
    assert(gp.getString(1) == "para one\n\npara two" && gp.getLong(2) == 1L)
  }

  test("duplicateRuns: hand-computed maximal spans, cross-document only") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d e x y z"),      // shares "a b c d e" with doc 2
      (2L, "q r a b c d e s"),
      (3L, "m n o m n o m n o"))    // self-repetition only: no cross-doc hit
      .toDF("doc_id", "text")
    val got = Text.duplicateRuns(d, k = 3, minRunTokens = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // doc 1: shared 3-grams at positions 1,2,3 → span tokens [1,5]
    // doc 2: shared 3-grams at positions 3,4,5 → span tokens [3,7]
    assert(got == Seq((1L, 1L, 5L, 5L), (2L, 3L, 7L, 5L)))
    // raising the floor above the span length drops both
    assert(Text.duplicateRuns(d, k = 3, minRunTokens = 6).count() == 0)
  }

  test("duplicateRuns: adjacent shared windows from DIFFERENT partners merge") {
    import spark.implicits._
    // doc 6 contains doc 4's text and doc 5's text overlapping at "c d e":
    // every 3-gram of doc 6 is shared with SOME doc, so its whole 7-token
    // body is one maximal span even though no single partner holds it all
    val d = Seq(
      (4L, "a b c d e"),
      (5L, "c d e f g"),
      (6L, "a b c d e f g")).toDF("doc_id", "text")
    val got = Text.duplicateRuns(d, k = 3, minRunTokens = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((4L, 1L, 5L), (5L, 1L, 5L), (6L, 1L, 7L)))
  }

  test("duplicateRuns: bit-identical under repartitioning") {
    val d = graft.core.Tables.documents(spark, sfDir)
    val a = Text.duplicateRuns(d).collect().toSeq
    assert(a.nonEmpty, "fixture corpus must contain duplicated runs")
    assert(a == Text.duplicateRuns(d.repartition(7)).collect().toSeq)
  }

  test("budgetSelect: score-degenerate corpus never windows the full input") {
    import spark.implicits._
    // every doc has the SAME type-token ratio (all tokens distinct → 1.0)
    // and 4 tokens — the post-dedup-boilerplate shape where the round-10
    // form collapsed to one single-task window over the whole corpus
    val n = 2000
    val d = (1 to n).map { i =>
      (i.toLong, s"w${4 * i} w${4 * i + 1} w${4 * i + 2} w${4 * i + 3}")
    }.toDF("doc_id", "text")
    val budget = 4L * 500 + 2 // 500 whole docs fit; 2 spare tokens
    // force refinement on this small fixture (minWindowRows below n)
    val got = Text.budgetSelect(d, budget, minWindowRows = 64L,
      maxWindowFraction = 0.1).collect().map(_.getLong(0)).toSeq
    // order within the constant score is doc_id asc → exactly docs 1..500
    assert(got == (1L to 500L), s"got ${got.size} rows, head=${got.take(3)}")
    // and the guard actually bit: with the same parameters the terminal
    // boundary bucket must be far below the corpus (doc_id-range descent),
    // here asserted via the observable — equality with the naive window —
    // plus an upper bound on what a single range bucket can hold (~n/100)
    val naive = Text.budgetSelect(d, budget).collect().map(_.getLong(0)).toSeq
    assert(naive == got, "refined and default paths must agree")
  }

  test("budgetSelect: total on null text (worst quality, zero tokens)") {
    import spark.implicits._
    val d = Seq((1L, "a b c"), (2L, null.asInstanceOf[String]), (3L, "a a b"))
      .toDF("doc_id", "text")
    // null doc scores -1.0 (last) and costs 0 tokens: budget 6 keeps the
    // two real docs AND the free null doc at the tail
    val got = Text.budgetSelect(d, 6).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 1.0, 3L), (3L, 0.666667, 3L), (2L, -1.0, 0L)))
    // budget 3: only the best doc fits — the 0.666667 bucket becomes the
    // boundary and the null doc behind it is dropped wholesale, exactly
    // like the naive window (its cum 6 > 3 even at zero cost)
    assert(Text.budgetSelect(d, 3).collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("c4Clean: line rules, page gates, and the kept-lines page verdict") {
    import spark.implicits._
    val good = "This line has five proper words.\nAnd this one also has enough words!\nA third sentence keeps the page alive?"
    val d = Seq(
      (1L, good),                                        // 3 good lines → kept
      (2L, "Too short.\nno terminal punctuation here at all\n  Trimmed line that ends well and has words.  "),
      (3L, "Please enable JavaScript to view this page.\nThe other line is long enough to survive here."),
      (4L, "Perfectly fine prose with many words here.\nBut the page contains { a curly brace."),
      (5L, "Lorem Ipsum dolor sit amet is boilerplate text."),
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Text.c4Clean(d).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(out(1L) == ((good, 3L, 3L, true)))
    // doc 2: "Too short." fails minWords; middle line fails terminal punct;
    // third survives TRIMMED; 1 kept < 3 → page dropped but text audited
    assert(out(2L) == (("Trimmed line that ends well and has words.", 3L, 1L, false)))
    // doc 3: javascript line removed regardless of its shape
    assert(out(3L) == (("The other line is long enough to survive here.", 2L, 1L, false)))
    // docs 4/5: page gates fire before any line is considered
    assert(out(4L) == (("", 2L, 0L, false)))
    assert(out(5L) == (("", 1L, 0L, false)))
    // null text → one empty line, nothing kept
    assert(out(6L) == (("", 1L, 0L, false)))
  }

  test("normalizeText: NFC composition, control strip, whitespace collapse — hashes unify") {
    import spark.implicits._
    val d = Seq(
      (1L, "caf\u00e9 au lait"),          // precomposed e-acute
      (2L, "cafe\u0301 au \t\t lait\r"), // decomposed e+U+0301, tab run, CR
      (3L, "  leading and trailing  "),
      (4L, "ctrl\u0001chars\u0007gone"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Text.normalizeText(d).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(out(1L)._1 == "caf\u00e9 au lait" && !out(1L)._4, "already-clean row unchanged")
    assert(out(2L)._1 == "caf\u00e9 au lait" && out(2L)._4,
      "decomposed accent composes, tab run collapses, CR stripped")
    assert(out(3L)._1 == "leading and trailing")
    assert(out(4L)._1 == "ctrlcharsgone" && out(4L)._2 == 15L && out(4L)._3 == 13L)
    assert(out(5L) == (("", 0L, 0L, false)), "null text is total (empty, unchanged)")
  }

  test("readability: closed-form Flesch; terminator runs count once; empty text is null, not a blow-up") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "Hello world. This is a test."),
      (2L, "Wait... what?!"), // "..." and "?!" are ONE terminator run each
      (3L, "")).toDF("doc_id", "text")
    val out = Text.readability(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_words") == 6L)
    assert(r1.getAs[Long]("n_sentences") == 2L)
    assert(r1.getAs[Long]("n_syllables") == 7L)
    // 206.835 - 1.015*(6/2) - 84.6*(7/6)
    val want = BigDecimal(206.835 - 1.015 * 3.0 - 84.6 * (7.0 / 6.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r1.getAs[Double]("flesch") == want)
    assert(out(2L).getAs[Long]("n_sentences") == 2L)
    assert(out(3L).getAs[Long]("n_words") == 0L && out(3L).isNullAt(out(3L).fieldIndex("flesch")))
  }

  test("sourceConcentration: monopoly scores 1, balanced mix scores 1/n, top share exact") {
    val spark2 = spark
    import spark2.implicits._
    val df = (Seq.fill(10)(("en", "srcA")) ++
      Seq.fill(5)(("de", "srcA")) ++ Seq.fill(5)(("de", "srcB")) ++
      Seq(("fr", "srcA"), ("fr", "srcB"), ("fr", "srcB"), ("fr", "srcB")))
      .zipWithIndex.map { case ((l, s), i) => (i.toLong, "txt", l, s) }
      .toDF("doc_id", "text", "lang", "source")
    val out = Text.sourceConcentration(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("en").getAs[Double]("hhi") == 1.0 &&
      out("en").getAs[Double]("top_share") == 1.0 &&
      out("en").getAs[Long]("n_sources") == 1L, "monopoly = 1")
    assert(out("de").getAs[Double]("hhi") == 0.5 &&
      out("de").getAs[Double]("top_share") == 0.5, "two equal sources = 1/2")
    // fr: shares 1/4 and 3/4 => hhi = 1/16 + 9/16 = 0.625
    assert(out("fr").getAs[Double]("hhi") == 0.625 &&
      out("fr").getAs[Double]("top_share") == 0.75)
    assert(out.values.forall(r => r.getAs[Long]("n_docs") > 0))
  }

  test("ngramNovelty: first doc owns its grams; repeats score by first occurrence; short docs have no row") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "a b c d"),   // grams {a b c, b c d} — both first here
      (2L, "a b c x"),   // {a b c (seen), b c x (new)} => 1/2
      (3L, "a b"),       // < 3 tokens: no grams, no row
      (4L, "a b c d")).toDF("doc_id", "text") // exact repeat: novelty 0
    val out = Text.ngramNovelty(df).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_ngrams"), r.getAs[Long]("n_novel"),
        r.getAs[Double]("novelty"))).toMap
    assert(out(1L) == ((2L, 2L, 1.0)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(!out.contains(3L), "sub-n docs have undefined novelty, not zero")
    assert(out(4L) == ((2L, 0L, 0.0)))
    assert(org.apache.spark.sql.GraftSqlBridge.sqlCacheIsEmpty(spark),
      "the gram table must leave no SQL cache entry")
  }

  test("jsDivergence: identical sources diverge 0; disjoint vocabularies diverge strongly; symmetric by construction") {
    import spark.implicits._
    val same = Seq(
      (1L, "aa bb cc aa", "s1"), (2L, "aa bb cc aa", "s2"))
      .toDF("doc_id", "text", "source")
    val out0 = Text.jsDivergence(same, vocabK = 10).collect()
    assert(out0.length == 1)
    assert(out0.head.getAs[Double]("jsd") == 0.0, "identical distributions")
    val diff = Seq(
      (1L, "aa aa aa aa", "s1"), (2L, "bb bb bb bb", "s2"),
      (3L, "aa aa aa aa", "s3"))
      .toDF("doc_id", "text", "source")
    val out1 = Text.jsDivergence(diff, vocabK = 10).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("jsd")).toMap
    assert(out1(("s1", "s3")) == 0.0)
    assert(out1(("s1", "s2")) > 0.2, "disjoint token mass must diverge")
    assert(out1(("s1", "s2")) == out1(("s2", "s3")),
      "JSD depends only on the distributions")
    assert(out1(("s1", "s2")) < math.log(2.0), "bounded by ln 2")
  }

  test("langIdEval: confusion cells, out-of-repertoire golds land visibly, gold shares sum to 1") {
    import spark.implicits._
    val rows = Seq(
      (1L, "the and of to is in", "en"),   // correct en
      (2L, "der die und das ist", "en"),   // en gold misrouted to de
      (3L, "el la de que y en", "es"),     // correct es
      (4L, "汉字 漢字 without stopwords", "zh")) // outside the repertoire -> und
    val out = Text.langIdEval(rows.toDF("doc_id", "text", "lang")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out(("en", "en")) == ((1L, 0.5)))
    assert(out(("en", "de")) == ((1L, 0.5)))
    assert(out(("es", "es")) == ((1L, 1.0)))
    assert(out(("zh", "und")) == ((1L, 1.0)))
    // shares within each gold row sum to 1
    val byGold = out.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2._2).sum)
    assert(byGold.forall { case (_, s) => math.abs(s - 1.0) < 1e-9 })
  }

  test("qualityCalibration: bins partition the corpus; fields internally consistent") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val out = Text.qualityCalibration(docs).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Long]("n_docs")).sum == docs.count())
    out.foreach { r =>
      val bin = r.getAs[Long]("bin")
      assert(bin >= 0 && bin <= 9)
      val ms = r.getAs[Double]("mean_score")
      assert(ms >= bin / 10.0 - 1e-9 && (bin == 9 || ms < (bin + 1) / 10.0 + 1e-9))
      val kr = r.getAs[Double]("keep_rate")
      assert(kr >= 0.0 && kr <= 1.0)
      assert(r.getAs[Double]("gap") ==
        BigDecimal(kr - ms).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("keptRateWilson: exact counts, hand-computed Wilson bounds, [0,1] sanity") {
    import spark.implicits._
    val prose = ("the quick brown fox jumps over a lazy dog and runs far away " * 5).trim
    val rows = Seq(
      (1L, prose, "s1"), (2L, prose, "s1"),
      (3L, "short with the", "s1"), (4L, "also short the", "s1"),
      (5L, prose, "s2"))
    val df = rows.toDF("doc_id", "text", "source")
    val out = Text.keptRateWilson(df).collect().map(r => r.getString(0) -> r).toMap
    val s1 = out("s1")
    assert(s1.getAs[Long]("n_docs") == 4L && s1.getAs[Long]("n_kept") == 2L)
    assert(s1.getAs[Double]("kept_rate") == 0.5)
    // hand-computed Wilson at n=4, p=0.5, z=1.96
    val z = 1.96; val z2 = z * z; val n = 4.0; val p = 0.5
    val den = 1.0 + z2 / n
    val c = (p + z2 / (2 * n)) / den
    val h = z * math.sqrt(p * (1 - p) / n + z2 / (4 * n * n)) / den
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(s1.getAs[Double]("wilson_lo") == r6(c - h))
    assert(s1.getAs[Double]("wilson_hi") == r6(c + h))
    // single kept doc: interval is wide but stays inside [0,1]
    val s2 = out("s2")
    assert(s2.getAs[Double]("kept_rate") == 1.0)
    assert(s2.getAs[Double]("wilson_lo") > 0.0 && s2.getAs[Double]("wilson_hi") <= 1.0)
    assert(s2.getAs[Double]("wilson_lo") <= 1.0 - 1e-6,
      "n=1 at p=1 must not claim certainty")
  }
}
