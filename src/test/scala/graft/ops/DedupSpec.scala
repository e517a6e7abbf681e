package graft.ops

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import org.apache.spark.sql.Row

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exactDedup keeps min doc_id per distinct text with duplicate count") {
    val d = docs((1L, "a b c"), (2L, "a b c"), (3L, "x y z"), (4L, "a b c"))
    val out = Dedup.exactDedup(d).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet == Set((1L, 3L), (3L, 1L)))
  }

  test("hashDedup agrees with exactDedup") {
    val d = Tables.documents(spark, sfDir)
    val a = Dedup.exactDedup(d).collect().toSeq
    val b = Dedup.hashDedup(d).collect().toSeq
    assert(a == b)
  }

  test("jaccardPairs: identical docs have jaccard 1.0, disjoint docs absent") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely here now today friend"))
    val out = Dedup.jaccardPairs(d, 0.5).collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 2L)
    assert(out.head.getDouble(2) == 1.0)
  }

  test("jaccardPairs: hash-order and df-order prefixes give identical exact results") {
    val d = Tables.documents(spark, sfDir)
    val a = Dedup.jaccardPairs(d, 0.5, orderByDocFreq = false).collect().toSeq
    val b = Dedup.jaccardPairs(d, 0.5, orderByDocFreq = true).collect().toSeq
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("minhashPairs finds the same near-dup pairs as exact jaccardPairs on fixture docs") {
    val d = Tables.documents(spark, sfDir)
    val exact = Dedup.jaccardPairs(d, 0.5).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(d, 0.5).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH output is exact-verified => no false positives
    assert(lsh.subsetOf(exact))
    // banding (16 bands x 4 rows) catches J>=0.5 pairs with high prob; the
    // fixture's planted near-dups are J≈1.0 where recall is ~certain
    assert(lsh == exact, s"LSH missed pairs: ${exact -- lsh}")
  }

  test("dupClusters: transitive duplicates collapse into one min-id cluster") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "the quick brown fox jumps over the lazy dog again today"),
      (3L, "the quick brown fox jumps over the lazy dog again today"),
      (5L, "an entirely different document about spark engines and scale"),
      (6L, "an entirely different document about spark engines and scale"),
      (9L, "nothing like anything else at all here friend zebra walrus"))
    val out = Dedup.dupClusters(d, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("dupClusters: distributed label propagation converges on a long duplicate chain") {
    // past the driver union-find's edge cap: 100 000 disjoint pairs plus a
    // 30-link chain 1~2~…~31. The chain minimum sits at one end, so plain
    // propagation would need ~30 rounds; every chain node must still get
    // the chain minimum
    val disjoint = spark.range(100000L).select(
      (col("id") * 2 + 1000L).as("id_a"), (col("id") * 2 + 1001L).as("id_b"))
    val chain = spark.range(1L, 31L).select(col("id").as("id_a"),
      (col("id") + 1).as("id_b"))
    val out = Dedup.clusterPairs(disjoint.unionByName(chain))
      .filter(col("doc_id") <= 31L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == (1L to 31L).map(_ -> 1L).toMap)
  }

  test("simhash: identical texts get identical fingerprints; near-identical are close") {
    val d = docs(
      (1L, "spark engine table scan filter join aggregate window stream batch"),
      (2L, "spark engine table scan filter join aggregate window stream batch"),
      (3L, "zebra yak xylophone walrus vulture tiger snake rhino quail pig"))
    val fp = Dedup.simhash(d).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fp(1L) == fp(2L))
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(3L)) > 3)
  }

  test("simhashPairs: duplicates within hamming radius, blocking loses no close pair") {
    val d = docs(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight nine ten"))
    val pairs = Dedup.simhashPairs(d, 3).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("dupClusters: small-graph union-find equals distributed label propagation") {
    val documents = Tables.documents(spark, sfDir)
    val fast = Dedup.dupClusters(documents, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val distributed = Graph.connectedComponents(Dedup.jaccardPairs(documents, 0.5)
        .select(col("id_a").as("src"), col("id_b").as("dst")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fast.nonEmpty && fast.sameElements(distributed))
  }

  test("decontaminate: drops docs overlapping the benchmark, keeps disjoint ones") {
    val train = docs(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),   // = benchmark doc
      (2L, "prefix words then alpha beta gamma delta epsilon"), // shares 3-grams
      (3L, "совершенно unrelated content zebra walrus pelican otter badger"),
      (4L, "tiny"))                                             // <3 tokens: no shingles
    val benchmark = docs((100L, "alpha beta gamma delta epsilon zeta eta theta"))
    val kept = Dedup.decontaminate(train, benchmark).collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L))
  }

  test("contaminationBySource: per-feed rates agree with the exact guard's doc verdicts") {
    val spark2 = spark
    import spark2.implicits._
    val train = Seq(
      (1L, "web", "alpha beta gamma delta epsilon zeta eta theta"),   // contaminated
      (2L, "web", "prefix words then alpha beta gamma delta epsilon"), // contaminated
      (3L, "web", "unrelated content zebra walrus pelican otter"),     // clean
      (4L, "books", "tiny"),                                           // <3 tokens: clean
      (5L, "books", "totally different prose with no benchmark overlap at all"))
      .toDF("doc_id", "source", "text")
    val benchmark = docs((100L, "alpha beta gamma delta epsilon zeta eta theta"))
    val out = Dedup.contaminationBySource(train, benchmark).collect()
      .map(r => (r.getString(0), r.getBoolean(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    // contingency rows exist only for observed verdicts: books has no
    // contaminated row at all
    assert(out == Map(
      ("books", false) -> ((2L, 1.0)),
      ("web", false) -> ((1L, 0.333333)),
      ("web", true) -> ((2L, 0.666667))))
  }

  test("dedupLines: first corpus occurrence survives, short lines untouched, empty-doc preserved") {
    val spark2 = spark
    import spark2.implicits._
    val boiler = "this is a long boilerplate footer line repeated across documents"
    val unique = "this long line appears in exactly one single document only here"
    val docs = Seq(
      (1L, s"$boiler\nshort\n$unique"),
      (2L, s"intro line that is long enough to participate in dedup\n$boiler"),
      (3L, s"$boiler"),        // loses its only line -> empty text, still a row
      (4L, "short\ntiny")      // all short lines: untouched
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((s"$boiler\nshort\n$unique", 3L, 0L)))
    assert(out(2L)._1 == "intro line that is long enough to participate in dedup" &&
      out(2L)._3 == 1L)
    assert(out(3L) == (("", 0L, 1L)), s"doc 3 must survive as a row: ${out(3L)}")
    assert(out(4L) == (("short\ntiny", 2L, 0L)))
    // removal conservation: removed lines = duplicate long-line instances
    assert(out.values.map(_._3).sum == 2L)
  }

  test("decontaminateFuzzy: containment rule — partial quotes drop, incidental trigrams survive") {
    val train = docs(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),   // = benchmark: containment 1
      (2L, "prefix words then alpha beta gamma delta epsilon"), // covers 3 of 6 bench grams
      (3L, "alpha beta gamma but then totally different words entirely here"), // 1 of 6
      (4L, "совершенно unrelated content zebra walrus pelican otter badger"),
      (5L, "tiny"))
    val benchmark = docs((100L, "alpha beta gamma delta epsilon zeta eta theta"))
    // bench has 6 distinct trigrams; τ=0.5 needs ≥3 covered
    val kept = Dedup.decontaminateFuzzy(train, benchmark, tau = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L, 5L),
      s"only full/half quotes should drop at tau=0.5, kept: $kept")
    // the exact guard is strictly more aggressive: fuzzy survivors ⊇ exact
    val exact = Dedup.decontaminate(train, benchmark).collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(kept))
    // raising τ past any partial coverage keeps everything but the verbatim copy
    val strict = Dedup.decontaminateFuzzy(train, benchmark, tau = 0.99)
      .collect().map(_.getLong(0)).toSet
    assert(strict == Set(2L, 3L, 4L, 5L))
  }

  test("decontaminateFuzzy on the fixture: survivors are a superset of the exact guard's") {
    val documents = Tables.documents(spark, sfDir)
    val benchmark = documents.filter(pmod(col("doc_id"), lit(50)) === 0)
    val exact = Dedup.decontaminate(documents, benchmark).collect().map(_.getLong(0)).toSet
    val fuzzy = Dedup.decontaminateFuzzy(documents, benchmark)
      .collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(fuzzy), "any-overlap dropping must imply containment dropping")
    // benchmark members contain themselves fully (containment 1 ≥ τ), so
    // every benchmark doc that has shingles at all must be dropped
    val benchIds = benchmark.select("doc_id").collect().map(_.getLong(0)).toSet
    val dropped = benchIds -- fuzzy
    assert(dropped.nonEmpty, "self-contained benchmark members must drop")
  }

  test("decontaminateBloom: never keeps a contaminated doc, over-removal bounded by fpp") {
    val documents = Tables.documents(spark, sfDir)
    val benchmark = documents.filter(pmod(col("doc_id"), lit(50)) === 0)
    val exact = Dedup.decontaminate(documents, benchmark).collect().map(_.getLong(0)).toSet
    val bloom = Dedup.decontaminateBloom(documents, benchmark).collect().map(_.getLong(0)).toSet
    // no false negatives: everything the exact path drops, bloom drops too
    assert(bloom.subsetOf(exact))
    // over-removal stays rare at fpp=1e-3 on the fixture corpus
    assert((exact -- bloom).size <= math.max(2, exact.size / 100),
      s"bloom over-removed ${(exact -- bloom).size} of ${exact.size}")
  }

  test("scoped persist: every scoped-persist operator releases its cache after the first consuming action") {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.clearSqlCache(spark) // isolate from any earlier suite's cache state
    val documents = Tables.documents(spark, sfDir)
    // one consuming action per operator family that materializes
    // internally: nothing may be left behind in the SQL cache
    val consumers: Seq[(String, () => Unit)] = Seq(
      "jaccardPairs" -> (() => Dedup.jaccardPairs(documents, 0.5).count()),
      "minhashPairs" -> (() => Dedup.minhashPairs(documents, 0.5).count()),
      "dedupKeepList" -> (() => Dedup.dedupKeepList(documents, 0.5).count()),
      "duplicatePassageStats" -> (() => Text.duplicatePassageStats(documents).count()),
      "curateWith(minhash)" -> (() => Pipelines.curateWith(documents,
        Dedup.minhashPairs(_, 0.5, sorted = false)).count()))
    consumers.foreach { case (name, run) =>
      run()
      assert(GraftSqlBridge.sqlCacheIsEmpty(spark),
        s"$name left a persisted intermediate in the SQL cache after consumption")
    }
  }

  test("incrementalDedup: intra-batch min-id keepers, cross-corpus drops, novel content survives") {
    import spark.implicits._
    val existing = Seq((1L, "alpha corpus text"), (2L, "beta corpus text")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "alpha corpus text"),  // cross-corpus dup → dropped
      (11L, "gamma new text"),     // novel, intra-batch dup pair with 12
      (12L, "gamma new text"),     // loses to 11 (min id)
      (13L, "delta new text")      // novel singleton
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(incoming, existing).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(11L, 13L))
    // digests ride along for appending to the corpus digest store
    assert(out.forall(_.getString(1).length == 64))
    // idempotence: re-running the survivors against existing+survivors drops everything
    val appended = existing.unionByName(incoming.filter(col("doc_id").isin(11L, 13L)))
    assert(Dedup.incrementalDedup(incoming, appended).collect().isEmpty)
  }

  test("minhashPairs matches its generated DuckDB oracle's candidate semantics driver-side") {
    // independent reimplementation of the portable signature family: the
    // md5-derived 48-bit gram hash + prime-field affine minima + banding,
    // computed driver-side from raw text — pins the oracle arithmetic
    // (coefficients, modulus, band grouping) without needing DuckDB here
    val d = Tables.documents(spark, sfDir)
    val p = 2147483647L
    val coeffs = Dedup.minhashCoeffs(64)
    val md = java.security.MessageDigest.getInstance("MD5")
    val sets = d.select("doc_id", "text").collect().map { r =>
      val toks = "[a-z0-9]+".r.findAllIn(r.getString(1).toLowerCase).toArray
      val hs = toks.sliding(3).filter(_.length == 3)
        .map(g => Text.gramHash48Local(md, g.mkString(" "))).toSet
      r.getLong(0) -> hs
    }.filter(_._2.nonEmpty)
    val sigs = sets.map { case (id, hs) =>
      id -> coeffs.map { case (a, b) => hs.map(h => (a * (h % p) + b) % p).min }.toArray
    }
    val expected = (for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      (ia, sa) = sigs(i); (ib, sb) = sigs(j)
      if (0 until 16).exists(bd => (bd * 4 until bd * 4 + 4).forall(x => sa(x) == sb(x)))
      (la, ha) = (ia, sets(i)._2); (lb, hb) = (ib, sets(j)._2)
      inter = ha.intersect(hb).size.toDouble
      jac = inter / (ha.size + hb.size - inter)
      if jac >= 0.5
    } yield (math.min(sigs(i)._1, sigs(j)._1), math.max(sigs(i)._1, sigs(j)._1))).toSet
    val got = Dedup.minhashPairs(d, 0.5).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected, s"minhash pairs diverged: extra=${got -- expected} missing=${expected -- got}")
    assert(got.nonEmpty)
  }

  test("dedupKeepList: precomputed-clusters overload equals the standalone form") {
    val documents = Tables.documents(spark, sfDir)
    val clusters = Dedup.dupClusters(documents, 0.5)
    val standalone = Dedup.dedupKeepList(documents, 0.5).collect().map(_.getLong(0))
    val reused = Dedup.dedupKeepList(documents, clusters).collect().map(_.getLong(0))
    assert(standalone.sameElements(reused))
  }

  test("dupRateBySource: cross-source copies count for both sources; unique docs do not") {
    import spark.implicits._
    val d = Seq(
      (1L, "same text", "web"), (2L, "same text", "books"), // cross-source dup
      (3L, "only once", "web"), (4L, "web twin", "web"), (5L, "web twin", "web")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.dupRateBySource(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out("web") == ((4L, 3L, 0.75)), s"web: ${out("web")}")
    assert(out("books") == ((1L, 1L, 1.0)), s"books: ${out("books")}")
  }

  test("dedupLines plan: first-occurrence pick is a partial-aggregable aggregate, not a line-text window") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a long enough line to participate in the dedup pass\nshort"))
      .toDF("doc_id", "text")
    val plan = Dedup.dedupLines(docs).queryExecution.executedPlan.toString
    // the round-10 de-skew contract: no row_number window partitioned by
    // raw line text (the hottest key of a real corpus — blank lines —
    // would shuffle into ONE task); the pick must be an aggregate so
    // map-side combine absorbs duplicate-heavy keys before the wire
    assert(!plan.contains("Window"), s"window found in plan:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("partial min"),
      s"expected a partial min aggregate (map-side combine) in plan:\n$plan")
  }

  test("dedupParagraphs: first corpus occurrence of a long paragraph survives, \\n\\n units preserved") {
    val spark2 = spark
    import spark2.implicits._
    val boiler = "this is a long boilerplate license paragraph repeated across documents"
    val docs = Seq(
      (1L, s"$boiler\n\nunique paragraph long enough to participate in the dedup"),
      (2L, s"another unique paragraph that is long enough to participate\n\n$boiler"),
      (3L, "short\n\ntiny") // all short paragraphs: untouched
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L)._2 == 2L && out(1L)._3 == 0L)
    assert(out(2L)._1 == "another unique paragraph that is long enough to participate" &&
      out(2L)._3 == 1L, s"doc 2 should lose the boilerplate copy: ${out(2L)}")
    assert(out(3L) == (("short\n\ntiny", 2L, 0L)))
    // single-\n lines inside a paragraph are NOT dedup units here
    val mixed = Seq(
      (1L, "aaa long enough paragraph with internal structure kept intact\nbbb"),
      (2L, "aaa long enough paragraph with internal structure kept intact\nbbb")
    ).toDF("doc_id", "text")
    val m = Dedup.dedupParagraphs(mixed).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(m(1L) == 0L && m(2L) == 1L, "the whole \\n-joined unit dedups as ONE paragraph")
  }

  test("clusterSafeSplit: near-dup clusters land in ONE fold; a member's solo assignment is overridden") {
    import spark.implicits._
    // md5 first hex: 5 -> 'e' (train), 6 -> '1' (val). Docs 5 and 6 are
    // near-identical -> cluster root 5 -> BOTH train, although doc 6 alone
    // would be val; doc 9 ('4' -> val) stays a singleton
    val near = "this is a shared near duplicate document body with many tokens in common"
    val d = Seq(
      (5L, near + " five"),
      (6L, near + " six"),
      (9L, "a completely different singleton text about nothing shared at all here")
    ).toDF("doc_id", "text")
    val out = Dedup.clusterSafeSplit(d, 0.5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(5L) == ((5L, "train")))
    assert(out(6L) == ((5L, "train")), "near-dup of doc 5 must follow the cluster root's fold")
    assert(out(9L) == ((9L, "val")), "singletons keep their per-id assignment")
    // sanity: the solo rule WOULD have put 6 in val
    val solo = Text.trainValSplit(d).collect().map(r => r.getString(1))
    assert(solo.toSeq == Seq("train", "val", "val"))
  }

  test("clusterSafeSplit: on a dup-free corpus it IS trainValSplit, and every cluster is fold-pure") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val out = Dedup.clusterSafeSplit(docs, 0.5).persist()
    // fold purity: one distinct split per cluster root
    val impure = out.groupBy("cluster_root")
      .agg(org.apache.spark.sql.functions.countDistinct("split").as("k"))
      .filter(org.apache.spark.sql.functions.col("k") > 1).count()
    assert(impure == 0L, "every near-dup cluster must sit in exactly one fold")
    // singleton rows agree with the per-id rule
    val solo = Text.trainValSplit(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.filter(org.apache.spark.sql.functions.col("doc_id") ===
        org.apache.spark.sql.functions.col("cluster_root"))
      .collect().foreach(r => assert(r.getString(2) == solo(r.getLong(0))))
    out.unpersist()
  }

  test("tfidfCosinePairs: identical docs cos 1.0; disjoint docs pair-free; df cap drops boilerplate shingles from the space") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "one two three four five")).toDF("doc_id", "text")
    val out = Dedup.tfidfCosinePairs(df).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)))
    assert(r.getAs[Long]("n_shared") == 2L, "two 3-gram shingles shared")
    assert(r.getAs[Double]("cos") == 1.0)
    // dfCap as contract: with the cap below the shared shingles' df (2),
    // the vector space loses them and the pair disappears — by DEFINITION,
    // not approximation (df > cap shingles are corpus boilerplate)
    // (guarded: df=1 shingles remain, norms stay valid)
    val capped = Dedup.tfidfCosinePairs(df, dfCap = 2, n = 3)
    assert(capped.collect().length == 1, "cap 2 keeps df=2 shingles")
    assert(org.apache.spark.sql.GraftSqlBridge.sqlCacheIsEmpty(spark),
      "the postings table must leave no SQL cache entry")
    intercept[IllegalArgumentException](Dedup.tfidfCosinePairs(df, threshold = 0.0))
    intercept[IllegalArgumentException](Dedup.tfidfCosinePairs(df, dfCap = 1))
  }

  test("tfidfCosinePairs: weighted vs unweighted — a shared RARE shingle outscores shared boilerplate") {
    val spark2 = spark
    import spark2.implicits._
    // the boiler tail sits in docs 1-4 of 5 (df=4, idf ln(5/4) ≈ 0.22);
    // the rare marker shingles sit only in docs 1/2 (df=2, idf ln(5/2)).
    // Docs 1&2 share rare+boiler, docs 3&4 share ONLY boiler — the
    // weighted cosine must rank (1,2) far above (3,4), which is exactly
    // what unweighted Jaccard gets wrong when boilerplate dominates.
    val boiler = "copyright footer all rights reserved"
    val df = Seq(
      (1L, s"unique marker phrase here $boiler"),
      (2L, s"unique marker phrase here $boiler also"),
      (3L, s"totally different body text $boiler"),
      (4L, s"another unrelated body words $boiler yes"),
      (5L, "fresh standalone content sharing nothing with anyone else"))
      .toDF("doc_id", "text")
    val out = Dedup.tfidfCosinePairs(df, threshold = 0.005).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cos")).toMap
    assert(out.contains((3L, 4L)), s"boiler-only pair should clear 0.005: $out")
    assert(out((1L, 2L)) > 10 * out((3L, 4L)),
      s"rare shared shingles must outweigh boilerplate: $out")
  }
}
