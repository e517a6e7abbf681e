package graft.core

import graft.{SparkSpec, TestSpark}
import org.apache.spark.sql.types._

/** Schema-drift canary (round-8 VERDICT item 8).
  *
  * Round 7 lost 12 correctness rows, the whole bench artifact, and 10
  * tests to ONE silent fixture regeneration (`events.ts` flipped from
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS) after the snapshot). This spec
  * pins, for every fixture table at every scale factor:
  *   - the POST-LOAD schema seen through [[Tables.load]] — the contract
  *     every operator consumes (FIXTURES.md is the prose mirror), and
  *   - for `events`, that the RAW parquet dtype is one of the eras the
  *     adaptive loader understands.
  * The next regeneration then fails exactly one named test with the
  * drifted column in the message, instead of ten scattered suites.
  */
class FixturesSpec extends SparkSpec {

  private val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")

  /** name -> expected (column, dataType) in declared order, as produced by
    * Tables.load. Kept in sync with FIXTURES.md.
    */
  private val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType))

  test("every fixture table loads with the FIXTURES.md schema at every SF") {
    assert(expected.keySet == Tables.all.toSet, "canary table list drifted from Tables.all")
    val drift = for {
      dir <- sfDirs
      name <- Tables.all
      got = Tables.load(spark, dir, name).schema
        .fields.toSeq.map(f => (f.name, f.dataType))
      if got != expected(name)
    } yield s"$dir/$name: got ${got.mkString(", ")} — expected ${expected(name).mkString(", ")}"
    assert(drift.isEmpty, "FIXTURE SCHEMA DRIFT (update Tables.load + FIXTURES.md + this spec):\n" +
      drift.mkString("\n"))
  }

  test("events.ts raw parquet dtype is an era Tables.load understands") {
    import org.apache.spark.sql.types.{LongType => L, TimestampNTZType => NTZ, TimestampType => TS}
    for (dir <- sfDirs) {
      val raw = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
      assert(Set[DataType](L, NTZ, TS).contains(raw),
        s"$dir/events.parquet ts loaded as $raw — a NEW fixture era; extend Tables.load")
    }
  }

  test("Tables.load memoizes resolution per session and re-resolves per session") {
    // within one session the same (dir, name) returns the SAME DataFrame
    // instance — the catalog-analog memo that removes per-query re-listing
    // and footer re-inference from the bench floor (PerfProbe `floor`:
    // 70-90 ms/table/call on this host)
    val a = Tables.load(spark, sfDir, "lineitem")
    val b = Tables.load(spark, sfDir, "lineitem")
    assert(a eq b, "same-session load must return the memoized instance")
    // a DIFFERENT session must not see the first session's plans — and
    // (round 11, from the round-10 review) must not EVICT them either:
    // the memo is keyed per session UUID (round 12: an LRU over session
    // IDs, not a WeakHashMap — the cached plans strongly reference their
    // session, so weak keys could never clear), so two concurrently active
    // sessions each keep their own resolution cache instead of
    // ping-ponging one last-session-wins slot
    val other = spark.newSession()
    val c = Tables.load(other, sfDir, "lineitem")
    assert(!(c eq a), "a new session must resolve its own relation")
    assert(c.sparkSession eq other)
    val d = Tables.load(spark, sfDir, "lineitem")
    assert(d eq a,
      "the first session's memo survives another session's loads (no ping-pong)")
    assert(Tables.load(other, sfDir, "lineitem") eq c,
      "and the second session's memo survives too")
    assert(c.count() == a.count(), "both sessions read the same data")
  }

  test("Tables.load memo residency is bounded under session churn (round-11 review)") {
    // The round-11 WeakHashMap keyed the memo by the session while its
    // cached DataFrames strongly referenced that same session — per the
    // WeakHashMap contract a value that reaches its own key is never
    // reclaimed, so every session ever created (test suites make many)
    // leaked for the JVM lifetime. The round-12 memo is an explicit LRU
    // over session UUIDs: churning far more sessions than the bound must
    // leave the resident count at the bound, and the evicted (oldest)
    // session must simply re-resolve on its next load — correct, just
    // uncached.
    val first = spark.newSession()
    val a = Tables.load(first, sfDir, "region")
    val churned = (1 to 12).map { _ =>
      val s = spark.newSession()
      Tables.load(s, sfDir, "region")
      s
    }
    assert(Tables.memoSessionCount <= 8,
      s"memo must stay bounded under churn, saw ${Tables.memoSessionCount}")
    // `first` fell off the LRU tail: a fresh load re-resolves (new frame),
    // and after it the memo is again bounded
    val a2 = Tables.load(first, sfDir, "region")
    assert(!(a2 eq a), "evicted session must re-resolve, not resurrect the old entry")
    assert(Tables.load(first, sfDir, "region") eq a2, "and is memoized again after")
    assert(Tables.memoSessionCount <= 8)
    churned.foreach(_ => ()) // keep the sessions reachable through the assertions above
  }

  test("a fresh session loads every table without a Spark job once one session has") {
    val loaded = Tables.all.map(Tables.load(spark, sfDir, _).schema)
    val fresh = spark.newSession()
    val (jobs, frames) = jobsDuring(Tables.all.map(Tables.load(fresh, sfDir, _)))
    assert(jobs == 0, s"a fresh session's loads of ${Tables.all.size} known tables ran $jobs job(s)")
    assert(frames.map(_.schema) == loaded)
    assert(frames.forall(_.sparkSession eq fresh))
  }

  test("a fixture file replaced in place resolves to its new schema in a fresh session") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Files.createTempDirectory("graft-tables")
    val file = tmp.resolve("region.parquet")
    try {
      Files.copy(Paths.get(sfDir, "region.parquet"), file)
      val before = Tables.load(spark.newSession(), tmp.toString, "region")
      assert(before.columns.toSeq == Seq("r_regionkey", "r_name"))
      Files.copy(Paths.get(sfDir, "nation.parquet"), file, StandardCopyOption.REPLACE_EXISTING)
      val after = Tables.load(spark.newSession(), tmp.toString, "region")
      assert(after.columns.toSeq == Seq("n_nationkey", "n_name", "n_regionkey"))
      assert(after.count() == Tables.nation(spark, sfDir).count())
    } finally {
      Files.deleteIfExists(file)
      Files.deleteIfExists(tmp)
    }
  }

  test("events loads with a TimestampType ts in a fresh session") {
    val first = Tables.events(spark, sfDir)
    val fresh = Tables.events(spark.newSession(), sfDir)
    assert(fresh.schema("ts").dataType == TimestampType)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "ts").orderBy("event_id").collect().toSeq
    assert(rows(fresh) == rows(first))
  }

  test("fixture row counts scale as documented (sf0.001 baseline)") {
    // sf multipliers apply to the fact/extension tables; dims stay fixed.
    val base = TestSpark.sfDir
    val facts = Seq("lineitem", "orders", "events", "documents", "embeddings")
    val baseCounts = facts.map(t => t -> Tables.load(spark, base, t).count()).toMap
    for (t <- facts) assert(baseCounts(t) > 0, s"$t empty at sf0.001")
    // sanity: larger SFs are never smaller than the smoke SF
    for (t <- facts; dir <- sfDirs.drop(1))
      assert(Tables.load(spark, dir, t).count() >= baseCounts(t),
        s"$t at $dir smaller than sf0.001")
  }
}
