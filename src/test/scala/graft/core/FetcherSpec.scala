package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Reference-parity façade: chunked fetch must reconstruct the table exactly
  * (union of chunk scans == full scan) and refuse driver-side key sets past
  * the scale cap.
  */
class FetcherSpec extends SparkSpec {

  test("chunks + fetchAll reconstructs the full table (no loss, no dup)") {
    val fetcher = ChunkedFetcher(spark, sfDir, "orders")
    val chunks = fetcher.chunks("o_custkey", byNbChunks = Some(4))
    assert(chunks.length == 4)
    assert(chunks.head.column == "o_custkey")
    // chunks partition the key set: pairwise disjoint, cover all keys
    val allKeys = chunks.flatMap(_.elements)
    assert(allKeys.distinct.length == allKeys.length)

    val refetched = fetcher.fetchAll(chunks)
    val orig = Tables.orders(spark, sfDir)
    assert(refetched.count() == orig.count())
    assert(refetched.except(orig).isEmpty && orig.except(refetched).isEmpty)
  }

  test("chunks + fetchAll of an empty table: no chunks, an empty frame with its schema") {
    val empty = Tables.orders(spark, sfDir).filter(lit(false))
    val fetcher = new ChunkedFetcher(empty)
    val chunks = fetcher.chunks("o_custkey", byNbChunks = Some(4))
    assert(chunks.isEmpty)
    val all = fetcher.fetchAll(chunks)
    assert(all.schema == empty.schema)
    assert(all.count() == 0)
  }

  test("fetch(chunk) builds without a Spark job once the table is loaded") {
    val fetcher = ChunkedFetcher(spark, sfDir, "orders")
    val chunk = fetcher.chunks("o_custkey", byNbChunks = Some(4)).head
    val (jobs, df) = jobsDuring(fetcher.fetch(chunk))
    assert(jobs == 0, s"building one chunk's fetch ran $jobs job(s)")
    assert(df.count() > 0)
  }

  test("fetch of a single chunk returns exactly that chunk's rows") {
    val fetcher = ChunkedFetcher(spark, sfDir, "orders")
    val chunk = fetcher.chunks("o_custkey", byNbChunks = Some(5)).head
    val df = fetcher.fetch(chunk)
    val keys = df.select("o_custkey").distinct().collect().map(_.getLong(0)).toSet
    assert(keys.subsetOf(chunk.elements.map(_.asInstanceOf[Long]).toSet))
  }

  test("chunks byChunkSizeGB: sizes chunk count from plan statistics") {
    val fetcher = ChunkedFetcher(spark, sfDir, "orders")
    // a chunk budget far above the fixture size => one chunk holding all keys
    val one = fetcher.chunks("o_custkey", byChunkSizeGB = Some(8.0))
    assert(one.length == 1)
    assert(one.head.elements.length ==
      Tables.orders(spark, sfDir).select("o_custkey").distinct().count())
    // a tiny budget forces many chunks (capped at the key count)
    val many = fetcher.chunks("o_custkey", byChunkSizeGB = Some(1e-6))
    assert(many.length > 1)
    assert(many.flatMap(_.elements).length == one.head.elements.length)
  }

  test("chunks: exactly one of byNbChunks/byChunkSizeGB (reference ValueError parity)") {
    val fetcher = ChunkedFetcher(spark, sfDir, "orders")
    intercept[IllegalArgumentException](fetcher.chunks("o_custkey"))
    intercept[IllegalArgumentException](
      fetcher.chunks("o_custkey", byNbChunks = Some(2), byChunkSizeGB = Some(1.0)))
    intercept[IllegalArgumentException](fetcher.chunks("o_custkey", byNbChunks = Some(0)))
    intercept[IllegalArgumentException](fetcher.chunks("o_custkey", byChunkSizeGB = Some(0.0)))
  }

  test("verbose chunk/fetch reports print in the reference's >>> log format") {
    val fetcher = ChunkedFetcher(spark, sfDir, "orders")
    val out = new java.io.ByteArrayOutputStream()
    val chunks = Console.withOut(new java.io.PrintStream(out)) {
      val cs = fetcher.chunks("o_custkey", byNbChunks = Some(2), verbose = true)
      fetcher.fetch(cs.head, verbose = true)
      cs
    }
    val printed = out.toString
    assert(printed.contains(">>> Chunking"))
    assert(printed.contains("Nb chunks:"))
    assert(printed.contains(">>> Fetching"))
    assert(printed.contains(s"Chunk values in 'o_custkey':\t ${chunks.head.elements.size}"))
  }

  test("driver-side key cap throws past maxDriverKeys (100 TB guard)") {
    val fetcher = new ChunkedFetcher(Tables.orders(spark, sfDir), maxDriverKeys = 10)
    intercept[IllegalArgumentException](fetcher.chunks("o_custkey", byNbChunks = Some(2)))
  }

  test("fetchAllPartitioned spreads rows over n partitions without driver keys") {
    val fetcher = ChunkedFetcher(spark, sfDir, "orders")
    val df = fetcher.fetchAllPartitioned("o_custkey", 8)
    assert(df.rdd.getNumPartitions == 8)
    assert(df.count() == Tables.orders(spark, sfDir).count())
  }

  test("approximateNbChunks derives from plan statistics (B5 metadata analog)") {
    val fetcher = ChunkedFetcher(spark, sfDir, "orders")
    val n = fetcher.approximateNbChunks(chunkGBPerCore = 2.0, cores = 4, freeMemoryGB = 8.0)
    assert(n == 1) // fixture table is far below the 8 GB budget
    // a tiny budget forces multiple chunks from the same stats
    val tight = fetcher.approximateNbChunks(chunkGBPerCore = 1e-7, cores = 1, freeMemoryGB = 1e-7)
    assert(tight > 1)
  }

  test("materializeChunk registers a queryable temp view; dropChunk removes it") {
    val fetcher = ChunkedFetcher(spark, sfDir, "orders")
    val chunk = fetcher.chunks("o_custkey", byNbChunks = Some(3)).head
    val df = fetcher.materializeChunk(chunk, "tmp_chunk0")
    assert(spark.sql("SELECT COUNT(*) FROM tmp_chunk0").collect().head.getLong(0) == df.count())
    assert(fetcher.dropChunk("tmp_chunk0"))
    assert(!fetcher.dropChunk("tmp_chunk0")) // not_found_ok semantics
  }

  test("dispersion check passes on uniform chunk column, throws on skewed") {
    import spark.implicits._
    val uniform = (1 to 100).flatMap(k => Seq.fill(5)(k)).toDF("k")
    new ChunkedFetcher(uniform).chunks("k", byNbChunks = Some(4), checkDispersion = true)
    // one hot key holding half the rows => badly skewed chunks => guard fires
    val skewed = ((1 to 100).flatMap(k => Seq.fill(2)(k)) ++ Seq.fill(200)(999)).toDF("k")
    intercept[InvalidChunkRangeException] {
      new ChunkedFetcher(skewed).chunks("k", byNbChunks = Some(2), checkDispersion = true)
    }
  }
}
