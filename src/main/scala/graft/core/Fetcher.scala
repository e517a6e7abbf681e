package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity façade: the `BigQueryFetcher` chunked-fetch API
  * (reference bqfetch/bqfetch.py:196-454) re-expressed over DataFrames.
  *
  * What changes on Spark (SURVEY.md §3):
  *  - `chunks()` in the reference collects ALL distinct keys into driver
  *    memory (bqfetch/bqfetch.py:256) — a scalability cliff. Here the
  *    driver-side key list is guarded by `maxDriverKeys`; past the cap the
  *    caller must use [[fetchAllPartitioned]], which keeps keys distributed
  *    (`repartition(n, col)`) and never materializes them.
  *  - `fetch(chunk)` is a filtered scan: Catalyst pushes the IN-list to the
  *    parquet/DSv2 reader (the reference's `row_restriction`), executor
  *    tasks replace its process pool, and no temp table is materialized
  *    (the reference's CTAS, bqfetch/bqfetch.py:158-181, is unnecessary —
  *    scan+filter is one pipelined stage).
  */
final class ChunkedFetcher(df: DataFrame, maxDriverKeys: Int = 100000) {

  /** Reference `log(*args)` format parity (bqfetch/utils.py:64-67). */
  private def log(lines: String*): Unit = {
    println()
    lines.foreach(l => println(s">>> $l"))
  }

  /** Chunk-count estimate from the reference's formula (D6), driven by plan
    * statistics instead of a metadata query: Spark already knows the scan
    * size (`optimizedPlan.stats.sizeInBytes` — the analog of the
    * reference's cached `__TABLES__` size query, bqfetch/bqfetch.py:125-139).
    */
  def approximateNbChunks(chunkGBPerCore: Double = 2.0,
                          cores: Int = Runtime.getRuntime.availableProcessors(),
                          freeMemoryGB: Double =
                            Runtime.getRuntime.maxMemory() / 1e9): Int = {
    val tableGB = df.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble / 1e9
    ChunkPlanner.approximateNbChunks(tableGB, chunkGBPerCore, cores, freeMemoryGB)
  }

  /** Reference `chunks(column, by_nb_chunks=…, by_chunk_size_in_GB=…)`
    * (bqfetch/bqfetch.py:232-265): distinct keys, dispersion-checked, split
    * into contiguous chunks. Exactly ONE of `byNbChunks` / `byChunkSizeGB`
    * must be set (the reference raises ValueError otherwise — same
    * IllegalArgumentException semantics here). The size mode routes through
    * the reference's approximation formula
    * (`get_nb_chunks_approximation`, bqfetch/bqfetch.py:374-433, with its
    * nb_cores=1 default): nbChunks = ceil(tableGB / min(sizeGB, freeGB)),
    * with tableGB from plan statistics instead of a metadata query.
    * Driver-side by design (API parity) and therefore capped: throws past
    * `maxDriverKeys` distinct keys.
    */
  def chunks(column: String, byNbChunks: Option[Int] = None,
             byChunkSizeGB: Option[Double] = None,
             dispersionCoeff: Double = 0.25,
             checkDispersion: Boolean = false,
             verbose: Boolean = false): Seq[FetchingChunk[Any]] = {
    val nChunks = (byNbChunks, byChunkSizeGB) match {
      case (Some(n), None) =>
        require(n > 0, "byNbChunks must be > 0"); n
      case (None, Some(gb)) =>
        require(gb > 0, "byChunkSizeGB must be > 0")
        approximateNbChunks(chunkGBPerCore = gb, cores = 1)
      case _ => throw new IllegalArgumentException(
        "exactly one of byNbChunks or byChunkSizeGB must be set")
    }
    if (checkDispersion) {
      val counts = df.groupBy(col(column)).count()
        .limit(maxDriverKeys + 1).collect().map(_.getLong(1)).toSeq
      assertUnderCap(counts.size)
      ChunkPlanner.checkDispersion(counts, dispersionCoeff)
    }
    val keys = df.select(col(column)).distinct().orderBy(col(column))
      .limit(maxDriverKeys + 1).collect().map((r: Row) => r.get(0)).toSeq
    assertUnderCap(keys.size)
    val out = ChunkPlanner.divideInChunks(keys, nChunks).map(FetchingChunk(column, _))
    // reference chunks(verbose=True) report (bqfetch/bqfetch.py:259-264)
    if (verbose) log(
      "Chunking",
      s"""Nb values in "$column":\t ${keys.size}""",
      s"Nb chunks:\t\t\t ${out.size}")
    out
  }

  private def assertUnderCap(n: Int): Unit =
    require(n <= maxDriverKeys,
      s"chunk column has > $maxDriverKeys distinct keys; driver-side chunking " +
        "would not scale — use fetchAllPartitioned (distributed) instead")

  /** Reference `fetch(chunk, nb_cores=…)` (bqfetch/bqfetch.py:267-372): a
    * filtered scan of one chunk. `partitions` stands in for nb_cores: the
    * chunk's rows are spread over that many tasks (the reference forks one
    * process per core; Spark schedules tasks).
    */
  def fetch(chunk: FetchingChunk[Any], partitions: Int = 0,
            verbose: Boolean = false): DataFrame = {
    val filtered = df.filter(col(chunk.column).isin(chunk.elements: _*))
    val out = if (partitions > 0) filtered.repartition(partitions, col(chunk.column)) else filtered
    // reference fetch(verbose=True) report (bqfetch/bqfetch.py:323-329,
    // 365-371). Deviation, documented: the reference prints fetch time and
    // row count because pandas materializes eagerly; a DataFrame is lazy,
    // so this reports plan-level facts (forcing a count here would run the
    // query twice). Parallelism is task-based, not a process pool.
    if (verbose) log(
      "Fetching",
      s"Use multiprocessing : \tfalse (Spark task scheduler)",
      s"Partitions: \t\t\t${if (partitions > 0) partitions else "input-defined"}",
      s"Chunk values in '${chunk.column}':\t ${chunk.elements.size}",
      f"Estimated chunk size:\t ${out.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble / 1e9}%.2fGB")
    out
  }

  /** A4 parity — the reference materializes each chunk server-side as a
    * temp table before reading (CTAS, bqfetch/bqfetch.py:158-181). On Spark
    * that materialization is unnecessary (scan+filter pipelines in one
    * stage), so this registers the chunk as a named temp view — same
    * lifecycle semantics, zero copy. Pair with [[dropChunk]] (A5,
    * bqfetch/bqfetch.py:183-193).
    */
  def materializeChunk(chunk: FetchingChunk[Any], name: String): DataFrame = {
    val chunkDf = fetch(chunk)
    chunkDf.createOrReplaceTempView(name)
    chunkDf
  }

  /** A5 parity — drop a materialized chunk view; true to `not_found_ok`. */
  def dropChunk(name: String): Boolean =
    df.sparkSession.catalog.dropTempView(name)

  /** All chunks as one DataFrame — the reference's full-table loop
    * (main.py:17-18: for chunk in chunks: fetch) collapses to a union of
    * filtered scans. Kept for parity; [[fetchAllPartitioned]] is the scale
    * form. No chunks (an empty table) fetch no rows: an empty frame with
    * the table's schema.
    */
  def fetchAll(chunksSeq: Seq[FetchingChunk[Any]]): DataFrame =
    chunksSeq.map(fetch(_)).reduceOption(_ unionByName _).getOrElse(df.limit(0))

  /** The scale path: no driver-side keys at all — hash-partition the scan
    * by the chunk column into n "chunks" (= partitions). Equivalent work
    * placement to the reference's chunking, but the key set stays
    * distributed and each partition is a Spark task.
    */
  def fetchAllPartitioned(column: String, nChunks: Int): DataFrame =
    df.repartition(nChunks, col(column))
}

object ChunkedFetcher {
  def apply(spark: SparkSession, dir: String, table: String): ChunkedFetcher =
    new ChunkedFetcher(Tables.load(spark, dir, table))
}
