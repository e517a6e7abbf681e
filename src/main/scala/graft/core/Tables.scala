package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Fixture-table loaders (see TESTDATA.md / FIXTURES.md).
  *
  * Reference analog: `BigQueryTable` (reference bqfetch/bqfetch.py:20-41) is a
  * pure (project, dataset, table) path triple; here a table is identified by
  * (scale-factor dir, name) and materializes lazily as a DataFrame. In
  * production the same call sites would be `spark.read.format("bigquery")` /
  * a catalog table; the engine code is source-agnostic — everything operates
  * on DataFrames.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Resolution has two layers.
  //   - The catalog (process-wide, schema): `spark.read.parquet` infers a
  //     file's schema with its own Spark job reading the footer, about
  //     75 ms per table. The catalog keeps the raw inferred schema per
  //     fixture file, keyed by the file's identity (qualified path, length,
  //     modification time) plus the session confs that change parquet
  //     inference, so a new session's first load only lists the file. At
  //     most one entry per path; a changed identity replaces it.
  //   - The memo (per session, frame): the resolved DataFrame, so every
  //     query of a session reads the same relation. It is keyed by
  //     `sessionUUID`, a String holding no session reference (the frames
  //     reference their session, so a session-keyed WeakHashMap could never
  //     clear), stopped sessions are swept on every access, and the map is
  //     a small access-ordered LRU over live sessions.
  // Only metadata is kept: every query still lists its file and scans it,
  // and no plan or frame crosses sessions.
  private val maxSessions = 8
  private val memo =
    new java.util.LinkedHashMap[String,
        (SparkSession, scala.collection.concurrent.TrieMap[(String, String), DataFrame])](
        16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String,
            (SparkSession, scala.collection.concurrent.TrieMap[(String, String), DataFrame])])
        : Boolean = size() > maxSessions
    }

  /** Test hook: resident session entries (bounded by `maxSessions`). */
  private[graft] def memoSessionCount: Int = memo.synchronized(memo.size())

  // `sessionUUID` is private[sql], so it routes through the bridge; the
  // identity-hash fallback keeps the key total for any non-classic
  // SparkSession implementation without referencing the session itself.
  private def sessionKey(spark: SparkSession): String =
    try org.apache.spark.sql.GraftSqlBridge.sessionUUID(spark)
    catch { case _: ClassCastException =>
      "idhash-" + System.identityHashCode(spark).toHexString }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    require(all.contains(name), s"unknown fixture table: $name")
    // LinkedHashMap is not thread-safe: the brief lock covers the sweep and
    // lookup; resolution itself runs outside it on the per-session TrieMap.
    val frames = memo.synchronized {
      val it = memo.values.iterator()
      while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
      var m = memo.get(sessionKey(spark))
      if (m == null) {
        m = (spark, scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame])
        memo.put(sessionKey(spark), m)
      }
      m._2
    }
    // TrieMap.getOrElseUpdate may resolve twice under a first-load race;
    // both results are equivalent plans, so last-write-wins is harmless.
    frames.getOrElseUpdate((dir, name), resolve(spark, dir, name))
  }

  // Parquet schema inference reads these session confs, so their values
  // are part of a catalog entry's identity.
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled")
  private type FileIdentity = (Long, Long, Seq[Option[String]]) // length, mtime, confs
  private val catalog =
    new java.util.concurrent.ConcurrentHashMap[String, (FileIdentity, StructType)]()

  /** The schema `spark.read.parquet(path)` infers, inferred once per file
    * identity and inference confs. Inference runs outside any lock: a
    * first-load race infers twice and keeps either (equal) result.
    */
  private def rawSchema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val status = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    val file = status.getPath.toString
    val identity =
      (status.getLen, status.getModificationTime, inferenceConfs.map(spark.conf.getOption))
    val hit = catalog.get(file)
    if (hit != null && hit._1 == identity) hit._2
    else {
      val schema = spark.read.parquet(path).schema
      catalog.put(file, (identity, schema))
      schema
    }
  }

  private def resolve(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    def read(): DataFrame = spark.read.schema(rawSchema(spark, path)).parquet(path)
    if (name == "events") {
      // The events fixture's `ts` physical type has drifted across fixture
      // regenerations (TIMESTAMP(NANOS) through round 6, TIMESTAMP(MICROS,
      // isAdjustedToUTC=false) since round 8), so the loader adapts to
      // whatever dtype the parquet reader actually produced instead of
      // assuming one era:
      //   - LongType: nanos-as-long era (requires
      //     spark.sql.legacy.parquet.nanosAsLong=true, set at session build
      //     by all entry points and repaired idempotently below). Rebuilt
      //     into a micro-precision timestamp; DIV keeps the arithmetic in
      //     exact integer space (a double loses precision above 2^53 ns).
      //   - TimestampNTZType: micros without UTC adjustment. Cast to the
      //     session-zone timestamp; all entry points pin the session zone
      //     to UTC, matching how the DuckDB oracle reads the same file.
      //   - TimestampType: already what every consumer expects.
      // FixturesSpec pins the post-load schema so the NEXT drift fails one
      // named test instead of every events consumer.
      if (spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").forall(_ != "true"))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = read()
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      raw.schema("ts").dataType match {
        case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
        case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
        case TimestampType    => raw
        case other => throw new IllegalStateException(
          s"events.ts loaded as unsupported dtype $other — extend Tables.load for this fixture era")
      }
    } else read()
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
