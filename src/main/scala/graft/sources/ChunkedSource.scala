package graft.sources

import java.util.{Map => JMap}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Literal => V2Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A DataSourceV2 connector with the architecture of the reference's
  * chunked Storage-API read path (reference bqfetch/bqfetch.py:457-502),
  * expressed the Spark-native way:
  *
  *  - one `InputPartition` per CHUNK (the reference opens one Arrow stream
  *    per process; a production BigQuery connector opens one InputPartition
  *    per read-session stream),
  *  - `SupportsPushDownFilters`: id-range/equality predicates evaluate
  *    inside the partition reader — the `row_restriction` analog
  *    (bqfetch/bqfetch.py:483-484) — so filtered rows never reach Spark,
  *  - `SupportsPushDownRequiredColumns`: column pruning at the source, the
  *    projection pushdown the reference never does (it always SELECT *,
  *    bqfetch/bqfetch.py:176-178),
  *  - `SupportsPushDownAggregates`: COUNT/MIN/MAX (optionally grouped by
  *    chunk) are absorbed into the scan and answered from chunk-range
  *    metadata in O(1) per partition — the connector-native form of the
  *    reference's table-size metadata queries (bqfetch/bqfetch.py:125-139,
  *    `SELECT COUNT(*)` / INFORMATION_SCHEMA size probes). Pushdown is
  *    PARTIAL (one pre-aggregated row per chunk, merged by Spark), which is
  *    the shape that scales: no single node sees all chunks.
  *
  * The row stream itself is synthetic and deterministic (this environment
  * has no network); swapping the generator loop for an Arrow stream reader
  * is the only change a real remote connector needs.
  *
  * Usage: spark.read.format("graft.sources.ChunkedSource")
  *   .option("numRows", n).option("numChunks", c).load()
  * Schema: (id bigint, chunk int, payload string).
  */
class ChunkedSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChunkedSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new ChunkedTable(
      properties.getOrDefault("numRows", "1000").toLong,
      properties.getOrDefault("numChunks", "4").toInt)
}

object ChunkedSource {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("chunk", IntegerType, nullable = false),
    StructField("payload", StringType, nullable = false)))

  /** The connector's oracle-gate query (`q_chunked_source`): everything the
    * source generates is deterministic (ids are a contiguous range split
    * into `ceil(numRows/numChunks)`-sized chunks, payload =
    * `row-$id-of-chunk-$chunk`), so a DuckDB `generate_series` replay can
    * re-derive every row and the driver's hash gate covers the connector
    * end-to-end — not just the plan-shape specs. Two legs through ONE
    * read-path each:
    *
    *  - `agg`: group-by-chunk COUNT/MIN/MAX with no residual filter — the
    *    planner absorbs it into [[ChunkedAggScan]], so these rows are
    *    answered from chunk-range METADATA (a wrong range bound or a
    *    dropped partial-agg merge flips the hash);
    *  - `rows`: an id-range predicate (pushed, folded into the reader's
    *    bounds) plus a payload-content equality Spark must evaluate — the
    *    row reader actually generates rows here, and the payload check
    *    makes the generated CONTENT part of the hashed result (the count
    *    would drop if any payload mis-rendered).
    */
  private[graft] val gateRows = 1000L
  private[graft] val gateChunks = 8

  def gateQuery(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    def src = spark.read.format("graft.sources.ChunkedSource")
      .option("numRows", gateRows.toString).option("numChunks", gateChunks.toString)
      .load()
    val agg = src.groupBy("chunk")
      .agg(count(col("id")).as("n"), min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      .select(lit("agg").as("kind"), col("chunk"), col("n"), col("min_id"), col("max_id"))
    val rows = src
      .filter(col("id") >= 150L && col("id") < 250L &&
        col("payload") === concat(lit("row-"), col("id").cast("string"),
          lit("-of-chunk-"), col("chunk").cast("string")))
      .groupBy("chunk")
      .agg(count(col("id")).as("n"), min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      .select(lit("rows").as("kind"), col("chunk"), col("n"), col("min_id"), col("max_id"))
    agg.unionByName(rows).orderBy("kind", "chunk")
  }

  /** Generated DuckDB replay of [[gateQuery]] — same constants, so the
    * chunk-split formula and payload rendering cannot drift between the
    * connector and its oracle.
    */
  def gateOracleSql: String = {
    val per = math.max(1L, math.ceil(gateRows.toDouble / gateChunks).toLong)
    s"""WITH rows AS (
       |  SELECT g AS id, CAST(g // $per AS INT) AS chunk,
       |         'row-' || g || '-of-chunk-' || CAST(g // $per AS INT) AS payload
       |  FROM generate_series(0, ${gateRows - 1}) t(g))
       |SELECT 'agg' AS kind, chunk, COUNT(id) AS n,
       |       MIN(id) AS min_id, MAX(id) AS max_id
       |FROM rows GROUP BY chunk
       |UNION ALL
       |SELECT 'rows' AS kind, chunk, COUNT(id) AS n,
       |       MIN(id) AS min_id, MAX(id) AS max_id
       |FROM rows
       |WHERE id >= 150 AND id < 250
       |  AND payload = 'row-' || id || '-of-chunk-' || chunk
       |GROUP BY chunk
       |ORDER BY kind, chunk""".stripMargin
  }
}

private class ChunkedTable(numRows: Long, numChunks: Int)
  extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft_chunked($numRows rows, $numChunks chunks)"
  override def schema(): StructType = ChunkedSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ChunkedScanBuilder(numRows, numChunks)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ChunkedWriteBuilder(info)
}

/** Aggregate functions the source can answer from chunk metadata. */
private object AggSpec extends Enumeration {
  val CountRows, MinId, MaxId, MinChunk, MaxChunk = Value
}

private class ChunkedScanBuilder(numRows: Long, numChunks: Int)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = ChunkedSource.schema
  private var aggSpecs: Seq[AggSpec.Value] = Nil
  private var aggByChunk = false
  private var aggPushed = false
  private var limit: Int = Int.MaxValue

  /** PARTIAL limit pushdown (the default `isPartiallyPushed`): each
    * partition stops generating after `limit` rows — the reader's id range
    * is clamped to `lo + limit` — and Spark's own GlobalLimit takes the
    * final k across partitions. For the reference this is the LIMIT-in-
    * row_restriction analog: a bounded preview never materializes a chunk.
    */
  override def pushLimit(l: Int): Boolean = { limit = l; true }

  private def isCol(e: org.apache.spark.sql.connector.expressions.Expression,
                    name: String): Boolean = e match {
    case r: NamedReference => r.fieldNames.toSeq == Seq(name)
    case _ => false
  }

  /** Accept COUNT(*)/COUNT(col)/MIN/MAX over id or chunk, ungrouped or
    * grouped by chunk — everything the reader can answer from its id-range
    * bounds without generating a single row. Complete pushdown stays OFF:
    * each partition returns a pre-aggregated row and Spark's final
    * aggregation merges them (the only shape that survives many chunks).
    *
    * The group-by-only shape (GROUP BY chunk with ZERO aggregate
    * expressions — what Catalyst hands us after pruning a nested
    * aggregate, e.g. `df.groupBy(...).agg(...).count()`) is accepted too:
    * the reader answers it as "one row per non-empty chunk". Accepting it
    * but building a row scan would trip V2ScanRelationPushDown's schema
    * assertion, so `build()` keys off `aggPushed`, not `aggSpecs.nonEmpty`.
    */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val groupOk = aggregation.groupByExpressions match {
      case Array() => true
      case Array(g) if isCol(g, "chunk") => aggByChunk = true; true
      case _ => false
    }
    if (!groupOk) { aggByChunk = false; return false }
    val specs = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(AggSpec.CountRows)
      // our columns are all non-null, so COUNT(col) == COUNT(*)
      case c: Count if !c.isDistinct &&
        ChunkedSource.schema.fieldNames.exists(isCol(c.column, _)) =>
        Some(AggSpec.CountRows)
      case m: Min if isCol(m.column, "id") => Some(AggSpec.MinId)
      case m: Max if isCol(m.column, "id") => Some(AggSpec.MaxId)
      case m: Min if isCol(m.column, "chunk") => Some(AggSpec.MinChunk)
      case m: Max if isCol(m.column, "chunk") => Some(AggSpec.MaxChunk)
      case _ => None
    }
    if (specs.exists(_.isEmpty) || (specs.isEmpty && !aggByChunk)) {
      // an unsupported function, or the degenerate no-groups-no-aggs shape
      aggByChunk = false; false
    } else { aggSpecs = specs.flatten; aggPushed = true; true }
  }

  /** Accept id-range/equality filters (evaluated in the reader); everything
    * else stays in Spark.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo("id", _) | GreaterThan("id", _) | GreaterThanOrEqual("id", _) |
           LessThan("id", _) | LessThanOrEqual("id", _) => true
      case _ => false
    }
    pushed = accepted
    rejected
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    if (aggPushed) new ChunkedAggScan(numRows, numChunks, pushed, aggSpecs, aggByChunk)
    else new ChunkedScan(numRows, numChunks, pushed, required, limit)
}

/** Observability hook for the runtime-filtering specs: the scan instance
  * that receives `filter()` is buried inside `BatchScanExec`, so the last
  * runtime-filter delivery and the resulting partition plan are mirrored
  * here where a spec can read them. Test-only by construction — production
  * behavior never reads these fields.
  */
private[sources] object ChunkedRuntimeFilterProbe {
  @volatile var lastReceived: Seq[String] = Nil
  @volatile var lastPlannedChunks: Seq[Int] = Nil
  def reset(): Unit = { lastReceived = Nil; lastPlannedChunks = Nil }
}

private class ChunkedScan(numRows: Long, numChunks: Int,
                          filters: Array[Filter], required: StructType,
                          limit: Int = Int.MaxValue)
  extends Scan with Batch with SupportsRuntimeV2Filtering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_chunked pushed=[${filters.mkString(",")}] columns=[${required.fieldNames.mkString(",")}]" +
      (if (limit != Int.MaxValue) s" limit=$limit" else "")

  /** Runtime (DPP-analog) chunk pruning — `SupportsRuntimeV2Filtering`.
    *
    * A static pushed filter (the `row_restriction` analog) can only prune
    * what the query TEXT knows; when this scan sits on the probe side of a
    * join against a filtered dimension, the matching key set exists only at
    * RUNTIME. Spark's PartitionPruning rule sees `filterAttributes` below,
    * plants a DynamicPruningSubquery on the join key, executes the
    * dimension side first, and delivers the observed key set here as an
    * `IN` predicate via `filter()` — after which `planInputPartitions()`
    * is re-invoked and whole chunks drop out of the scan BEFORE any row is
    * generated. This is the piece the reference cannot do at all: bqfetch's
    * per-chunk `row_restriction` (bqfetch/bqfetch.py:483-484) is fixed at
    * plan time. Runtime predicates are an OPTIMIZATION contract: dropping
    * a partition is only allowed when it provably contains no matching
    * row, and ignoring a predicate we can't fold is always safe (the join
    * still filters).
    */
  @volatile private var runtimeChunks: Option[Set[Int]] = None
  @volatile private var runtimeIds: Option[Set[Long]] = None

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("chunk"), Expressions.column("id"))

  override def filter(predicates: Array[Predicate]): Unit = {
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: NamedReference => Some(r.fieldNames.mkString("."))
        case _ => None
      }
    def litOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[Any] =
      e match {
        case l: V2Literal[_] => Option(l.value)
        case _ => None
      }
    def narrow(col: String, values: Seq[Any]): Unit = col match {
      case "chunk" =>
        val vs = values.collect { case i: java.lang.Integer => i.intValue }.toSet
        runtimeChunks = Some(runtimeChunks.fold(vs)(_ intersect vs))
      case "id" =>
        val vs = values.collect { case l: java.lang.Long => l.longValue }.toSet
        runtimeIds = Some(runtimeIds.fold(vs)(_ intersect vs))
      case _ =>
    }
    predicates.foreach { p =>
      (p.name(), p.children().toSeq) match {
        case ("IN", kids) if kids.nonEmpty =>
          val lits = kids.tail.map(litOf)
          colOf(kids.head).filter(_ => lits.forall(_.isDefined))
            .foreach(narrow(_, lits.flatten))
        case ("=", Seq(a, b)) =>
          (colOf(a), litOf(b)) match {
            case (Some(c), Some(v)) => narrow(c, Seq(v))
            case _ =>
          }
        case _ => // unsupported runtime shape: safely ignored
      }
    }
    ChunkedRuntimeFilterProbe.lastReceived = predicates.map(_.toString).toSeq
  }

  /** One InputPartition per chunk — contiguous id ranges, the analog of
    * the reference's per-chunk temp table + stream. Re-invoked by
    * `BatchScanExec` after a runtime `filter()` delivery: a chunk survives
    * only if the runtime key sets admit at least one of its rows.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val planned = ChunkPartition.plan(numRows, numChunks).filter { p =>
      runtimeChunks.forall(_.contains(p.chunk)) &&
        runtimeIds.forall(_.exists(id => id >= p.startId && id < p.endId))
    }
    ChunkedRuntimeFilterProbe.lastPlannedChunks = planned.map(_.chunk)
    planned.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChunkedReaderFactory(filters, required, limit)
}

private case class ChunkPartition(chunk: Int, startId: Long, endId: Long) extends InputPartition {

  /** This chunk's id range `[lo, hi)` with the pushed id predicates folded
    * in — server-side filtering: rejected ids are never generated, let
    * alone returned.
    */
  def idBounds(filters: Array[Filter]): (Long, Long) = {
    var lo = startId
    var hi = endId
    filters.foreach {
      case EqualTo("id", v: Long)            => lo = math.max(lo, v); hi = math.min(hi, v + 1)
      case GreaterThan("id", v: Long)        => lo = math.max(lo, v + 1)
      case GreaterThanOrEqual("id", v: Long) => lo = math.max(lo, v)
      case LessThan("id", v: Long)           => hi = math.min(hi, v)
      case LessThanOrEqual("id", v: Long)    => hi = math.min(hi, v + 1)
      case _ =>
    }
    (lo, hi)
  }
}

private object ChunkPartition {
  /** The chunk plan both scans share: contiguous id ranges over `[0, numRows)`. */
  def plan(numRows: Long, numChunks: Int): Seq[ChunkPartition] = {
    val per = math.max(1L, math.ceil(numRows.toDouble / numChunks).toLong)
    (0 until numChunks).map(c => ChunkPartition(c, c * per, math.min(numRows, (c + 1) * per)))
  }
}

private class ChunkedReaderFactory(filters: Array[Filter], required: StructType,
                                   limit: Int = Int.MaxValue)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ChunkPartition]
    val (lo, folded) = p.idBounds(filters)
    // partial limit: this partition never generates more than `limit` rows
    // (applied after filter folding — the bound is on ROWS RETURNED)
    val hi = if (limit != Int.MaxValue) math.min(folded, lo + limit) else folded
    val fields = required.fieldNames
    new PartitionReader[InternalRow] {
      private var id = lo - 1
      override def next(): Boolean = { id += 1; id < hi }
      override def get(): InternalRow = {
        val values = fields.map {
          case "id"      => java.lang.Long.valueOf(id)
          case "chunk"   => java.lang.Integer.valueOf(p.chunk)
          case "payload" => UTF8String.fromString(s"row-$id-of-chunk-${p.chunk}")
        }
        new GenericInternalRow(values.asInstanceOf[Array[Any]])
      }
      override def close(): Unit = ()
    }
  }
}

/** Pushed-aggregate scan: output schema is [group cols ++ agg cols] (the
  * order V2ScanRelationPushDown rewrites against, positionally), and every
  * partition answers from its filter-folded id-range bounds — a metadata
  * read, no row generation.
  */
private class ChunkedAggScan(numRows: Long, numChunks: Int, filters: Array[Filter],
                             specs: Seq[AggSpec.Value], byChunk: Boolean)
  extends Scan with Batch {

  override def readSchema(): StructType = {
    val aggFields = specs.map {
      case AggSpec.CountRows => StructField("count(*)", LongType, nullable = false)
      case AggSpec.MinId     => StructField("min(id)", LongType)
      case AggSpec.MaxId     => StructField("max(id)", LongType)
      case AggSpec.MinChunk  => StructField("min(chunk)", IntegerType)
      case AggSpec.MaxChunk  => StructField("max(chunk)", IntegerType)
    }
    StructType((if (byChunk) Seq(StructField("chunk", IntegerType, nullable = false))
                else Nil) ++ aggFields)
  }
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_chunked AGGPUSHED=[${specs.mkString(",")}] groupByChunk=$byChunk " +
      s"pushed=[${filters.mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] =
    ChunkPartition.plan(numRows, numChunks).toArray[InputPartition]

  override def createReaderFactory(): PartitionReaderFactory =
    new ChunkedAggReaderFactory(filters, specs, byChunk)
}

private class ChunkedAggReaderFactory(filters: Array[Filter],
                                      specs: Seq[AggSpec.Value], byChunk: Boolean)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ChunkPartition]
    val (lo, hi) = p.idBounds(filters)
    // one pre-aggregated row per non-empty chunk; empty chunks emit
    // nothing (Spark's final merge yields count=0 / null min-max globally)
    val empty = hi <= lo
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = { val r = !emitted && !empty; emitted = true; r }
      override def get(): InternalRow = {
        val aggVals: Seq[Any] = specs.map {
          case AggSpec.CountRows => java.lang.Long.valueOf(hi - lo)
          case AggSpec.MinId     => java.lang.Long.valueOf(lo)
          case AggSpec.MaxId     => java.lang.Long.valueOf(hi - 1)
          case AggSpec.MinChunk  => java.lang.Integer.valueOf(p.chunk)
          case AggSpec.MaxChunk  => java.lang.Integer.valueOf(p.chunk)
        }
        val values = (if (byChunk) Seq(java.lang.Integer.valueOf(p.chunk)) else Nil) ++ aggVals
        new GenericInternalRow(values.toArray[Any])
      }
      override def close(): Unit = ()
    }
  }
}

/** The write half of the connector: the full DataSourceV2 two-phase commit
  * protocol — per-task buffering `DataWriter`s, rows shipped to the driver
  * as `WriterCommitMessage`s, and an ATOMIC driver-side publish in
  * `BatchWrite.commit` (nothing is visible until every task committed;
  * a failed/aborted job leaves the sink exactly as it was). `truncate()`
  * implements overwrite mode.
  *
  * The destination is an in-JVM store keyed by the `target` option — the
  * test double standing where a remote service client would (the same
  * deliberate synthetic-endpoint trade as the read half's generator loop;
  * reference bqfetch/bqfetch.py:85-93 `create_table` / temp-table writes).
  * What this demonstrates is the PROTOCOL a real connector needs: task
  * commit messages, idempotent driver commit, abort semantics. Shipping
  * rows via commit messages is the textbook shape for small sinks; a
  * volume sink would write from the task and ship only manifests.
  */
object ChunkedSink {
  final case class SinkRow(id: Long, chunk: Int, payload: String)
  private val store =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[SinkRow]]()

  def rows(target: String): Vector[SinkRow] =
    store.getOrDefault(target, Vector.empty)
  def exists(target: String): Boolean = store.containsKey(target)
  def drop(target: String): Unit = store.remove(target)

  private[sources] def publish(target: String, rows: Vector[SinkRow],
                               truncate: Boolean): Unit =
    store.compute(target, (_, prev) => {
      val base = if (truncate || prev == null) Vector.empty else prev
      base ++ rows
    })
}

private class ChunkedWriteBuilder(info: LogicalWriteInfo)
  extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new ChunkedBatchWrite(
      Option(info.options.get("target")).getOrElse("default"), doTruncate)
  }
}

private case class ChunkedCommit(rows: Array[ChunkedSink.SinkRow])
  extends WriterCommitMessage

private class ChunkedBatchWrite(target: String, truncate: Boolean)
  extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    ChunkedWriterFactory
  /** Driver-side atomic publish: runs once, after EVERY task committed —
    * partial task output can never become visible (tasks only buffer).
    * Deterministic order: tasks arrive unordered, so rows are sorted by id
    * before publishing (the sink is a set-semantics table keyed by id).
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val rows = messages.iterator
      .flatMap(_.asInstanceOf[ChunkedCommit].rows)
      .toVector.sortBy(r => (r.id, r.chunk))
    ChunkedSink.publish(target, rows, truncate)
  }
  /** Nothing was published, task buffers die with their tasks — the sink
    * is untouched by construction. */
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private object ChunkedWriterFactory extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val buf = ArrayBuffer.empty[ChunkedSink.SinkRow]
      override def write(row: InternalRow): Unit =
        buf += ChunkedSink.SinkRow(row.getLong(0), row.getInt(1), row.getString(2))
      override def commit(): WriterCommitMessage = ChunkedCommit(buf.toArray)
      override def abort(): Unit = buf.clear()
      override def close(): Unit = ()
    }
}
