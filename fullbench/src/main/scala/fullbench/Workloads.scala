package fullbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.core.{ChunkedFetcher, FetchingChunk, Tables}
import graft.sources.ChunkedSink

/** Runs the phases of one operation. The untraced form only runs them; the
  * traced form records a span per phase and tags the jobs each one launches.
  */
trait Phases { def apply[T](name: String)(body: => T): T }

object Untraced extends Phases { def apply[T](name: String)(body: => T): T = body }

/** What an operation delivered. `verify` runs after the timed span and
  * returns what was wrong, if anything.
  */
final case class Done(rows: Long, df: Option[DataFrame], verify: () => Option[String])

/** One closed-loop operation of a workload; `leg` groups operations whose
  * time and rows are reported together.
  */
final case class Op(name: String, leg: String, run: (SparkSession, Phases) => Done)

sealed trait Workload {
  def name: String
  /** (fixture dir, table) pairs resolved through `Tables.load` at set-up. */
  def tables: Seq[(String, String)]
  /** Whether each pass runs in a fresh `newSession()` of the set-up session. */
  def freshSessionPerPass: Boolean
  /** The operations of one pass: in the order `rng` gives, or in a fixed
    * order without one. */
  def pass(rng: Option[Random]): Seq[Op]
}

object Workload {
  def apply(name: String, conf: Conf, expected: Map[String, Expected]): Workload = name match {
    case "fetch" => new Fetch(conf)
    case "analytics" =>
      new Queries("analytics", Registry.sample(Registry.analytics), conf.sfDir, expected, fresh = false)
    case "pipeline" =>
      new Queries("pipeline", Registry.sample(Registry.pipeline) :+ Registry.plansQuery, conf.sfDir,
        expected, fresh = true)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** A registered query: build the DataFrame, plan it, collect the full result. */
  def queryOp(q: String, dir: String, expected: Map[String, Expected]): Op = {
    val fn = graft.SparkEntry.queries(q)
    Op(q, "query", (s, ph) => {
      val df = ph("build")(fn(s, dir))
      ph("plan")(df.queryExecution.executedPlan)
      val rows = ph("execute")(df.collect())
      Done(rows.length, Some(df), () => expected.get(q) match {
        case Some(want) => Check.compare(want, df.schema, rows)
        case None => Some("no expected result recorded")
      })
    })
  }
}

final class Queries(val name: String, queries: Seq[String], dir: String,
                    expected: Map[String, Expected], fresh: Boolean) extends Workload {
  def tables: Seq[(String, String)] = Tables.all.map(dir -> _)
  def freshSessionPerPass: Boolean = fresh
  def pass(rng: Option[Random]): Seq[Op] =
    rng.fold(queries.sorted)(_.shuffle(queries)).map(Workload.queryOp(_, dir, expected))
}

/** bqfetch-style extraction of the whole `lineitem` table: the chunked leg
  * (`chunks` then `fetch(chunk)` per chunk, each drained to the driver), the
  * partitioned leg (`fetchAllPartitioned`), and a `ChunkedSource` read plus a
  * ChunkedSink two-phase-commit write.
  */
final class Fetch(conf: Conf) extends Workload {
  val name = "fetch"
  private val dir = conf.fetchDir
  private val nChunks = 8
  private val want = conf.fetchSum.getOrElse(
    throw new IllegalArgumentException("fetch needs --fetch-sum (DuckDB's lineitem checksum)"))
  private val sourceRows = 1000000L
  private val target = "fullbench"

  def tables: Seq[(String, String)] = Seq(dir -> "lineitem")
  def freshSessionPerPass: Boolean = false

  private def fetcher(s: SparkSession) = ChunkedFetcher(s, dir, "lineitem")
  private def source(s: SparkSession): DataFrame = s.read.format("graft.sources.ChunkedSource")
    .option("numRows", sourceRows.toString).option("numChunks", nChunks.toString).load()

  private def sumCheck(leg: String, got: LineSum): Option[String] =
    if (got == want) None else Some(s"$leg checksum $got != DuckDB $want")

  /** None when `rows` are exactly the rows the source generates. */
  private def sourceCheck(ids: Iterator[(Long, Int, String)], n: Long): Option[String] = {
    val per = math.max(1L, math.ceil(sourceRows.toDouble / nChunks).toLong)
    var seen, idSum = 0L
    var bad = 0L
    ids.foreach { case (id, chunk, payload) =>
      seen += 1; idSum += id
      if (chunk != id / per || payload != s"row-$id-of-chunk-$chunk") bad += 1
    }
    if (seen != sourceRows || n != sourceRows) Some(s"$seen rows, expected $sourceRows")
    else if (idSum != sourceRows * (sourceRows - 1) / 2) Some("id checksum differs")
    else if (bad > 0) Some(s"$bad rows with a wrong chunk or payload")
    else None
  }

  def pass(rng: Option[Random]): Seq[Op] = {
    var chunks = IndexedSeq.empty[FetchingChunk[Any]]
    var chunked = LineSum.zero
    val order = rng.fold((0 until nChunks).toVector)(_.shuffle((0 until nChunks).toVector))
    val chunksOp = Op("chunks", "chunked", (s, ph) => {
      val f = ph("build")(fetcher(s))
      chunks = ph("execute")(f.chunks("l_suppkey", byNbChunks = Some(nChunks))).toIndexedSeq
      Done(chunks.size, None, () =>
        if (chunks.size == nChunks) None else Some(s"${chunks.size} chunks, expected $nChunks"))
    })
    val chunkOps = order.zipWithIndex.map { case (c, k) =>
      Op(s"chunk_$c", "chunked", (s, ph) => {
        val df = ph("build")(fetcher(s).fetch(chunks(c)))
        ph("plan")(df.queryExecution.executedPlan)
        val rows = ph("execute")(df.collect())
        Done(rows.length, Some(df), () => {
          chunked = chunked + LineSum.of(rows.iterator, df.schema)
          if (k == nChunks - 1) sumCheck("chunked", chunked) else None
        })
      })
    }
    val partitioned = Op("partitioned", "partitioned", (s, ph) => {
      val df = ph("build")(fetcher(s).fetchAllPartitioned("l_suppkey", nChunks))
      ph("plan")(df.queryExecution.executedPlan)
      // the timed drain only counts the rows: the iterator hands out each row
      // once and keeps no partition after the next one arrives
      val n = ph("execute") {
        var k = 0L
        df.toLocalIterator().forEachRemaining(_ => k += 1)
        k
      }
      // the checksum is a second, untimed pass over the same DataFrame, on
      // the executors; draining it to the driver again would double the leg
      Done(n, Some(df), () => {
        val got = LineSum.of(df)
        if (n != got.rows) Some(s"partitioned drain delivered $n rows, the DataFrame has ${got.rows}")
        else sumCheck("partitioned", got)
      })
    })
    val read = Op("source_read", "source", (s, ph) => {
      val df = ph("build")(source(s))
      ph("plan")(df.queryExecution.executedPlan)
      val rows = ph("execute")(df.collect())
      Done(rows.length, Some(df), () =>
        sourceCheck(rows.iterator.map((r: Row) => (r.getLong(0), r.getInt(1), r.getString(2))), rows.length))
    })
    val write = Op("sink_write", "sink", (s, ph) => {
      val df = ph("build")(source(s))
      ph("execute")(df.write.format("graft.sources.ChunkedSource")
        .option("target", target).mode("overwrite").save())
      val written = ChunkedSink.rows(target)
      Done(written.size, None, () =>
        try sourceCheck(written.iterator.map(r => (r.id, r.chunk, r.payload)), written.size)
        finally ChunkedSink.drop(target))
    })
    (chunksOp +: chunkOps) ++ Seq(partitioned, read, write)
  }
}
