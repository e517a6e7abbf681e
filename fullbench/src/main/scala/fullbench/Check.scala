package fullbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{count, lit, sum}
import org.apache.spark.sql.types.StructType

/** Expected result of one registered query: row count and schema for every
  * query, plus an order-sensitive content hash for oracle-backed ones.
  */
final case class Expected(rows: Long, schema: String, hash: Option[String])

object Check {
  private def sha(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  def schemaHash(schema: StructType): String = sha(Iterator(schema.catalogString))

  /** Order-sensitive hash of the collected rows. */
  def contentHash(rows: Array[Row]): String = sha(rows.iterator.map(_.toString))

  def of(schema: StructType, rows: Array[Row], oracle: Boolean): Expected =
    Expected(rows.length, schemaHash(schema), if (oracle) Some(contentHash(rows)) else None)

  /** None when `rows` match `want`, else what differed. */
  def compare(want: Expected, schema: StructType, rows: Array[Row]): Option[String] =
    if (rows.length != want.rows) Some(s"rows ${rows.length} != expected ${want.rows}")
    else if (schemaHash(schema) != want.schema) Some(s"schema ${schema.catalogString} differs")
    else want.hash.filter(_ != contentHash(rows)).map(_ => "content hash differs")

  /** Tab-separated `query rows schema-hash content-hash|-`, sorted by query. */
  def write(path: Path, all: Map[String, Expected]): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, all.toSeq.sortBy(_._1).map { case (q, e) =>
      s"$q\t${e.rows}\t${e.schema}\t${e.hash.getOrElse("-")}"
    }.asJava, StandardCharsets.UTF_8)
  }

  def read(path: Path): Map[String, Expected] =
    Files.readAllLines(path, StandardCharsets.UTF_8).asScala.filter(_.nonEmpty).map { l =>
      val Array(q, n, s, h) = l.split('\t')
      q -> Expected(n.toLong, s, if (h == "-") None else Some(h))
    }.toMap
}

/** Order-independent checksum of `lineitem` rows delivered to the driver:
  * row count and the sums of three key columns, the same figures DuckDB
  * computes over the parquet file.
  */
final case class LineSum(rows: Long, orderkey: Long, suppkey: Long, linenumber: Long) {
  def +(o: LineSum): LineSum =
    LineSum(rows + o.rows, orderkey + o.orderkey, suppkey + o.suppkey, linenumber + o.linenumber)
  override def toString: String = s"$rows,$orderkey,$suppkey,$linenumber"
}

object LineSum {
  val zero: LineSum = LineSum(0, 0, 0, 0)

  def parse(s: String): LineSum = {
    val Array(n, o, su, l) = s.trim.split(',').map(_.trim.toLong)
    LineSum(n, o, su, l)
  }

  /** The checksum of a `lineitem` DataFrame, aggregated by Spark. */
  def of(df: DataFrame): LineSum = {
    val r = df.agg(count(lit(1)), sum("l_orderkey"), sum("l_suppkey"), sum("l_linenumber")).head()
    LineSum(r.getLong(0), r.getLong(1), r.getLong(2), r.getAs[Number](3).longValue)
  }

  /** Adds the rows of `it` (schema of `lineitem`) to the checksum. */
  def of(it: Iterator[Row], schema: StructType): LineSum = {
    val (io, is, il) = (schema.fieldIndex("l_orderkey"), schema.fieldIndex("l_suppkey"),
      schema.fieldIndex("l_linenumber"))
    var n, o, su, l = 0L
    it.foreach { r =>
      n += 1; o += r.getLong(io); su += r.getLong(is); l += r.getAs[Number](il).longValue
    }
    LineSum(n, o, su, l)
  }
}
