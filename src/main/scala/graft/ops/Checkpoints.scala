package graft.ops

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of checkpoint lifetime. Every materialized intermediate
  * in the library is a `localCheckpoint()` made through [[apply]], which
  * records it in the calling thread's innermost open [[owned]] scope. A
  * scope that returns releases each checkpoint recorded in it that its
  * result's plan does not read, and hands the rest to the enclosing scope;
  * a scope that throws releases everything it recorded. So a build leaves
  * resident exactly the checkpoints its result reads, whichever operators
  * it composed, and a kernel that throws (a [[Rounds.fixpoint]] fence)
  * leaves none.
  *
  * Only checkpoints made inside a scope are ever released by it: a frame
  * a caller passes in was recorded, if at all, by the caller's scope. A
  * checkpoint made with no scope open is recorded nowhere and lives until
  * Spark's ContextCleaner collects it. Scopes are per thread and are
  * recorded explicitly, not found by diffing the SparkContext's persisted
  * RDDs, which other threads share.
  *
  * Releasing is safe only for a checkpoint nothing reads any more: a
  * localCheckpoint has no lineage, so a released RDD read again fails the
  * job (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). The plan walk includes
  * subqueries, so a checkpoint read through a scalar subquery stays.
  */
private[graft] object Checkpoints {

  // the calling thread's open scopes, innermost first
  private val scopes = new ThreadLocal[List[ArrayBuffer[RDD[_]]]] {
    override def initialValue(): List[ArrayBuffer[RDD[_]]] = Nil
  }

  /** `df.localCheckpoint()`, recorded in the innermost open scope. */
  def apply(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    scopes.get.headOption.foreach(_ ++= rdds(ck))
    ck
  }

  /** Runs `body` in a new scope and returns its result; see the object
    * doc for what it releases. The body must not `return` out of the
    * enclosing method: a non-local return skips the release.
    */
  def owned(body: => DataFrame): DataFrame = {
    val made = ArrayBuffer.empty[RDD[_]]
    val outer = scopes.get
    scopes.set(made :: outer)
    val out = try body catch {
      case NonFatal(e) =>
        made.foreach(_.unpersist(blocking = false))
        throw e
    } finally scopes.set(outer)
    val read = rdds(out).map(_.id).toSet
    val (kept, done) = made.partition(r => read(r.id))
    done.foreach(_.unpersist(blocking = false))
    outer.headOption.foreach(_ ++= kept)
    out
  }

  /** Releases the checkpoints `df` reads now, before its scope ends — for
    * a round loop whose every round supersedes the previous one.
    */
  def release(df: DataFrame): Unit = {
    val gone = rdds(df)
    scopes.get.foreach(_ --= gone)
    gone.foreach(_.unpersist(blocking = false))
  }

  private def rdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectWithSubqueries { case lr: LogicalRDD => lr.rdd }
}
