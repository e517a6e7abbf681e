package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{TextExpressions, VectorExpressions}
import graft.functions.TextExpressions.NfcNormalize
import graft.functions.VectorExpressions.{DotProduct, L2Norm, SortedIntersectSize}

/** SparkSessionExtensions entry point: makes the native vector expressions
  * available from SQL text in any session built with
  * `--conf spark.sql.extensions=graft.GraftExtensions`
  * (or `.withExtensions(new GraftExtensions)`):
  *
  * {{{
  *   SELECT vec_dot(a, b) / (vec_norm(a) * vec_norm(b)) AS cosine ...
  * }}}
  *
  * This is preference path (b) from SURVEY.md §2: a scalar function as a
  * codegen Catalyst Expression, registered without forking Spark.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // preference path (c): declarative window top-k (row_number + filter)
    // plans through the bounded-heap TopKPerGroupExec
    ext.injectOptimizerRule(_ => new graft.plans.RowNumberTopKRule)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (children: Seq[Expression]) => VectorExpressions.dotBuilder(children)))
    ext.injectFunction((
      FunctionIdentifier("vec_norm"),
      new ExpressionInfo(classOf[L2Norm].getName, "vec_norm"),
      (children: Seq[Expression]) => VectorExpressions.normBuilder(children)))
    ext.injectFunction((
      FunctionIdentifier("sorted_intersect_size"),
      // the precondition rides the SQL-visible usage string: the merge scan
      // undercounts on unsorted or non-distinct input, and SQL callers
      // can't see the Scala scaladoc (round-5 ADVICE)
      new ExpressionInfo(classOf[SortedIntersectSize].getName, null,
        "sorted_intersect_size",
        "sorted_intersect_size(a, b) - Size of the intersection of two " +
          "arrays via a single merge scan. PRECONDITION: both arrays must " +
          "be sorted ascending with distinct elements (e.g. produced by " +
          "array_sort(array_distinct(...))); unsorted or duplicated input " +
          "silently undercounts.",
        "", "", "", "", "", "", ""),
      (children: Seq[Expression]) => VectorExpressions.intersectSizeBuilder(children)))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (children: Seq[Expression]) => TextExpressions.nfcBuilder(children)))
  }
}
