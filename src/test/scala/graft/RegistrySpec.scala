package graft

import org.apache.spark.sql.execution.LogicalRDD

/** Registry-wide guards: every registered query must run and produce rows on
  * the smallest fixture (an empty result would silently weaken the driver's
  * hash check) and leave resident only the checkpoints its result reads,
  * and each record's name is unique and its oracle non-blank.
  */
class RegistrySpec extends SparkSpec {

  test("registry names are unique and every oracle is non-blank") {
    // a duplicated record would vanish silently from the name-keyed maps
    val dups = SparkEntry.registry.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"names registered more than once: $dups")
    val blank = SparkEntry.registry.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"queries with a blank oracle: $blank")
  }

  test("every registered query returns rows at sf0.001") {
    val empty = Seq.newBuilder[String]
    val resident = Seq.newBuilder[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // residency: the build leaves persisted exactly the checkpoints its
      // result reads, whatever operators it composed
      val (added, df) = persistedDuring(fn(spark, sfDir))
      val reads = df.queryExecution.analyzed
        .collectWithSubqueries { case lr: LogicalRDD => lr.rdd.id }.toSet
      if (added != reads)
        resident += s"$name left ${added.toSeq.sorted} but reads ${reads.toSeq.sorted}"
      if (df.count() == 0) empty += name
    }
    assert(empty.result().isEmpty, s"queries with empty results: ${empty.result()}")
    assert(resident.result().isEmpty, s"builds with unread checkpoints: ${resident.result()}")
  }

  test("flagship entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
