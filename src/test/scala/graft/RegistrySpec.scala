package graft

/** Registry-wide guards: every registered query must run and produce rows on
  * the smallest fixture (an empty result would silently weaken the driver's
  * hash check), and each record's name is unique and its oracle non-blank.
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
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      if (n == 0) Some(name) else None
    }
    assert(empty.isEmpty, s"queries with empty results: $empty")
  }

  test("flagship entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
