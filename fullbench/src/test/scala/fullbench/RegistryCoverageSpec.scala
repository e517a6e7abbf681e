package fullbench

import org.scalatest.funsuite.AnyFunSuite

class RegistryCoverageSpec extends AnyFunSuite {
  private val registry = graft.SparkEntry.queries.keySet

  private val analytics = Registry.analytics.values.flatten.toSeq
  private val pipeline = Registry.pipeline.values.flatten.toSeq

  test("analytics and pipeline are disjoint") {
    val both = analytics.toSet intersect pipeline.toSet
    assert(both.isEmpty, s"listed in both workloads: ${both.toSeq.sorted.mkString(", ")}")
  }

  test("no query is listed twice within a workload") {
    Seq(analytics, pipeline).foreach { names =>
      val dup = names.diff(names.distinct)
      assert(dup.isEmpty, s"listed twice: ${dup.mkString(", ")}")
    }
  }

  test("analytics and pipeline together are exactly SparkEntry.queries") {
    val listed = (analytics ++ pipeline).toSet
    val missing = registry diff listed
    val unknown = listed diff registry
    assert(missing.isEmpty, s"registered but in no workload: ${missing.toSeq.sorted.mkString(", ")}")
    assert(unknown.isEmpty, s"listed but not registered: ${unknown.toSeq.sorted.mkString(", ")}")
  }

  test("the sample runs one query of every module of each workload") {
    Seq(Registry.analytics, Registry.pipeline).foreach { byModule =>
      val sample = Registry.sample(byModule)
      assert(sample.size == byModule.size)
      byModule.foreach { case (m, qs) => assert(qs.count(sample.contains) == 1, m) }
    }
  }

  test("every registered query has an expected result; oracle-backed ones a content hash") {
    val files = Option(new java.io.File("expected").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".tsv"))
    assert(files.nonEmpty, "no expected-result file under expected/")
    val oracle = graft.SparkEntry.oracleSql.keySet
    files.foreach { f =>
      val recorded = Check.read(f.toPath)
      val missing = registry diff recorded.keySet
      assert(missing.isEmpty, s"${f.getName}: no expected result for ${missing.toSeq.sorted.mkString(", ")}")
      val unhashed = recorded.collect { case (q, e) if oracle(q) && e.hash.isEmpty => q }
      assert(unhashed.isEmpty, s"${f.getName}: oracle-backed without hash: ${unhashed.mkString(", ")}")
    }
  }
}
