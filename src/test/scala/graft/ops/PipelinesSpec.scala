package graft.ops

import graft.SparkSpec
import graft.core.Tables

class PipelinesSpec extends SparkSpec {

  test("curate: stages only remove rows, output is deterministic, packs respect budget") {
    val docs = Tables.documents(spark, sfDir)
    val rates = (10 to 19).map(i => s"src$i" -> 8).toMap
    val out = Pipelines.curate(docs, mixRates = rates)
    val rows = out.collect()
    val again = Pipelines.curate(docs, mixRates = rates).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
    assert(rows.nonEmpty && rows.length < docs.count())
    // survivors must be a subset of the dedup keep-list of the gated corpus
    val gateIds = Text.qualityScore(docs)
      .filter(org.apache.spark.sql.functions.col("mean_tok_len").between(4.0, 9.0) &&
        org.apache.spark.sql.functions.col("type_token_ratio") >= 0.3)
      .select("doc_id")
    val keep = Dedup.dedupKeepList(docs.join(gateIds, "doc_id"), 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).toSet.subsetOf(keep))
    // within each (source, pack), tokens after the first row stay under budget + one doc
    rows.groupBy(r => (r.getString(1), r.getLong(4))).foreach { case (_, rs) =>
      val total = rs.map(_.getLong(2)).sum
      val maxDoc = rs.map(_.getLong(2)).max
      assert(total <= 512 + maxDoc, s"pack overflow: $total")
    }
  }

  test("curateWith(minhashPairs): LSH survivors are a superset; shared rows value-identical") {
    val docs = Tables.documents(spark, sfDir)
    val rates = (10 to 19).map(i => s"src$i" -> 8).toMap
    val exact = Pipelines.curate(docs, mixRates = rates).collect()
    val lsh = Pipelines.curateWith(docs,
      Dedup.minhashPairs(_, 0.5, sorted = false), mixRates = rates).collect()
    // LSH edges are exactly verified (⊆ exact edges), and a doc dropped
    // under the LSH graph is non-min in an LSH cluster ⊆ its exact
    // cluster, so it is dropped under the exact graph too: dropped(LSH) ⊆
    // dropped(exact) ⇒ survivors(LSH) ⊇ survivors(exact)
    val exactIds = exact.map(_.getLong(0)).toSet
    val lshIds = lsh.map(_.getLong(0)).toSet
    assert(exactIds.subsetOf(lshIds),
      s"exact-survivor ids missing from LSH run: ${exactIds.diff(lshIds).take(5)}")
    // downstream stages are deterministic row-wise: shared rows agree on
    // every column except pack_id (the running token budget shifts when
    // the survivor set grows)
    val lshByIdNoPack = lsh.map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getString(3))).toMap
    exact.foreach { r =>
      assert(lshByIdNoPack(r.getLong(0)) == ((r.getString(1), r.getLong(2), r.getString(3))))
    }
    // report (not assert) whether the two pipelines coincide on the fixture
    info(s"fixture: exact=${exactIds.size} lsh=${lshIds.size} identical=${exactIds == lshIds}")
  }

  test("curateWithGate(gopherKeep) equals manual gate + curate tail composition") {
    import graft.core.Tables
    val d = Tables.documents(spark, sfDir)
    val piped = Pipelines.curateWithGate(d, Text.gopherKeep(),
      Dedup.jaccardPairs(_, 0.5, sorted = false)).collect()
    assert(piped.nonEmpty)
    // gate column agrees with the reported keep flag of gopherRules
    val keepIds = Text.gopherRules(d).filter(org.apache.spark.sql.functions.col("keep"))
      .collect().map(_.getLong(0)).toSet
    val gatedIds = d.filter(Text.gopherKeep()).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(gatedIds == keepIds, "in-place gate must equal the reported keep flag")
    // pipeline output is a subset of the gated corpus
    assert(piped.map(_.getLong(0)).toSet.subsetOf(gatedIds))
  }
}
