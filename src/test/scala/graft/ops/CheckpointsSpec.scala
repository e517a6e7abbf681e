package graft.ops

import java.io.File

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** [[Checkpoints]]' scope contract on toy frames, and the guard that
  * keeps it the only maker of checkpoints in the library.
  */
class CheckpointsSpec extends SparkSpec {

  private def base: DataFrame = spark.range(10).toDF("id")
  private def reads(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectWithSubqueries { case lr: LogicalRDD => lr.rdd.id }.toSet
  private def resident(df: DataFrame): Boolean =
    reads(df).forall(spark.sparkContext.getPersistentRDDs.contains)

  test("owned: releases the checkpoints its result does not read and keeps the rest") {
    val (added, out) = persistedDuring(Checkpoints.owned {
      val superseded = Checkpoints(base.filter(col("id") < 5))
      Checkpoints(superseded.filter(col("id") > 1))
    })
    assert(added.size == 1 && added == reads(out))
    assert(out.count() == 3 && out.count() == 3)
  }

  test("owned: an inner scope hands what its result reads to the enclosing scope") {
    val (added, _) = persistedDuring(Checkpoints.owned {
      val inner = Checkpoints.owned(Checkpoints(base).filter(col("id") > 1))
      assert(resident(inner) && inner.count() == 8)
      base
    })
    assert(added.isEmpty, s"the outer scope left ${added.toSeq.sorted}")
  }

  test("owned: a checkpoint read only through a scalar subquery stays") {
    val (added, out) = persistedDuring(Checkpoints.owned {
      val top = Checkpoints(base.agg(max("id").as("m")))
      base.filter(col("id") === top.scalar())
    })
    assert(added.size == 1 && added == reads(out))
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("owned: a throw releases what the scope made; a frame passed in stays") {
    val input = Checkpoints(base) // no scope open: recorded nowhere
    val (added, _) = persistedDuring(intercept[IllegalStateException](Checkpoints.owned {
      Checkpoints(input.filter(col("id") > 1)).count()
      throw new IllegalStateException("fence")
    }))
    assert(added.isEmpty, s"the throw left ${added.toSeq.sorted}")
    assert(resident(input))
    Checkpoints.owned(Checkpoints(input.filter(col("id") > 1)).limit(1)).count()
    assert(resident(input) && input.count() == 10)
  }

  test("Checkpoints.apply is the only localCheckpoint call in src/main") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} is not a directory")
    def scalaFiles(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val sites = scalaFiles(root).filterNot(_.getName == "Checkpoints.scala").flatMap { f =>
      val src = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
      try src.getLines().zipWithIndex.collect {
        case (line, i) if line.contains(".localCheckpoint(") => s"${f.getPath}:${i + 1}"
      }.toList
      finally src.close()
    }
    assert(sites.isEmpty, s"checkpoints made outside graft.ops.Checkpoints: $sites")
  }
}
