package fullbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed interval of the traced run. Jobs and stages are children of the
  * phase span that launched them; `attrs` carries the counts recorded at the
  * same boundary.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Double, var endMs: Double,
                      attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty) {
  def ms: Double = endMs - startMs
}

object Span {
  /** Duration of `span` minus the part of it covered by `children`. */
  def selfMs(span: Span, children: Iterable[Span]): Double = {
    val clipped = children.toSeq
      .map(c => (math.max(c.startMs, span.startMs), math.min(c.endMs, span.endMs)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) covered += curE - curS
    span.ms - covered
  }
}

/** Per-task executor counters, summed per stage. */
final class TaskTotals {
  var tasks, failed = 0L
  var runMs, cpuMs, gcMs, schedDelayMs, fetchWaitMs = 0.0
  var shuffleWrite, shuffleRead, spill, recordsRead, resultBytes = 0L

  def add(info: TaskInfo, m: org.apache.spark.executor.TaskMetrics, ok: Boolean): Unit = {
    tasks += 1
    if (!ok) failed += 1
    if (m != null) {
      runMs += m.executorRunTime
      cpuMs += m.executorCpuTime / 1e6
      gcMs += m.jvmGCTime
      val gettingResult = if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
      schedDelayMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult)
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      recordsRead += m.inputMetrics.recordsRead
      resultBytes += m.resultSize
    }
  }
}

/** Benchmark-registered listener: jobs carry the id of the phase span that
  * launched them in the local property [[Tracer.SpanProperty]], which the
  * benchmark sets around every phase. Events are only recorded here; they
  * are turned into spans after [[Tracer.drain]].
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  @volatile private var marker: (String, CountDownLatch) = ("", new CountDownLatch(0))
  @volatile private var markerJob = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    if (props.flatMap(p => Option(p.getProperty(MarkerProperty))).contains(marker._1)) {
      markerJob = e.jobId
    } else if (props.forall(p => p.getProperty(CheckProperty) == null)) {
      val phase = props.flatMap(p => Option(p.getProperty(SpanProperty))).map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, JobRec(e.jobId, phase, e.time, e.stageIds))
      e.stageInfos.foreach { s =>
        stageJob.putIfAbsent(s.stageId, e.jobId)
        stages.putIfAbsent(s.stageId, StageRec(s.stageId, s.name))
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == markerJob) marker._2.countDown()
    else Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      s.startMs = e.stageInfo.submissionTime.getOrElse(-1L)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      if (s.startMs < 0) s.startMs = e.stageInfo.submissionTime.getOrElse(-1L)
      s.endMs = e.stageInfo.completionTime.getOrElse(-1L)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stages.get(e.stageId)).foreach { s =>
      s.totals.synchronized(s.totals.add(e.taskInfo, e.taskMetrics, e.reason == Success))
    }

  /** Waits until the bus has delivered every event posted before this call:
    * runs a one-task marker job and blocks until its end event arrives. The
    * bus delivers events to a listener in order, so every earlier job, stage
    * and task event has been handled by then.
    */
  def drain(): Unit = {
    val latch = new CountDownLatch(1)
    marker = (java.util.UUID.randomUUID().toString, latch)
    val prev = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, null)
    sc.setLocalProperty(MarkerProperty, marker._1)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty(MarkerProperty, null)
      sc.setLocalProperty(SpanProperty, prev)
    }
    require(latch.await(120, TimeUnit.SECONDS), "listener bus did not deliver the marker job")
  }

  /** Job and stage spans of every job recorded since the last [[clear]], as
    * children of their launching phase span, with task totals on the stages.
    */
  def spans(nextId: () => Long): Seq[(JobRec, Span, Seq[(Span, TaskTotals)])] =
    jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      val jobSpan = Span(nextId(), j.phase, "job", s"job ${j.id}", j.startMs.toDouble,
        math.max(j.endMs, j.startMs).toDouble)
      val st = j.stageIds.flatMap(id => Option(stages.get(id)))
        .filter(s => stageJob.get(s.id) == j.id && s.startMs >= 0)
        .map { s =>
          val span = Span(nextId(), jobSpan.id, "stage", s"stage ${s.id}: ${s.name}",
            s.startMs.toDouble, math.max(s.endMs, s.startMs).toDouble)
          (span, s.totals)
        }
      (j, jobSpan, st)
    }

  def clear(): Unit = { jobs.clear(); stages.clear(); stageJob.clear() }
}

object Tracer {
  val SpanProperty = "fullbench.span"
  val MarkerProperty = "fullbench.marker"
  /** Set on jobs an output check launches; the listener leaves them out. */
  val CheckProperty = "fullbench.check"

  /** Runs an output check, marking the jobs it launches. */
  def checking[T](sc: SparkContext)(body: => T): T = {
    sc.setLocalProperty(CheckProperty, "1")
    try body finally sc.setLocalProperty(CheckProperty, null)
  }

  final case class JobRec(id: Int, phase: Long, startMs: Long, stageIds: Seq[Int],
                          var endMs: Long = -1L)
  final case class StageRec(id: Int, name: String, var startMs: Long = -1L,
                            var endMs: Long = -1L, totals: TaskTotals = new TaskTotals)
}

/** The traced form of a run: phase spans around every operation, the
  * listener's job/stage spans under them, per-pass layer metrics, and the
  * trace file written once at the end.
  */
final class TraceRun(spark: org.apache.spark.sql.SparkSession) {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
  import Main.{codegen, nowMs}

  private val sc = spark.sparkContext
  private val listener = new Tracer(sc)
  private val t0 = nowMs
  private var lastId = 0L
  private def nextId(): Long = { lastId += 1; lastId }
  private val spans = mutable.ArrayBuffer.empty[Span]

  private final class OpRec(val op: Op, val span: Span) {
    val phases = mutable.ArrayBuffer.empty[Span]
  }
  private val recs = mutable.ArrayBuffer.empty[OpRec]
  private var passSpan: Span = _

  /** Opens the operation's span; the first operation of a pass also
    * registers the listener, which stays registered until [[finishPass]]. */
  def begin(op: Op): Phases = {
    if (recs.isEmpty) {
      sc.addSparkListener(listener)
      passSpan = Span(nextId(), 0L, "pass", "pass", nowMs, nowMs)
    }
    val rec = new OpRec(op, Span(nextId(), passSpan.id, "query", op.name, nowMs, nowMs))
    recs += rec
    new Phases {
      def apply[T](name: String)(body: => T): T = {
        val id = nextId()
        val cg0 = codegen()
        val start = nowMs
        sc.setLocalProperty(Tracer.SpanProperty, id.toString)
        try body finally {
          sc.setLocalProperty(Tracer.SpanProperty, null)
          val cg = codegen() - cg0
          rec.phases += Span(id, rec.span.id, "phase", name, start, nowMs, mutable.LinkedHashMap(
            "codegen.compiles" -> cg.compiles.toDouble, "codegen.compile_ms" -> cg.ns / 1e6))
        }
      }
    }
  }

  /** Closes the operation's span and reads its final plan (after the timed span). */
  def end(done: Option[Done], ms: Double): Unit = {
    val span = recs.last.span
    span.endMs = span.startMs + ms
    span.attrs("rows") = done.map(_.rows.toDouble).getOrElse(0.0)
    span.attrs("failed") = if (done.isEmpty) 1.0 else 0.0
    done.flatMap(_.df).foreach(df => span.attrs ++= planMetrics(df))
  }

  private def planMetrics(df: DataFrame): Seq[(String, Double)] = {
    val qe = df.queryExecution
    val phases = qe.tracker.phases
    def phase(k: String) = phases.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val ruleMs = qe.tracker.rules.collect {
      case (name, r) if name.startsWith("graft.plans.") => r.totalTimeNs / 1e6
    }.sum
    def walk(p: SparkPlan): Seq[BroadcastExchangeExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case b: BroadcastExchangeExec => b +: b.children.flatMap(walk)
      case other => (other.children ++ other.subqueries).flatMap(walk)
    }
    val bcasts = try walk(qe.executedPlan) catch { case _: Throwable => Nil }
    def metric(b: BroadcastExchangeExec, k: String) = b.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    Seq(
      "plan.analysis_ms" -> phase("analysis"),
      "plan.optimize_ms" -> phase("optimization"),
      "plan.physical_ms" -> phase("planning"),
      "plans.rule_ms" -> ruleMs,
      "broadcast.build_ms" -> bcasts.map(b =>
        metric(b, "collectTime") + metric(b, "buildTime") + metric(b, "broadcastTime")).sum,
      "broadcast.bytes" -> bcasts.map(metric(_, "dataSize")).sum)
  }

  /** Drains the listener bus, turns the pass's jobs and stages into spans and
    * sums the pass's layer metrics. */
  def finishPass(ops: Seq[Main.OpRun], probe0: (Long, Long, Long),
                 probe1: (Long, Long, Long)): Map[String, Double] = {
    listener.drain()
    sc.removeSparkListener(listener)
    val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val pass = passSpan
    pass.endMs = nowMs
    spans += pass
    val jobs = listener.spans(() => nextId())
    val byPhase = jobs.groupBy(_._2.parent)
    var chunkScanned = 0L
    recs.foreach { r =>
      spans += r.span
      r.span.attrs.foreach { case (k, v) if k.contains('.') => m(k) += v; case _ => }
      r.phases.foreach { p =>
        val pj = byPhase.getOrElse(p.id, Nil)
        val jobSpans = pj.map(_._2)
        p.attrs.foreach { case (k, v) => m(k) += v }
        p.name match {
          case "build" =>
            m("build.ms") += p.ms
            m("build.self_ms") += Span.selfMs(p, jobSpans)
            m("build.jobs") += pj.size
            spans += p.copy(attrs = p.attrs += ("self_ms" -> Span.selfMs(p, jobSpans)))
          case "execute" =>
            val lastEnd = if (jobSpans.isEmpty) p.endMs else math.min(p.endMs, jobSpans.map(_.endMs).max)
            val exec = p.copy(endMs = lastEnd)
            val result = Span(nextId(), p.parent, "phase", "result", lastEnd, p.endMs)
            m("exec.ms") += exec.ms
            m("exec.jobs") += pj.size
            m("result.ms") += result.ms
            m("result.bytes") += pj.flatMap(_._3).map(_._2.resultBytes).sum
            spans += exec.copy(attrs = exec.attrs += ("self_ms" -> Span.selfMs(exec, jobSpans)))
            spans += result
          case _ => spans += p.copy(attrs = p.attrs += ("self_ms" -> Span.selfMs(p, jobSpans)))
        }
        if (r.op.name.startsWith("chunk_")) chunkScanned += pj.flatMap(_._3).map(_._2.recordsRead).sum
      }
      r.span.attrs("self_ms") = Span.selfMs(r.span, r.phases)
    }
    jobs.foreach { case (_, js, st) =>
      spans += js
      js.attrs("stages") = st.size
      st.foreach { case (ss, t) =>
        ss.attrs ++= Seq("tasks" -> t.tasks.toDouble, "failed_tasks" -> t.failed.toDouble,
          "task_run_ms" -> t.runMs, "task_cpu_ms" -> t.cpuMs, "gc_ms" -> t.gcMs,
          "sched_delay_ms" -> t.schedDelayMs, "shuffle_write_bytes" -> t.shuffleWrite.toDouble,
          "shuffle_read_bytes" -> t.shuffleRead.toDouble, "spill_bytes" -> t.spill.toDouble,
          "records_read" -> t.recordsRead.toDouble)
        spans += ss
        m("exec.stages") += 1
        m("exec.tasks") += t.tasks
        m("exec.failed_tasks") += t.failed
        m("exec.sched_delay_ms") += t.schedDelayMs
        m("exec.task_run_ms") += t.runMs
        m("exec.task_cpu_ms") += t.cpuMs
        m("exec.gc_ms") += t.gcMs
        m("shuffle.write_bytes") += t.shuffleWrite
        m("shuffle.read_bytes") += t.shuffleRead
        m("shuffle.fetch_wait_ms") += t.fetchWaitMs
        m("spill.bytes") += t.spill
      }
    }
    def legMs(p: String => Boolean) = ops.filter(o => p(o.name)).map(_.ms).sum
    def legRows(p: String => Boolean) = ops.filter(o => p(o.name)).map(_.rows).sum.toDouble
    val chunkRows = legRows(_.startsWith("chunk_"))
    m("result.rows") = ops.map(_.rows).sum.toDouble
    m("core.chunks_ms") = legMs(_ == "chunks")
    m("core.chunk_fetch_ms") = legMs(_.startsWith("chunk_"))
    m("core.scan_amplification") = if (chunkRows > 0) chunkScanned / chunkRows else 0.0
    m("core.partitioned_fetch_ms") = legMs(_ == "partitioned")
    m("sources.read_ms") = legMs(_ == "source_read")
    m("sources.rows_read") = legRows(_ == "source_read")
    m("sources.write_ms") = legMs(_ == "sink_write")
    m("sources.rows_written") = legRows(_ == "sink_write")
    val hits = (probe1._1 - probe0._1).toDouble
    val added = math.max(0L, probe1._3 - probe0._3).toDouble
    m("probecache.hits") = hits
    m("probecache.input_hits") = (probe1._2 - probe0._2).toDouble
    m("probecache.entries_added") = added
    m("probecache.hit_ratio") = if (hits + added > 0) hits / (hits + added) else 0.0
    pass.attrs ++= m
    listener.clear()
    recs.clear()
    TraceRun.layerUnits.map { case (k, _) => k -> m(k) }.toMap
  }

  /** Writes every span of the run as JSON, times relative to the run start. */
  def write(c: Conf, passes: Seq[Main.Pass]): java.nio.file.Path = {
    val dir = java.nio.file.Paths.get(c.work, "traces")
    java.nio.file.Files.createDirectories(dir)
    val file = dir.resolve(s"${c.workload}-seed${c.seed}.json")
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case ch if ch < ' ' => " "; case ch => ch.toString
    } + "\""
    val w = java.nio.file.Files.newBufferedWriter(file)
    try {
      w.write(s"""{"workload": ${q(c.workload)}, "seed": ${c.seed}, "passes": [""")
      w.write(passes.map(p => s"""{"index": ${p.index}, "traced": ${p.traced}, "wall_s": ${p.wallS}}""")
        .mkString(", "))
      w.write("""], "spans": [""")
      spans.zipWithIndex.foreach { case (s, i) =>
        if (i > 0) w.write(",")
        w.write(s"""\n{"id": ${s.id}, "parent": ${s.parent}, "kind": ${q(s.kind)}, "name": ${q(s.name)}, """ +
          s""""start_ms": ${s.startMs - t0}, "end_ms": ${s.endMs - t0}""" +
          s.attrs.map { case (k, v) => s""", ${q(k)}: ${Main.num(v)}""" }.mkString + "}")
      }
      w.write("\n]}\n")
    } finally w.close()
    file
  }
}

object TraceRun {
  /** Per-layer metrics of the traced run, with their units. */
  val layerUnits: Seq[(String, String)] = Seq(
    "core.resolve_ms" -> "ms", "core.chunks_ms" -> "ms", "core.chunk_fetch_ms" -> "ms",
    "core.scan_amplification" -> "ratio", "core.partitioned_fetch_ms" -> "ms",
    "sources.read_ms" -> "ms", "sources.rows_read" -> "rows", "sources.write_ms" -> "ms",
    "sources.rows_written" -> "rows",
    "build.ms" -> "ms", "build.self_ms" -> "ms", "build.jobs" -> "count",
    "probecache.hits" -> "count", "probecache.input_hits" -> "count",
    "probecache.entries_added" -> "count", "probecache.hit_ratio" -> "ratio",
    "plan.analysis_ms" -> "ms", "plan.optimize_ms" -> "ms", "plan.physical_ms" -> "ms",
    "plans.rule_ms" -> "ms",
    "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms",
    "exec.ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.sched_delay_ms" -> "ms", "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms",
    "exec.gc_ms" -> "ms", "exec.failed_tasks" -> "count",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_ms" -> "ms", "spill.bytes" -> "bytes",
    "broadcast.build_ms" -> "ms", "broadcast.bytes" -> "bytes",
    "result.rows" -> "rows", "result.bytes" -> "bytes", "result.ms" -> "ms",
    "trace.overhead_ms" -> "ms")
}
