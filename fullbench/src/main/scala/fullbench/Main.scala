package fullbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.core.Tables

final case class Conf(
    mode: String = "run",
    workload: String = "",
    seed: Long = 0L,
    seconds: Double = 10,
    trace: Boolean = false,
    cpus: Int = Runtime.getRuntime.availableProcessors(),
    sfDir: String = "",
    fetchDir: String = "",
    fetchSum: Option[LineSum] = None,
    expected: String = "",
    verifyOut: String = "",
    work: String = ".")

/** Full-result benchmark main. Modes:
  *  - `run`: one workload, closed loop, one client; prints a metric line per
  *    metric and, last, one JSON object (end-to-end metrics, or per-layer
  *    metrics from a traced run with `--trace 1`);
  *  - `expect`: records the expected result of every registered query;
  *  - `crosscheck`: hashes the results `graft.Verify` dumped and compares
  *    them with the expected file.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val conf = parse(args.toList, Conf())
    val ok = conf.mode match {
      case "run" => run(conf)
      case "expect" => expect(conf)
      case "crosscheck" => crossCheck(conf)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    System.exit(if (ok) 0 else 3)
  }

  private def parse(args: List[String], c: Conf): Conf = args match {
    case Nil => c
    case k :: v :: rest => parse(rest, k match {
      case "--mode" => c.copy(mode = v)
      case "--workload" => c.copy(workload = v)
      case "--seed" => c.copy(seed = v.toLong)
      case "--seconds" => c.copy(seconds = v.toDouble)
      case "--trace" => c.copy(trace = v == "1")
      case "--cpus" => c.copy(cpus = v.toInt)
      case "--sf-dir" => c.copy(sfDir = v)
      case "--fetch-dir" => c.copy(fetchDir = v)
      case "--fetch-sum" => c.copy(fetchSum = Some(LineSum.parse(v)))
      case "--expected" => c.copy(expected = v)
      case "--verify-out" => c.copy(verifyOut = v)
      case "--work" => c.copy(work = v)
      case other => throw new IllegalArgumentException(s"unknown option $other")
    })
    case other => throw new IllegalArgumentException(s"dangling option $other")
  }

  def session(c: Conf): SparkSession = SparkSession.builder()
    .master(s"local[${c.cpus}]")
    .appName("fullbench")
    // the session confs of graft.Bench
    .config("spark.sql.shuffle.partitions", c.cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", "10000")
    // everything Spark writes stays under the work dir
    .config("spark.local.dir", Paths.get(c.work, "spark-local").toAbsolutePath.toString)
    .config("spark.sql.warehouse.dir", Paths.get(c.work, "warehouse").toAbsolutePath.toString)
    .getOrCreate()

  private def quiet(s: SparkSession): SparkSession = { s.sparkContext.setLogLevel("ERROR"); s }

  // ---- clocks and JVM-wide counters -------------------------------------

  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  /** Wall-clock milliseconds at nanosecond resolution, comparable with the
    * listener's event times. */
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  final case class Codegen(compiles: Long, ns: Long) {
    def -(o: Codegen): Codegen = Codegen(compiles - o.compiles, ns - o.ns)
  }
  def codegen(): Codegen =
    Codegen(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** `graft.ops.ProbeCache` counters, read reflectively so the benchmark
    * keeps compiling when the cache is removed; None when it is absent. */
  object Probe {
    private val module: Option[AnyRef] =
      try Some(Class.forName("graft.ops.ProbeCache$").getField("MODULE$").get(null))
      catch { case _: Throwable => None }
    private def call(m: String): Option[Any] =
      module.flatMap(o => try Some(o.getClass.getMethod(m).invoke(o)) catch { case _: Throwable => None })
    def present: Boolean = module.isDefined
    /** (hits, input hits, entries) */
    def counters(): (Long, Long, Long) = (
      call("hits").map(_.asInstanceOf[Long]).getOrElse(0L),
      call("inputHits").map(_.asInstanceOf[Long]).getOrElse(0L),
      call("size").map(_.asInstanceOf[Int].toLong).getOrElse(0L))
  }

  /** Peak heap retained after a full collection: every pass ends with one
    * (outside the timed spans), and GC notifications add any full collection
    * during a pass. Young collections are left out: what they leave behind
    * includes old-generation garbage. */
  object Heap extends NotificationListener {
    @volatile var armed = false
    @volatile var peakBytes = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
    private def record(bytes: Long): Unit = synchronized { if (armed && bytes > peakBytes) peakBytes = bytes }
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction.contains("major"))
          record(info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
      }
    /** Runs a full collection and records what it retained. */
    def collect(): Unit = {
      System.gc()
      record(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    }
  }

  // ---- set-up ------------------------------------------------------------

  final case class Setup(spark: SparkSession, secs: Seq[Double], resolveMs: Seq[Double])

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 5
  /** Warm passes every run makes before it measures until `--seconds`, so
    * that every run pools at least the same passes. */
  val WarmPasses = 3

  /** Session start, fixture resolution (`Tables.load` of every table the
    * workload reads) and warm-up, repeated `Setups` times. The first
    * repetition also starts the SparkContext; the later ones start a fresh
    * `newSession()`, which resolves every table again. The last session is
    * kept for the passes. */
  def setUp(c: Conf, w: Workload): Setup = {
    var spark: SparkSession = null
    val secs, resolve = mutable.ArrayBuffer.empty[Double]
    (1 to Setups).foreach { _ =>
      val t0 = System.nanoTime()
      spark = if (spark == null) quiet(session(c)) else spark.newSession()
      spark.range(1000).selectExpr("sum(id)").collect()
      val r0 = System.nanoTime()
      val frames = w.tables.map { case (dir, t) => Tables.load(spark, dir, t) }
      resolve += (System.nanoTime() - r0) / 1e6
      frames.foreach(_.count())
      secs += (System.nanoTime() - t0) / 1e9
    }
    Setup(spark, secs.toSeq, resolve.toSeq)
  }

  // ---- one pass ----------------------------------------------------------

  final case class OpRun(name: String, leg: String, ms: Double, rows: Long, error: Option[String])
  final case class Pass(index: Int, traced: Boolean, ops: Seq[OpRun], layers: Map[String, Double]) {
    def wallS: Double = ops.map(_.ms).sum / 1e3
  }

  def runPass(w: Workload, base: SparkSession, index: Int, seed: Long,
              tracer: Option[TraceRun]): Pass = {
    val spark = if (w.freshSessionPerPass) base.newSession() else base
    // the cold first pass runs in a fixed order, so that first_pass_s
    // compares the same pass on every seed; warm passes run in seed order
    val order = if (index == 1) None else Some(new Random(seed * 1000003L + index))
    val probe0 = Probe.counters()
    val ops = w.pass(order).map { op =>
      val phases = tracer.map(_.begin(op)).getOrElse(Untraced)
      val t0 = System.nanoTime()
      val done: Either[String, Done] =
        try Right(op.run(spark, phases))
        catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}") }
      val ms = (System.nanoTime() - t0) / 1e6
      // checks and hashing run after the timed span
      val error = done.fold(Some(_), d => Tracer.checking(spark.sparkContext) {
        try d.verify() catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}") }
      })
      tracer.foreach(_.end(done.toOption, ms))
      OpRun(op.name, op.leg, ms, done.map(_.rows).getOrElse(0L), error)
    }
    val probe1 = Probe.counters()
    val layers = tracer.map(_.finishPass(ops, probe0, probe1)).getOrElse(Map.empty)
    Heap.collect()
    Pass(index, tracer.isDefined, ops, layers)
  }

  // ---- run mode -----------------------------------------------------------

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def run(c: Conf): Boolean = {
    val expected = if (c.workload == "fetch") Map.empty[String, Expected] else Check.read(Paths.get(c.expected))
    val w = Workload(c.workload, c, expected)
    val setup = setUp(c, w)
    val spark = setup.spark
    val tracer = if (c.trace) Some(new TraceRun(spark)) else None
    val passes = mutable.ArrayBuffer.empty[Pass]
    def warm = passes.tail
    def warmS = warm.map(_.wallS).sum
    // a traced run alternates untraced and traced warm passes to measure the
    // tracing overhead
    def addPass(): Unit = {
      val i = passes.size + 1
      passes += runPass(w, spark, i, c.seed, if (c.trace && i % 2 == 1) tracer else None)
    }
    // heap_peak_mb covers the cold pass and the fixed warm passes only: the
    // library's memos outlive the session of their pass, so the heap grows
    // with every pass, and a count of passes that depends on the host's
    // speed would move the figure
    Heap.armed = true
    (0 to WarmPasses).foreach(_ => addPass())
    Heap.armed = false
    while (warmS < c.seconds) addPass()
    val all = passes.flatMap(_.ops)
    val failed = all.filter(_.error.isDefined)
    val attempted = all.size
    val warmOps = warm.flatMap(_.ops)
    val lat = warmOps.map(_.ms).toSeq
    def legRate(legs: Set[String]): Double = {
      val ops = warmOps.filter(o => legs(o.leg))
      ops.map(_.rows).sum / (ops.map(_.ms).sum / 1e3)
    }
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", median(setup.secs), "s"),
      ("queries_per_s", warmOps.size / warmS, "1/s"),
      ("latency_geomean_ms", math.exp(lat.map(math.log).sum / lat.size), "ms"),
      ("rows_per_s", legRate(if (c.workload == "fetch") Set("chunked") else Set("query")), "rows/s"),
      ("heap_peak_mb", Heap.peakBytes / 1048576.0, "MB"))
    val extra: Seq[(String, Double, String)] =
      (if (c.workload == "fetch") Seq(
        ("partitioned_rows_per_s", legRate(Set("partitioned")), "rows/s"),
        ("source_rows_per_s", legRate(Set("source")), "rows/s"),
        ("write_rows_per_s", legRate(Set("sink")), "rows/s"))
      else Nil) ++ Seq(
        // one cold pass is one sample of a host whose speed drifts between
        // runs, so its spread across seeds exceeds any bound worth gating
        ("first_pass_s", passes.head.wallS, "s"),
        // a handful of operations with distinct costs: a percentile lands on
        // one operation's latency, and which one pays a shared memo build
        // depends on the seed's order, so they are printed but not gated
        ("latency_p50_ms", quantile(lat, 0.5), "ms"),
        ("latency_p90_ms", quantile(lat, 0.9), "ms"),
        ("fail_ratio", failed.size.toDouble / attempted, "1"),
        ("cold_setup_s", setup.secs.head, "s"),
        ("warm_passes", warm.size.toDouble, "count"),
        ("latency_samples", lat.size.toDouble, "count"))
    val say = (s: String) => println(s"[fullbench] ${c.workload} $s")
    val opsFile = Paths.get(c.work, s"ops-${c.workload}-seed${c.seed}.tsv")
    java.nio.file.Files.write(opsFile, passes.flatMap(p => p.ops.map(o =>
      s"${p.index}\t${p.traced}\t${o.name}\t${o.ms}\t${o.rows}\t${o.error.getOrElse("")}")).asJava)
    say(s"seed=${c.seed} cpus=${c.cpus} passes=${passes.size} setups=${setup.secs.size}")
    failed.groupBy(_.name).foreach { case (n, rs) => say(s"FAILED $n x${rs.size}: ${rs.head.error.get}") }
    if (!Probe.present) say("probecache: absent")
    val metrics: Seq[(String, Double, String)] =
      if (c.trace) {
        val tr = tracer.get
        val traced = warm.filter(_.traced)
        val untraced = warm.filterNot(_.traced)
        val keys = traced.head.layers.keys.toSeq
        val perPass = keys.map(k => k -> traced.map(_.layers(k)).sum / traced.size).toMap
        val cold = passes.head.layers
        val layer = TraceRun.layerUnits.map { case (k, unit) =>
          val v = k match {
            case "core.resolve_ms" => median(setup.resolveMs)
            case "codegen.compiles" | "codegen.compile_ms" => cold(k)
            case "trace.overhead_ms" =>
              (traced.map(_.wallS).sum / traced.size - untraced.map(_.wallS).sum / untraced.size) * 1e3
            case _ => perPass(k)
          }
          (k, v, unit)
        }
        val file = tr.write(c, passes.toSeq)
        say(s"trace file: $file")
        e2e.foreach { case (n, v, u) => say(s"traced $n = $v $u") }
        layer
      } else {
        extra.foreach { case (n, v, u) => say(s"$n = $v $u") }
        e2e
      }
    metrics.foreach { case (n, v, u) => say(s"$n = $v $u") }
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed.isEmpty}, "attempted": $attempted, "failed": ${failed.size}, "metrics": {$body}}""")
    System.out.flush()
    spark.stop()
    true
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  // ---- expected results -------------------------------------------------------

  def expect(c: Conf): Boolean = {
    val spark = quiet(session(c))
    val oracle = graft.SparkEntry.oracleSql.keySet
    val results = graft.SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      try {
        val df = graft.SparkEntry.queries(q)(spark, c.sfDir)
        val rows = df.collect()
        Some(q -> Check.of(df.schema, rows, oracle(q)))
      } catch { case e: Throwable =>
        System.err.println(s"[fullbench] $q failed: ${e.getMessage}"); None
      }
    }.toMap
    Check.write(Paths.get(c.expected), results)
    println(s"[fullbench] expected results of ${results.size}/${graft.SparkEntry.queries.size} queries " +
      s"(${results.values.count(_.hash.isDefined)} hashed) -> ${c.expected}")
    spark.stop()
    results.size == graft.SparkEntry.queries.size
  }

  /** Compares the expected hashes with the results `graft.Verify` dumped
    * (which `tools/verify_local.py` checks against DuckDB). */
  def crossCheck(c: Conf): Boolean = {
    val spark = quiet(session(c))
    val want = Check.read(Paths.get(c.expected))
    val bad = want.toSeq.sortBy(_._1).collect { case (q, e) if e.hash.isDefined =>
      val df = spark.read.parquet(s"${c.verifyOut}/$q")
      val rows = df.collect()
      val got = Check.contentHash(rows)
      if (got != e.hash.get || rows.length != e.rows) {
        println(s"[fullbench] crosscheck MISMATCH $q rows ${rows.length}/${e.rows}"); Some(q)
      } else None
    }.flatten
    println(s"[fullbench] crosscheck: ${want.values.count(_.hash.isDefined) - bad.size} match, ${bad.size} differ")
    spark.stop()
    bad.isEmpty
  }
}
