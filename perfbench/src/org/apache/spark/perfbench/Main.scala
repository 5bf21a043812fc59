package org.apache.spark.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession

/** Benchmark harness: sets a workload up several times, runs timed passes
  * over it for the requested seconds, checks every pass's outputs, and
  * prints one JSON line of metrics.
  *
  * Started by perfbench/run.py, which validates the arguments and passes
  * them as `--workload <w> --seed <n> --seconds <s> --trace <0|1>
  * --cores <n> --perturb <0|1> --work <dir> [--record <file>]`.
  *
  * With `--trace 0` every pass runs untraced and the end-to-end metrics are
  * reported. With `--trace 1` untraced and traced passes alternate; the
  * traced ones give the per-layer metrics and the two together give the
  * tracing overhead. `--perturb` corrupts one output before it is checked
  * (the run must then fail); `--record` writes the registry hashes of the
  * benchmark corpus instead of measuring.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, perturb: Boolean, work: File, record: Option[File])

  /** Reads the `--key value` pairs run.py has already validated. */
  def parse(argv: Seq[String]): Args = {
    val m = argv.grouped(2).collect { case Seq(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m.get("seed").fold(0L)(_.toLong), m("seconds").toInt, m("trace") == "1",
      m("cores").toInt, m("perturb") == "1", new File(m("work")).getAbsoluteFile,
      m.get("record").map(new File(_).getAbsoluteFile))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val code =
      try run(a)
      catch { case e: Throwable =>
        System.err.println(s"perfbench: run failed: $e"); e.printStackTrace(); 3 }
    sys.exit(code)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.default.parallelism", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.work, "tmp/spark").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "spark-warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Result of one timed pass: `failed` of its `attempted` checks failed,
    * as `failures` describe.
    */
  final case class Pass(wall: Double, cpu: Double, items: Long, opSeconds: Seq[Double],
      attempted: Int, failed: Int, failures: Seq[String], traced: Option[Tracer])

  trait Workload {
    /** What one entry of `Pass.opSeconds` times. */
    def opName: String
    def describe: String
    /** Generate inputs, reset program state, warm up; returns what went
      * wrong. Runs on a fresh session.
      */
    def setup(spark: SparkSession, rep: Int): Seq[String]
    /** One timed pass; `tracer` wraps every call into the program. */
    def pass(spark: SparkSession, tracer: Tracer): Pass
    /** Per-layer metrics of one traced pass (after `tracer.drain()`). */
    def layers(t: Tracer, p: Pass, cores: Int): Map[String, Double] =
      Layers.common(t, p, cores)
  }

  val setupReps = 3
  /** Timed passes a `--trace 0` run makes at the least. */
  val minPasses = 3

  def run(a: Args): Int = {
    val w: Workload = a.workload match {
      case "radio_survey" => new RadioSurvey(a)
      case _ => new RegistrySweep(a)
    }
    if (a.record.isDefined) return w match {
      case r: RegistrySweep => r.record(session(a), a.record.get)
      case _ => System.err.println("perfbench: --record applies to registry_sweep"); 2
    }

    // Set-up, several times, each on a new session; the last one is kept.
    val (setupTimes, setupFailures) = (0 until setupReps).map { rep =>
      SparkSession.getActiveSession.foreach(_.stop())
      val t0 = System.nanoTime()
      val failures = w.setup(session(a), rep)
      ((System.nanoTime() - t0) / 1e9, failures)
    }.unzip
    val spark = SparkSession.active

    val passes = mutable.ArrayBuffer.empty[Pass]
    System.gc()
    HeapWatch.reset()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    // At least three untraced passes for a median. Traced runs make one
    // untraced pass, then alternate traced and untraced ones; the overhead
    // compares the two kinds after that first pass.
    val lead = if (a.trace) 1 else 0
    val least = if (a.trace) lead + 4 else minPasses
    // Past the minimum, stop early rather than run out the 180 s a run has.
    def timeLeft = ManagementFactory.getRuntimeMXBean.getUptime < 120000
    while (passes.length < least ||
        (System.nanoTime() < deadline && timeLeft)) {
      val traced = a.trace && passes.length >= lead && (passes.length - lead) % 2 == 0
      val tracer = new Tracer(spark.sparkContext, traced)
      passes += w.pass(spark, tracer).copy(traced = Some(tracer).filter(_.enabled))
      tracer.drain()
      tracer.close()
    }
    val heapPeakMb = HeapWatch.peakBytes / 1048576.0

    val attempted = passes.map(_.attempted).sum + setupReps
    val failed = passes.map(_.failed).sum + setupFailures.count(_.nonEmpty)
    val failures = setupFailures.flatten ++ passes.flatMap(_.failures)
    failures.distinct.foreach(f => println(s"perfbench: FAILED $f"))

    val untraced = passes.drop(lead).filter(_.traced.isEmpty)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) endToEnd(w, untraced.toSeq, setupTimes, heapPeakMb)
      else {
        val traced = passes.filter(_.traced.isDefined)
        val per = traced.map(p => w.layers(p.traced.get, p, a.cores))
        val counts = per.map(m => Seq("spark.jobs", "spark.stages", "spark.tasks")
          .map(k => m(k).toLong).mkString("/"))
        println(s"perfbench: jobs/stages/tasks per traced pass: ${counts.mkString(" ")} " +
          (if (counts.distinct.size == 1) "(repeat exactly)" else "(DIFFER between passes)"))
        val names = per.head.keys.toSeq.sorted
        names.map(n => (n, median(per.map(_(n)).toSeq), Layers.unit(n))) :+
          (("trace.overhead_frac",
            median(traced.map(_.wall).toSeq) / median(untraced.map(_.wall).toSeq) - 1, "ratio"))
      }
    if (a.trace) writeTrace(a, passes.filter(_.traced.isDefined).toSeq)
    println(s"perfbench: workload=${a.workload} seed=${a.seed} cores=${a.cores} " +
      s"passes=${passes.length} ${w.describe}")
    metrics.foreach { case (n, v, u) => println(f"perfbench: $n%-28s $v%.6f $u") }
    val correct = failed == 0
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${jsonNum(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$json}}""")
    if (correct) 0 else 1
  }

  def endToEnd(w: Workload, ps: Seq[Pass], setupTimes: Seq[Double],
      heapPeakMb: Double): Seq[(String, Double, String)] = {
    val ops = ps.flatMap(_.opSeconds).sorted
    // The tail is the highest whole percentile with at least ten samples
    // above it in the fewest ops a run makes, so that it is the same
    // statistic however many passes fit in the run.
    val leastOps = minPasses * ps.map(_.opSeconds.length).min
    val tailQ = math.floor(100 * (1 - 10.0 / leastOps)) / 100
    println(s"perfbench: pass wall seconds ${ps.map(p => f"${p.wall}%.3f").mkString(" ")}")
    println(f"perfbench: op_tail_s is p${tailQ * 100}%.0f over ${ops.length} ${w.opName}" +
      f" latencies (at least $leastOps); failed_frac ${ps.map(_.failed).sum.toDouble / ps.map(_.attempted).sum}%.4f")
    Seq(
      ("setup_s", median(setupTimes), "s"),
      ("wall_s", median(ps.map(_.wall)), "s"),
      ("items_per_s", median(ps.map(p => p.items / p.wall)), "1/s"),
      ("op_p50_s", quantile(ops, 0.5), "s"),
      ("op_tail_s", quantile(ops, tailQ), "s"),
      ("cpu_s", median(ps.map(_.cpu)), "s"),
      ("heap_peak_mb", heapPeakMb, "MB"))
  }

  /** Share of a traced pass's wall time no layer span covers (the self time
    * of the spans that only group others) above which the run warns.
    */
  val uncoveredLimit = 0.05

  /** Write every traced span to `<work>/trace/<workload>-seed<n>.json` and
    * report how much of each traced pass the layer spans cover.
    */
  def writeTrace(a: Args, passes: Seq[Pass]): Unit = {
    val tracers = passes.flatMap(_.traced)
    val dir = new File(a.work, "trace")
    dir.mkdirs()
    val out = new File(dir, s"${a.workload}-seed${a.seed}.json")
    val w = new java.io.PrintWriter(out, "UTF-8")
    try {
      w.println("[")
      w.println(tracers.zipWithIndex.flatMap { case (t, pass) => t.all.map { s =>
        val c = s.counters
        s"""{"pass": $pass, "id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
          s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "self_s": ${t.selfOf(s)}, """ +
          s""""jobs": ${c.jobs}, "stages": ${c.stages}, "tasks": ${c.tasks}, """ +
          s""""task_run_ms": ${c.taskRunMs}, "input_records": ${c.inputRecords}, """ +
          s""""shuffle_write_bytes": ${c.shuffleWriteBytes}, """ +
          s""""self_compiles": ${t.selfCount(s, _.codegenCompiles)}}"""
      } }.mkString(",\n"))
      w.println("]")
    } finally w.close()
    val uncovered = passes.map { p =>
      val t = p.traced.get
      t.tree("pass").filter(s => Layers.grouping(s.name)).map(t.selfOf).sum / p.wall
    }
    val worst = uncovered.max
    println(f"perfbench: trace written to $out; time no layer span covers: " +
      f"${uncovered.map(u => f"${u * 100}%.2f%%").mkString(" ")} of each traced pass wall" +
      (if (worst > uncoveredLimit) f" (WARNING: above ${uncoveredLimit * 100}%.0f%%)" else ""))
  }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double = {
    if (sorted.isEmpty) return Double.NaN
    val pos = q * (sorted.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, sorted.length - 1)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).bigDecimal.toPlainString

  /** Process CPU seconds so far (all threads of this JVM). */
  def cpuSeconds: Double = Try(ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9)
    .getOrElse(0.0)

  /** Delete a directory tree (program state from an earlier run). */
  def wipe(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(wipe)
    f.delete()
  }
}

/** The largest heap in use right after a garbage collection: the peak
  * live set, which unlike raw heap use does not depend on when the
  * collector happened to run.
  */
object HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._

  @volatile private var peak = 0L
  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
      synchronized { peak = math.max(peak, used) }
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def reset(): Unit = synchronized { peak = 0L }
  def peakBytes: Long = synchronized(peak)
}

/** Per-layer metrics from the spans of one traced pass; a layer the
  * workload never calls reads 0.
  */
object Layers {
  def unit(name: String): String = name match {
    case n if n.endsWith("_mb_s") => "MB/s"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("_kb") => "KB"
    case n if n.endsWith("_frac") || n.endsWith("amplification") => "ratio"
    case _ => "count"
  }

  /** Spans that only group layer spans; their self time is uncovered. */
  val grouping = Set("pass", "query")

  def common(t: Tracer, p: Main.Pass, cores: Int): Map[String, Double] = {
    // Only the pass counts, not a traced-only span beside it.
    val spans = t.tree("pass")
    val pass = spans.head
    // Listener counters go to the innermost span only, so they add up.
    val total = new Counters
    spans.foreach(s => total.add(s.counters))
    def secs(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    val build = spans.filter(_.name == "queries.build")
    val mb = 1048576.0
    Map(
      "spark.jobs" -> total.jobs.toDouble,
      "spark.stages" -> total.stages.toDouble,
      "spark.tasks" -> total.tasks.toDouble,
      "spark.tasks_failed" -> total.tasksFailed.toDouble,
      "exec.exec_s" -> total.busySeconds,
      "exec.task_run_s" -> total.taskRunMs / 1e3,
      "exec.task_cpu_s" -> total.taskCpuNs / 1e9,
      "exec.task_gc_s" -> total.taskGcMs / 1e3,
      "exec.shuffle_write_mb" -> total.shuffleWriteBytes / mb,
      "exec.shuffle_read_mb" -> total.shuffleReadBytes / mb,
      "exec.spill_mb" -> total.spillBytes / mb,
      "exec.input_records" -> total.inputRecords.toDouble,
      "exec.slot_busy_frac" -> total.taskRunMs / 1e3 / (p.wall * cores),
      // JVM-wide deltas include child spans: the root's is the pass's total.
      "codegen.compiles" -> pass.codegenCompiles.toDouble,
      "codegen.compile_ms" -> pass.codegenMs.toDouble,
      "codegen.source_kb" -> pass.codegenSourceBytes / 1024.0,
      "catalyst.plan_s" -> secs("catalyst.plan"),
      "queries.build_s" -> build.map(_.seconds).sum,
      "queries.build_jobs" -> build.map(_.counters.jobs).sum.toDouble,
      "queries.checkpoint_mb" -> build.map(_.checkpointBytes).sum / mb,
      "sdfits.read_s" -> 0.0,
      "sdfits.read_mb_s" -> 0.0,
      "sdfits.read_amplification" -> 0.0,
      "sdfits.write_s" -> secs("sdfits.write"),
      "sdfits.write_mb" -> 0.0,
      "pipeline.validate_s" -> secs("pipeline.validate"),
      "pipeline.continuum_build_s" -> secs("pipeline.continuum_build"),
      "pipeline.continuum_exec_s" -> secs("pipeline.continuum_exec"),
      "pipeline.spectrum_build_s" -> secs("pipeline.spectrum_build"),
      "pipeline.spectrum_exec_s" -> secs("pipeline.spectrum_exec"))
  }
}
