package org.apache.spark.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import com.codahale.metrics.{Histogram, Reservoir, Snapshot}
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** Counters for one span, filled from listener events. */
final class Counters {
  var jobs, stages, tasks, tasksFailed = 0L
  var taskRunMs, taskCpuNs, taskGcMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var inputRecords = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, end ms)

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; tasksFailed += o.tasksFailed
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; taskGcMs += o.taskGcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; inputRecords += o.inputRecords
    jobIntervals ++= o.jobIntervals
  }

  /** Wall seconds during which at least one job ran (union of intervals). */
  def busySeconds: Double = {
    var total = 0L
    var end = Long.MinValue
    jobIntervals.filter(_._2 >= 0).sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total / 1e3
  }
}

/** One timed region: name, parent, start/end, and the counters of the
  * Spark jobs submitted while it was the innermost open span. The codegen,
  * checkpoint and file-read fields are JVM-wide deltas from start to end,
  * so they include the span's children (see `Tracer.selfCount`).
  */
final class Span(val id: Int, val name: String, val parent: Int, val startNs: Long,
    val startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  var counters = new Counters
  var codegenCompiles, codegenMs, codegenSourceBytes = 0L
  var checkpointBytes = 0L
  var fsBytesRead = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Sums every value a wrapped reservoir sees; Spark's codegen histograms
  * keep only a decaying sample, and the benchmark needs exact totals.
  */
final class SummingReservoir(inner: Reservoir) extends Reservoir {
  val total = new LongAdder
  override def size(): Int = inner.size()
  override def update(value: Long): Unit = { total.add(value); inner.update(value) }
  override def getSnapshot: Snapshot = inner.getSnapshot
}

object Codegen {
  private def summing(h: Histogram): SummingReservoir = {
    val f = classOf[Histogram].getDeclaredField("reservoir")
    f.setAccessible(true)
    f.get(h) match {
      case s: SummingReservoir => s
      case r: Reservoir =>
        val s = new SummingReservoir(r)
        f.set(h, s)
        s
    }
  }
  private lazy val compileMs = summing(CodegenMetrics.METRIC_COMPILATION_TIME)
  private lazy val sourceBytes = summing(CodegenMetrics.METRIC_SOURCE_CODE_SIZE)

  def install(): Unit = { compileMs; sourceBytes }

  /** (compiles, compile ms as Spark records them — whole ms per compile —
    * generated source bytes), cumulative for this JVM.
    */
  def totals: (Long, Long, Long) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    compileMs.total.sum(), sourceBytes.total.sum())

  /** Drop every compiled class from Spark's codegen cache, so the next
    * plans compile again the way they do in a fresh batch JVM.
    */
  def clearCache(): Unit = {
    val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val m = gen.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    m.invoke(gen).asInstanceOf[org.apache.spark.util.NonFateSharingCache[_, _]].invalidateAll()
  }
}

/** Records spans around calls into the program's modules and attributes
  * every job, stage and task to the span that submitted it, through a
  * job-local property. When disabled, `span` only runs its body.
  */
object Tracer {
  /** Bytes read through Hadoop's local file system by every thread of this
    * JVM so far: the SDFITS connector's and parquet's file reads (shuffle
    * and block-manager files are read without it).
    */
  def fsBytesRead: Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }
}

final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val key = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val listener = new CountingListener
  if (enabled) { sc.addSparkListener(listener); Codegen.install() }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val s = new Span(spans.length, name, open.headOption.fold(-1)(_.id),
      System.nanoTime(), System.currentTimeMillis())
    spans.synchronized(spans += s)
    val before = Codegen.totals
    val fsBefore = Tracer.fsBytesRead
    val ckptBefore = if (name == "queries.build") storedBytes else 0L
    open = s :: open
    sc.setLocalProperty(key, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      val after = Codegen.totals
      s.codegenCompiles = after._1 - before._1
      s.codegenMs = after._2 - before._2
      s.codegenSourceBytes = after._3 - before._3
      s.fsBytesRead = Tracer.fsBytesRead - fsBefore
      if (name == "queries.build") s.checkpointBytes = storedBytes - ckptBefore
      open = open.tail
      sc.setLocalProperty(key, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Bytes held by persisted and checkpointed RDD blocks right now. */
  private def storedBytes: Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Wait until the listener has seen every event posted so far, then copy
    * the counters into the spans. Only after this are the counts exact.
    */
  def drain(): Unit = if (enabled) {
    sc.listenerBus.waitUntilEmpty()
    spans.foreach(s => s.counters = listener.bySpan.getOrDefault(s.id, new Counters))
  }

  def all: Seq[Span] = spans.toSeq

  /** The root span named `name` and every span inside it. */
  def tree(name: String): Seq[Span] = {
    val ids = mutable.Set.empty[Int]
    // A parent is always recorded before its children.
    spans.foreach(s => if ((s.parent < 0 && s.name == name) || ids(s.parent)) ids += s.id)
    spans.filter(s => ids(s.id)).toSeq
  }

  /** A span's time minus the time its child spans cover. */
  def selfOf(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** A span's value of a JVM-wide counter (its delta from start to end),
    * less its child spans' values: what happened in it and in none of them.
    */
  def selfCount(s: Span, f: Span => Long): Long =
    f(s) - spans.filter(_.parent == s.id).map(f).sum

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)

  private final class CountingListener extends SparkListener {
    val bySpan = new ConcurrentHashMap[Int, Counters]()
    private val jobSpan = mutable.HashMap.empty[Int, Int]
    private val stageSpan = mutable.HashMap.empty[Int, Int]
    private val jobStartMs = mutable.HashMap.empty[Int, Long]

    private def of(span: Int): Counters = bySpan.computeIfAbsent(span, _ => new Counters)

    /** Jobs submitted from threads that did not inherit the span property
      * go to the innermost span open at the job's start time.
      */
    private def spanAt(ms: Long): Int = {
      val live = spans.synchronized(spans.toList)
        .filter(s => s.startMs <= ms && (s.endMs == 0 || s.endMs >= ms))
      live.lastOption.fold(-1)(_.id)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(key)))
        .map(_.toInt).getOrElse(spanAt(e.time))
      jobSpan(e.jobId) = span
      jobStartMs(e.jobId) = e.time
      e.stageIds.foreach(stageSpan(_) = span)
      of(span).jobs += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpan.remove(e.jobId).foreach { span =>
        of(span).jobIntervals += ((jobStartMs.remove(e.jobId).getOrElse(e.time), e.time))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageSpan.get(e.stageInfo.stageId).foreach(of(_).stages += 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageSpan.get(e.stageId).foreach { span =>
        val c = of(span)
        c.tasks += 1
        if (e.reason != Success) c.tasksFailed += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.taskGcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.diskBytesSpilled
          c.inputRecords += m.inputMetrics.recordsRead
        }
      }
  }
}
