package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Spans (name, start, end, parent) are kept in
  * memory around the benchmark's calls into each layer and written out at
  * exit; counters come from a SparkListener, a QueryExecutionListener, the
  * Hadoop global storage statistics, GC beans and [[CountingLocalFs]].
  * Everything is a no-op unless the run is traced and the current
  * iteration is a traced one. */
final class Tracer(spark: SparkSession, tracedRun: Boolean) {
  import Tracer._

  private var on = false
  private var iter = 0
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private val windows = ArrayBuffer[Window]()
  private var open: Window = _

  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val stmts = new ConcurrentLinkedQueue[StmtRec]()

  if (tracedRun) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        val shuffle = if (m == null) 0L else
          m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
        tasks.add(TaskRec(e.taskInfo.launchTime, e.taskInfo.finishTime,
          if (m == null) 0L else m.executorCpuTime, shuffle))
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = rec(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
      private def rec(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
        val start = if (ph.isEmpty) System.currentTimeMillis()
          else ph.values.map(_.startTimeMs).min
        stmts.add(StmtRec(start, ms("analysis"), ms("optimization"), ms("planning")))
      }
    })
  }

  def isOn: Boolean = on

  def begin(traced: Boolean, i: Int): Unit = {
    on = traced; iter = i
    if (on) open = Window(System.currentTimeMillis(), 0L, System.nanoTime(), 0L,
      gcMs, fsBytes, CountingLocalFs.snapshot())
  }

  def end(): Unit = if (on) {
    windows += open.copy(endMs = System.currentTimeMillis(),
      endNs = System.nanoTime(), gcMs = gcMs - open.gcMs,
      fsBytes = fsBytes.zip(open.fsBytes).map { case (a, b) => a - b },
      fs = CountingLocalFs.delta(open.fs))
    on = false
  }

  def tracedIterations: Int = windows.size

  /** Median wall time of the traced iterations, s. */
  def medianTracedWallS(): Double =
    Main.median(windows.map(w => (w.endNs - w.startNs) / 1e9).toSeq)

  /** Run `body` inside a span named `name` (a no-op when tracing is off). */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      spans += Span(id, name, stack.headOption.getOrElse(-1), iter, System.nanoTime(), 0L)
      stack = id :: stack
      try body finally {
        spans(id) = spans(id).copy(end = System.nanoTime())
        stack = stack.tail
      }
    }

  /** Record a span measured elsewhere (the stage decomposition passes). */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    spans += Span(spans.size, name, -1, iter, startNs, endNs)

  private def selfNs(s: Span): Long =
    (s.end - s.start) - spans.iterator.filter(_.parent == s.id)
      .map(c => c.end - c.start).sum

  /** Mean self time per traced iteration of the spans named `name`, s. */
  def selfS(name: String): Double =
    spans.iterator.filter(_.name == name).map(selfNs).sum / 1e9 /
      math.max(1, tracedIterations)

  /** Mean per traced iteration of the time covered by top-level spans, s. */
  def attributedS(): Double =
    spans.iterator.filter(s => s.parent < 0 && s.iter >= 0 &&
      windows.exists(w => s.start >= w.startNs && s.end <= w.endNs))
      .map(s => s.end - s.start).sum / 1e9 / math.max(1, tracedIterations)

  /** Jobs started inside traced windows, per traced iteration. */
  def jobsPerIteration(): Double = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    jobs.asScala.count(t => inWindow(t)).toDouble / math.max(1, tracedIterations)
  }

  /** Counting-FS deltas summed over the traced windows, per traced iteration. */
  def fsOpsPerIteration(kind: String): Double =
    windows.map(_.fs.getOrElse(kind, 0L)).sum.toDouble / math.max(1, tracedIterations)

  private def inWindow(ms: Long): Boolean =
    windows.exists(w => ms >= w.startMs && ms <= w.endMs)

  /** Layer metrics every workload has: Spark planning phases per
    * statement, jobs, task time, GC, shuffle and filesystem bytes. */
  def sparkMetrics(): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val n = math.max(1, tracedIterations).toDouble
    val st = stmts.asScala.filter(s => inWindow(s.startMs)).toSeq
    val ts = tasks.asScala.filter(t => inWindow(t.launchMs)).toSeq
    val nj = jobs.asScala.count(t => inWindow(t))
    def perStmt(f: StmtRec => Double) =
      if (st.isEmpty) 0.0 else st.map(f).sum / st.size
    val busy = windows.map { w =>
      val iv = ts.filter(t => t.launchMs >= w.startMs && t.launchMs <= w.endMs)
        .map(t => (t.launchMs, math.min(t.finishMs, w.endMs))).sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      covered.toDouble / math.max(1L, w.endMs - w.startMs)
    }
    Map(
      "spark.analysis_ms" -> perStmt(_.analysisMs),
      "spark.optimization_ms" -> perStmt(_.optimizationMs),
      "spark.planning_ms" -> perStmt(_.planningMs),
      "spark.jobs_per_stmt" -> (if (st.isEmpty) 0.0 else nj.toDouble / st.size),
      "pipeline.executor_busy_ratio" -> (if (busy.isEmpty) 0.0 else busy.sum / busy.size),
      "spark.gc_s" -> windows.map(_.gcMs).sum / 1e3 / n,
      "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9 / n,
      "spark.shuffle_bytes" -> ts.map(_.shuffleBytes).sum / n,
      "fs.bytes_read" -> windows.map(_.fsBytes(0)).sum / n,
      "fs.bytes_written" -> windows.map(_.fsBytes(1)).sum / n)
  }

  /** Spans as JSON lines: name, start/end (ns), parent id, iteration. */
  def writeSpans(f: File): Unit = {
    f.getParentFile.mkdirs()
    val body = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""iter":${s.iter},"start_ns":${s.start},"end_ns":${s.end}}"""
    }.mkString("", "\n", "\n")
    java.nio.file.Files.writeString(f.toPath, body)
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, iter: Int,
      start: Long, end: Long)
  final case class TaskRec(launchMs: Long, finishMs: Long, cpuNs: Long,
      shuffleBytes: Long)
  final case class StmtRec(startMs: Long, analysisMs: Double,
      optimizationMs: Double, planningMs: Double)
  final case class Window(startMs: Long, endMs: Long, startNs: Long,
      endNs: Long, gcMs: Long, fsBytes: Seq[Long], fs: Map[String, Long])

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  /** (bytes read, bytes written) through Hadoop's local filesystem. */
  private def fsBytes: Seq[Long] = {
    val st = FileSystem.getGlobalStorageStatistics.get("file")
    def get(k: String): Long =
      if (st == null) 0L else Option(st.getLong(k)).map(_.longValue).getOrElse(0L)
    Seq(get("bytesRead"), get("bytesWritten"))
  }
}

/** Local filesystem that counts metadata and open/create calls by kind,
  * plus the same counts for paths under an import's `_state` checkpoint
  * directory. Installed only in traced runs; same `file` scheme, so every
  * code path (including the local fast paths keyed on the scheme) is the
  * one an untraced run takes. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs.hit
  private val inExists = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }
  override def create(f: Path, p: FsPermission, overwrite: Boolean, buf: Int,
      repl: Short, block: Long, prog: Progressable): FSDataOutputStream = {
    hit("create", f); super.create(f, p, overwrite, buf, repl, block, prog)
  }
  override def createNonRecursive(f: Path, p: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], buf: Int,
      repl: Short, block: Long, prog: Progressable): FSDataOutputStream = {
    hit("create", f); super.createNonRecursive(f, p, flags, buf, repl, block, prog)
  }
  override def open(f: Path, buf: Int): FSDataInputStream = {
    hit("open", f); super.open(f, buf)
  }
  override def rename(s: Path, d: Path): Boolean = { hit("rename", s); super.rename(s, d) }
  override def delete(f: Path, r: Boolean): Boolean = { hit("delete", f); super.delete(f, r) }
  override def listStatus(f: Path): Array[FileStatus] = {
    hit("list", f); super.listStatus(f)
  }
  override def exists(f: Path): Boolean = {
    hit("exists", f)
    inExists.set(true)
    try super.exists(f) finally inExists.set(false)
  }
  override def getFileStatus(f: Path): FileStatus = {
    if (!inExists.get) hit("exists", f)
    super.getFileStatus(f)
  }
}

object CountingLocalFs {
  val Kinds: Seq[String] = Seq("create", "rename", "exists", "open", "list", "delete")
  private val counters: Map[String, AtomicLong] =
    (Kinds ++ Seq("checkpoint")).map(_ -> new AtomicLong).toMap

  private def hit(kind: String, p: Path): Unit = {
    counters(kind).incrementAndGet()
    if (p != null && p.toUri.getPath.contains("/_state")) counters("checkpoint").incrementAndGet()
  }

  def snapshot(): Map[String, Long] = counters.map { case (k, v) => k -> v.get }
  def delta(from: Map[String, Long]): Map[String, Long] =
    snapshot().map { case (k, v) => k -> (v - from.getOrElse(k, 0L)) }

  /** Seed Hadoop's FileSystem cache so every `file:` lookup, whatever
    * Configuration it passes, gets the counting instance. */
  def install(): Unit = {
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    FileSystem.get(java.net.URI.create("file:///"), conf)
  }
}
