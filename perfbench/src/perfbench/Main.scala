package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Operation and output-check tally of one run: `attempted` counts
  * statements, tables and output checks; `failed` the ones that threw or
  * did not hold. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"perfbench: CHECK FAILED: $what") }
  }
  def attempt[T](what: => String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch { case NonFatal(e) =>
      failed += 1
      System.err.println(s"perfbench: FAILED $what: $e")
      None
    }
  }
}

/** One benchmark workload. `iterate` is the timed region; everything else
  * (generation, checks, clean-up) runs outside it. */
trait Workload {
  /** Write this seed's inputs (deterministic: same seed, same bytes). */
  def generate(): Unit
  /** Bytes of the generated inputs one iteration consumes. */
  def sourceBytes: Long
  /** One closed-loop iteration, from inputs to a result on disk. */
  def iterate(i: Int, t: Tracer, ops: Ops): Unit
  /** Output checks of iteration `i`. */
  def check(i: Int, ops: Ops): Unit
  /** Bytes on disk iteration `i` left ÷ its source or live-data bytes. */
  def storedRatio(i: Int): Double
  /** Delete iteration `i`'s outputs. */
  def clear(i: Int): Unit
  /** Warm-up iterations in set-up, the cold first one included. */
  def warmIterations: Int
  /** Workload-specific per-layer metrics, after the traced loop. */
  def layerMetrics(t: Tracer): Map[String, Double]
}

object Main {
  /** Generator runs in set-up; setup_s reports the session start, the
    * median generator run and the workload's fixed number of warm-up
    * iterations. */
  val SetupRounds = 3
  val MinIterations = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "throughput_mib_per_s" -> "MiB/s",
    "heap_peak_mib" -> "MiB", "stored_bytes_ratio" -> "ratio")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.discover_ms" -> "ms", "sources.ddl_parse_ms" -> "ms",
    "sources.parse_s" -> "s",
    "operators.align_s" -> "s", "operators.rowid_s" -> "s",
    "operators.kv_checksum_s" -> "s",
    "sinks.write_s" -> "s", "sinks.checkpoint_fs_ops_per_table" -> "count",
    "pipeline.jobs_per_table" -> "count", "pipeline.executor_busy_ratio" -> "ratio",
    "spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms",
    "spark.planning_ms" -> "ms", "spark.jobs_per_stmt" -> "count",
    "lake.commit_p50_ms" -> "ms", "lake.read_p50_ms" -> "ms",
    "lake.fs_create_per_commit" -> "count", "lake.fs_rename_per_commit" -> "count",
    "lake.fs_exists_per_commit" -> "count", "lake.fs_open_per_commit" -> "count",
    "lake.fs_list_per_commit" -> "count", "lake.fs_delete_per_commit" -> "count",
    "lake.manifest_bytes_per_commit" -> "bytes",
    "lake.rewrite_amplification" -> "ratio",
    "curation.filter_s" -> "s", "curation.exact_s" -> "s",
    "curation.minhash_pairs_s" -> "s", "curation.cc_s" -> "s",
    "curation.semdedup_s" -> "s", "curation.lsh_candidates_per_pair" -> "ratio",
    "spark.gc_s" -> "s", "spark.task_cpu_s" -> "s", "spark.shuffle_bytes" -> "bytes",
    "fs.bytes_read" -> "bytes", "fs.bytes_written" -> "bytes",
    "host.external_cores" -> "cores",
    "trace.overhead_ratio" -> "ratio", "trace.unattributed_s" -> "s")

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: File, cores: Int, recallFloor: Double,
      traceOut: Option[File])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Opts(req("--workload"), req("--seed").toLong, req("--seconds").toInt,
      req("--trace") == "1", new File(req("--work")).getAbsoluteFile,
      Runtime.getRuntime.availableProcessors,
      m.get("--recall-floor").map(_.toDouble).getOrElse(0.9),
      m.get("--trace-out").map(new File(_)))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Old-generation occupancy right after a full collection, in MiB. */
  private def oldGenAfterGcMib(): Double = {
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
    pools.map(p => Option(p.getCollectionUsage).getOrElse(p.getUsage).getUsed)
      .sum / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    if (o.trace) CountingLocalFs.install()
    o.work.mkdirs()
    val spark = Session.start(o)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = new Tracer(spark, o.trace)
    val dir = new File(o.work, "data")
    val w: Workload = o.workload match {
      case "ingest_bulk" => new IngestBulk(spark, dir, o.seed)
      case "lake_dml" => new LakeDml(spark, dir, o.seed)
      case "curate_dedup" => new CurateDedup(spark, dir, o.seed, o.recallFloor)
      case other => sys.error(s"unknown workload $other")
    }
    val ops = new Ops
    // set-up: the generator runs SetupRounds times (median kept), then
    // warm-up iterations let JIT, codegen and caches settle
    val gen = median((1 to SetupRounds).map(_ => secs(w.generate())))
    val stored, heapPeaks = ArrayBuffer[Double]()
    /** One iteration, then (untimed) its live heap, checks and clean-up.
      * Warm-up iterations (i < 0) run the same sequence, so the timed ones
      * meet no code path for the first time. */
    def iteration(i: Int, traced: Boolean): Double = {
      tracer.begin(traced, i)
      val t0 = System.nanoTime()
      try w.iterate(i, tracer, ops) catch { case NonFatal(e) =>
        ops.failed += 1; ops.attempted += 1
        System.err.println(s"perfbench: iteration $i failed: $e")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      tracer.end()
      // a full collection with the iteration's results still referenced,
      // then a second one after the clean-up, so every iteration starts
      // from the same heap
      val heap = oldGenAfterGcMib()
      w.check(i, ops)
      val st = ops.attempt(s"stored bytes of iteration $i")(w.storedRatio(i))
      w.clear(i)
      System.gc()
      if (i >= 0) { heapPeaks += heap; stored ++= st }
      wall
    }
    val warmWalls = (1 to w.warmIterations).map(k => iteration(-k, traced = false))
    val setupS = sessionS + gen + warmWalls.sum
    val host = HostCpu.begin()
    val plainWalls, tracedWalls = ArrayBuffer[Double]()
    var i = 0
    while (plainWalls.sum + tracedWalls.sum < o.seconds ||
        plainWalls.size + tracedWalls.size < MinIterations) {
      val traced = o.trace && i % 2 == 1
      (if (traced) tracedWalls else plainWalls) += iteration(i, traced)
      i += 1
    }
    val extCores = host.externalCores()
    val wallS = median(plainWalls.toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val values = Map(
          "setup_s" -> setupS,
          "wall_s" -> wallS,
          "throughput_mib_per_s" -> w.sourceBytes / 1048576.0 / wallS,
          "heap_peak_mib" -> median(heapPeaks.toSeq),
          "stored_bytes_ratio" -> median(stored.toSeq))
        EndToEnd.map { case (k, u) => (k, values(k), u) }
      } else {
        val tracedWall = median(tracedWalls.toSeq)
        val layer = w.layerMetrics(tracer)
        val values = tracer.sparkMetrics() ++ layer ++ Map(
          "host.external_cores" -> extCores,
          "trace.overhead_ratio" -> tracedWall / wallS,
          "trace.unattributed_s" ->
            layer.getOrElse("trace.unattributed_s", tracedWall - tracer.attributedS()))
        o.traceOut.foreach(tracer.writeSpans)
        PerLayer.map { case (k, u) => (k, values.getOrElse(k, 0.0), u) }
      }
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "-1.0" else java.lang.Double.toString(d)
    for ((k, v, u) <- metrics) println(s"perfbench: $k = ${num(v)} $u")
    println(s"perfbench: failed_ops_ratio = ${num(ops.failed.toDouble /
      math.max(1L, ops.attempted))} ratio (${ops.failed}/${ops.attempted})")
    println(f"perfbench: set-up = session $sessionS%.3f s + generator $gen%.3f s + warm-up " +
      s"${warmWalls.map(w => f"$w%.3f").mkString("+")} s")
    println(s"perfbench: iterations = ${plainWalls.size} untraced, " +
      s"${tracedWalls.size} traced; external_cores = ${num(extCores)}; " +
      s"walls = ${plainWalls.map(w => f"$w%.3f").mkString(" ")}")
    val json = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${ops.failed == 0}, "attempted": ${math.max(1L,
      ops.attempted)}, "failed": ${ops.failed}, "metrics": {$json}}""")
    System.out.flush()
    // the work directory is deleted by the caller; skip Spark's shutdown
    Runtime.getRuntime.halt(0)
  }
}

object Session {
  def start(o: Main.Opts): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.javaCharsets", "true")
      .config("spark.local.dir", new File(o.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      .config("spark.sql.catalog.perf", "graft.sources.GraftLakeCatalog")
      .config("spark.sql.catalog.perf.warehouse", new File(o.work, "lake").getPath)
    if (o.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** External CPU stamp from /proc/stat: cores busy with work other than
  * this process over the measured window (-1 when /proc is absent). */
final class HostCpu private (j0: Long, c0: Long, t0: Long) {
  def externalCores(): Double = {
    val j1 = HostCpu.jiffies
    if (j0 < 0 || j1 < 0) -1.0
    else {
      val wall = (System.nanoTime() - t0) / 1e9
      ((j1 - j0) / 100.0 - (HostCpu.procCpu - c0) / 1e9) / math.max(wall, 1e-9)
    }
  }
}

object HostCpu {
  def begin(): HostCpu = new HostCpu(jiffies, procCpu, System.nanoTime())
  private def procCpu: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  /** Busy jiffies over all cores (everything but idle and iowait). */
  private def jiffies: Long =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Path.of("/proc/stat"))
        .get(0).trim.split("\\s+").drop(1).map(_.toLong)
      f.sum - f(3) - (if (f.length > 4) f(4) else 0L)
    } catch { case NonFatal(_) => -1L }
}
