package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{KvEncode, RowIdAllocator, SchemaAlign}
import graft.pipeline.{ImportConfig, ImportPipeline, TableReport}
import graft.sinks.ParquetSink
import graft.sources.{FileKind, MydumpDiscovery, MysqlDdl, MysqlTable, SourceFile, SqlDumpSource}

/** One lineitem table as multi-row INSERT shards, imported by one
  * `ImportPipeline.run` with the default `ImportConfig` (checkpoints on)
  * per iteration, each into a fresh output directory: the import's data
  * pass (parse, cast, row-id, checksum, write) and the driver-side work
  * around it. Checks re-scan the written parquet. */
final class IngestBulk(spark: SparkSession, dir: File, seed: Long) extends Workload {
  val Rows = 240000
  val Files = 16
  private val dump = new File(dir, "dump")
  private def out(i: Int) = new File(dir, s"out_$i")
  /** Generated row count per (db, table). */
  private var expectedRows: Map[(String, String), Long] = Map.empty
  private var reports = Map.empty[Int, Seq[TableReport]]

  def generate(): Unit =
    expectedRows = Map(("bench", "lineitem") -> Gen.lineitemDump(dump, seed, Rows, Files))

  lazy val sourceBytes: Long = dump.listFiles().map(_.length()).sum

  def iterate(i: Int, t: Tracer, ops: Ops): Unit = {
    val cfg = ImportConfig(sourceDir = dump.getPath, outDir = out(i).getPath)
    val rep = t.span("pipeline.run") { new ImportPipeline(spark, cfg).run() }
    rep.foreach(r => ops.check(r.error.isEmpty, s"import of ${r.db}.${r.table}: ${r.error}"))
    reports += i -> rep
  }

  private def schemaOf(db: String, table: String): MysqlTable =
    MysqlDdl.parseCreateTable(java.nio.file.Files.readString(
      new File(dump, s"$db.$table-schema.sql").toPath))

  /** Every report's rows equal the generated count, and its checksum
    * triple equals a re-scan of the written parquet (one grouped
    * `KvEncode` aggregate per table shape). */
  def check(i: Int, ops: Ops): Unit = {
    val rep = reports.getOrElse(i, Nil)
    ops.check(rep.map(r => (r.db, r.table)).toSet == expectedRows.keySet,
      s"iteration $i imported ${rep.size} of ${expectedRows.size} tables")
    val sink = new ParquetSink(out(i).getPath)
    rep.groupBy(r => schemaOf(r.db, r.table).copy(name = "")).foreach { case (schema, rs) =>
      ops.attempt(s"checksum re-scan of ${rs.size} tables") {
        val tid = typedLit(rs.map(r => r.table -> ImportPipeline.tableId(r.db, r.table)).toMap)
        val df = spark.read.parquet(rs.map(r => sink.tablePath(r.db, r.table)): _*)
          .withColumn("_tbl", regexp_extract(input_file_name(), "/([^/]+)/[^/]+$", 1))
        val got = KvEncode.groupedChecksum(df, schema, tid(col("_tbl")), "_row_id", col("_tbl"))
          .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4)))).toMap
        rs.foreach { r =>
          ops.check(r.rows == expectedRows.getOrElse((r.db, r.table), -1L),
            s"${r.table}: report rows ${r.rows} vs generated")
          ops.check(got.get(r.table).contains((r.rows, r.dataChecksum, r.dataBytes, r.dataKvs)),
            s"${r.table}: report ${(r.rows, r.dataChecksum, r.dataBytes, r.dataKvs)} " +
              s"vs re-scan ${got.get(r.table)}")
        }
      }
    }
  }

  def storedRatio(i: Int): Double = {
    val sink = new ParquetSink(out(i).getPath)
    reports(i).map(r => Gen.dirBytes(new File(sink.tablePath(r.db, r.table)))).sum.toDouble /
      sourceBytes
  }

  def clear(i: Int): Unit = { Gen.deleteRec(out(i)); reports -= i }

  /** JIT keeps speeding the import up for several iterations. */
  val warmIterations = 4

  def layerMetrics(t: Tracer): Map[String, Double] = {
    val tables = expectedRows.size.toDouble
    val stages = Stages.decompose(spark, t, dump, new File(dir, "stages"))
    val attributed = Seq("sources.discover_ms", "sources.ddl_parse_ms").map(stages(_) / 1e3).sum +
      Seq("sources.parse_s", "operators.align_s", "operators.rowid_s",
        "operators.kv_checksum_s", "sinks.write_s").map(stages(_)).sum
    stages ++ Map(
      "pipeline.jobs_per_table" -> t.jobsPerIteration() / tables,
      "sinks.checkpoint_fs_ops_per_table" -> t.fsOpsPerIteration("checkpoint") / tables,
      "trace.unattributed_s" -> (t.medianTracedWallS() - attributed))
  }
}

/** The traced run's stage split of an import. Each layer's entry point is
  * run as its own pass over one iteration's inputs, built the way
  * `ImportPipeline`'s default path (chunk checkpoints, parquet sink) builds
  * each commit group: parse → align → row-id → KV checksum columns with
  * `df.observe` → staged chunk write. A layer's self time is its pass minus
  * the pass it extends; the passes before the write evaluate every column
  * through the `noop` sink, so no projection is pruned away. The write pass
  * is the pipeline's fused write, so the five self times add up to it. */
object Stages {
  val MeasuredRounds = 2

  private def timeS(t: Tracer, name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; val t1 = System.nanoTime()
    t.record(name, t0, t1); (t1 - t0) / 1e9
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def decompose(spark: SparkSession, t: Tracer, dump: File, scratch: File): Map[String, Double] = {
    val cfg = ImportConfig(sourceDir = dump.getPath, outDir = scratch.getPath)
    var plan: Seq[graft.sources.TablePlan] = Nil
    val discover = Main.median((1 to 3).map(_ => timeS(t, "sources.discover") {
      plan = MydumpDiscovery.plan(dump.getPath).tables
    }))
    var schemas = Map.empty[(String, String), MysqlTable]
    val ddl = Main.median((1 to 3).map(_ => timeS(t, "sources.ddl_parse") {
      schemas = plan.map(p => (p.db, p.table) -> MysqlDdl.parseCreateTable(
        java.nio.file.Files.readString(new File(p.schemaFile.get).toPath))).toMap
    }))
    val sink = new ParquetSink(scratch.getPath)
    var parse, align, rowid, checksum, write = 0.0
    for (p <- plan) {
      val table = schemas((p.db, p.table))
      val tid = ImportPipeline.tableId(p.db, p.table)
      val allSizes = p.dataFiles.map(f => (f.path, f.size))
      commitGroups(p.dataFiles, cfg.chunkCommitBytes).zipWithIndex.foreach { case (files, gi) =>
        val sqlFiles = files.filter(_.kind == FileKind.SqlData).map(f => (f.path, f.size))
        require(sqlFiles.size == files.size, "the stage split covers SQL dumps only")
        def raw: DataFrame =
          SqlDumpSource.readChunkedSized(spark, sqlFiles, cfg.minChunkBytes, cfg.charset)
        def aligned: DataFrame =
          SchemaAlign.fromArrayPerStatement(raw, col("vals"), col("stmt_cols"), table,
            cfg.sqlMode, cfg.jobTsMicros,
            keep = Seq(col("src_file").as("_src_file"), col("row_idx").as("_row_idx")),
            kindsCol = Some(col("kinds")), valueCharset = cfg.charset,
            emitExplicitRowId = true)
        def withId: DataFrame = {
          val d = RowIdAllocator.fromFileSizes(aligned, "_src_file", "_row_idx", allSizes,
            capacityFor = sz => sz + 1, restrictTo = Some(files.map(_.path)))
          val id = if (d.columns.contains("_explicit_rowid"))
            coalesce(col("_explicit_rowid"), col("_row_id")) else col("_row_id")
          d.select((table.columns.map(c => col(c.name)) :+ id.as("_row_id")): _*)
        }
        def observed(obs: Observation): DataFrame = {
          val m = KvEncode.observeMetrics(table, tid, rowIdCol = "_row_id")
          KvEncode.withObserveCols(withId, table, tid, "_row_id")
            .observe(obs, m.head, m.tail: _*)
            .drop(KvEncode.observeHelperCols(table): _*)
        }
        // every pass builds a plan shape of its own, so a first round pays
        // for its code generation; the next rounds are measured
        val rounds = (0 until 1 + MeasuredRounds).map { r =>
          def time(name: String)(body: => Unit) =
            if (r == 0) Main.secs(body) else timeS(t, name)(body)
          Seq(
            time("sources.parse")(noop(raw)),
            time("operators.align")(noop(aligned)),
            time("operators.rowid")(noop(withId)),
            time("operators.kv_checksum") { val obs = Observation(); noop(observed(obs)); obs.get },
            time("sinks.write") {
              val obs = Observation()
              sink.writeChunkStaged(observed(obs), p.db, s"${p.table}_$r", f"g$gi%04d"); obs.get
            })
        }.drop(1)
        val Seq(tp, ta, tr, tc, tw) = rounds.transpose.map(Main.median)
        parse += tp; align += ta - tp; rowid += tr - ta; checksum += tc - tr; write += tw - tc
      }
    }
    Gen.deleteRec(scratch)
    Map("sources.discover_ms" -> discover * 1e3, "sources.ddl_parse_ms" -> ddl * 1e3,
      "sources.parse_s" -> parse, "operators.align_s" -> align, "operators.rowid_s" -> rowid,
      "operators.kv_checksum_s" -> checksum, "sinks.write_s" -> write)
  }

  /** Sorted data files cut into commit groups of at most `bytes`, as the
    * chunk-checkpoint import cuts them. */
  def commitGroups(files: Seq[SourceFile], bytes: Long): Seq[Seq[SourceFile]] =
    files.sortBy(_.path).foldLeft(Vector(Vector.empty[SourceFile])) { (gs, f) =>
      if (gs.last.nonEmpty && gs.last.map(_.size).sum + f.size > bytes) gs :+ Vector(f)
      else gs.init :+ (gs.last :+ f)
    }.filter(_.nonEmpty)
}
