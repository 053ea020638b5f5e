package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}

/** A catalog lake table seeded from an orders-shaped base, then a fixed
  * mix of SQL writes (INSERT batches, UPDATE, DELETE, MERGE INTO) with
  * reads interleaved (aggregate, point lookup, VERSION AS OF). Every
  * statement is plain `spark.sql` on a `GraftLakeCatalog` table; each
  * iteration works on a fresh table. An in-memory replay of the seeded op
  * log is the oracle for the final state, one time-travel state and every
  * read. */
final class LakeDml(spark: SparkSession, dir: File, seed: Long) extends Workload {
  import LakeDml._

  val BaseRows = 50000
  /** Per iteration, after CREATE TABLE and the base load. */
  val Writes: Seq[Char] = "IUIDIM"
  val ReadEvery = 2
  val InsertRows = 200
  val MergeRows = 100

  private val base = new File(dir, "base")
  private var baseRows: Array[Order] = _
  private var stmts: Seq[Stmt] = Nil
  /** Oracle: state hash after base load (index 0) and after each write. */
  private var versionHash: IndexedSeq[Long] = _
  private var liveBytes = -1L
  private var opLogBytes = 0L
  private val reads = mutable.Map[Int, Seq[(Stmt, Seq[Row])]]()
  /** Op-log statement latencies of untraced timed iterations, ms. */
  val commitMs, readMs = ArrayBuffer[Double]()
  private val perCommit = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var commits = 0
  private var addedRows, changedRows = 0L

  def table(i: Int): String = s"perf.lake.o_${if (i < 0) s"w${-i}" else i.toString}"
  private def tableDir(i: Int): File =
    new File(dir.getParentFile, s"lake/lake/${table(i).split('.').last}")

  def generate(): Unit = {
    val r = Gen.rng(seed, "lake_dml")
    baseRows = Array.tabulate(BaseRows)(k => randomOrder(r, 4L * k + 1))
    Gen.deleteRec(base)
    import spark.implicits._
    spark.createDataset(baseRows.toSeq).toDF()
      .selectExpr("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "date_from_unix_date(o_orderdate) AS o_orderdate", "o_orderpriority")
      .coalesce(4).write.parquet(base.getPath)
    spark.read.parquet(base.getPath).createOrReplaceTempView("lake_base")
    // op log + oracle replay; the state hash is a sum of row hashes, so
    // it updates with each changed row
    val state = mutable.LongMap[Order]()
    var hash = 0L
    def put(o: Order): Unit = {
      state.put(o.o_orderkey, o).foreach(old => hash -= rowHash(old))
      hash += rowHash(o)
    }
    def drop(k: Long): Unit = state.remove(k).foreach(old => hash -= rowHash(old))
    baseRows.foreach(put)
    val hashes = ArrayBuffer(hash)
    def counts = Row(state.size.toLong, state.values.iterator.map(_.o_totalprice).sum)
    val versionCounts = ArrayBuffer(counts)
    var nextKey = 4L * BaseRows + 1
    def anyKey(): Long = baseRows(r.nextInt(BaseRows)).o_orderkey
    val log = ArrayBuffer[Stmt]()
    Writes.zipWithIndex.foreach { case (kind, w) =>
      kind match {
        case 'I' =>
          val rows = (0 until InsertRows).map { _ => nextKey += 4; randomOrder(r, nextKey) }
          rows.foreach(put)
          log += Stmt(write = true, s"INSERT INTO %T VALUES ${rows.map(values).mkString(",")}",
            changed = rows.size)
        case 'U' =>
          val cust = state.getOrElse(anyKey(), state.values.head).o_custkey
          val delta = (1 + r.nextInt(400)) * 0.25
          val hit = state.values.filter(_.o_custkey == cust).toSeq
          hit.foreach(o => put(o.copy(o_totalprice = o.o_totalprice + delta)))
          log += Stmt(write = true,
            s"UPDATE %T SET o_totalprice = o_totalprice + ${delta}D WHERE o_custkey = $cust",
            changed = hit.size)
        case 'D' =>
          val lo = state.keysIterator.drop(r.nextInt(state.size)).next()
          val hit = state.keys.filter(k => k >= lo && k <= lo + 40).toSeq
          hit.foreach(drop)
          log += Stmt(write = true, s"DELETE FROM %T WHERE o_orderkey >= $lo AND o_orderkey <= ${lo + 40}",
            changed = hit.size)
        case 'M' =>
          val rows = (0 until MergeRows).map { m =>
            if (m % 2 == 0) randomOrder(r, anyKey()) else { nextKey += 4; randomOrder(r, nextKey) }
          }.groupBy(_.o_orderkey).values.map(_.head).toSeq.sortBy(_.o_orderkey)
          rows.foreach(put)
          log += Stmt(write = true,
            "MERGE INTO %T t USING (SELECT * FROM VALUES " + rows.map(values).mkString(",") +
              " AS s(o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, " +
              "o_orderpriority)) s ON t.o_orderkey = s.o_orderkey " +
              "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
            changed = rows.size)
      }
      hashes += hash
      versionCounts += counts
      if ((w + 1) % ReadEvery == 0) log += ((w / ReadEvery) % 3 match {
        case 0 =>
          val agg = state.values.groupBy(_.o_orderstatus).map { case (s, os) =>
            Row(s, os.size.toLong, os.iterator.map(_.o_totalprice).sum) }.toSeq
          Stmt(write = false, "SELECT o_orderstatus, count(*), sum(o_totalprice) FROM %T " +
            "GROUP BY o_orderstatus", expect = agg)
        case 1 =>
          val k = if (r.nextBoolean()) anyKey() else state.keysIterator.next()
          Stmt(write = false, "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
            s"unix_date(o_orderdate), o_orderpriority FROM %T WHERE o_orderkey = $k",
            expect = state.get(k).map(asRow).toSeq)
        case _ =>
          val v = r.nextInt(w + 2)
          Stmt(write = false, s"SELECT count(*), sum(o_totalprice) FROM %T VERSION AS OF ${v + 2}",
            expect = Seq(versionCounts(v)))
      })
    }
    stmts = log.toSeq
    versionHash = hashes.toIndexedSeq
    opLogBytes = stmts.map(_.sql.length.toLong).sum
  }

  lazy val sourceBytes: Long = Gen.dirBytes(base) + opLogBytes

  def iterate(i: Int, t: Tracer, ops: Ops): Unit = {
    val tbl = table(i)
    val got = ArrayBuffer[(Stmt, Seq[Row])]()
    def sql(what: String, q: String): Seq[Row] =
      ops.attempt(q.take(60))(t.span(what)(spark.sql(q).collect().toSeq)).getOrElse(Nil)
    sql("lake.create", s"CREATE TABLE $tbl (o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING)")
    sql("lake.base_load", s"INSERT INTO $tbl SELECT * FROM lake_base")
    // the op log: latencies (untraced timed iterations) and per-commit
    // counters (traced iterations) cover these statements only
    for (s <- stmts) {
      val before = if (t.isOn && s.write) Some(snapshotDir(i)) else None
      val fs0 = CountingLocalFs.snapshot()
      val t0 = System.nanoTime()
      val rows = sql(if (s.write) "lake.commit" else "lake.read", s.sql.replace("%T", tbl))
      val ms = (System.nanoTime() - t0) / 1e6
      if (!t.isOn && i >= 0) (if (s.write) commitMs else readMs) += ms
      before.foreach(b => traceCommit(i, s, b, CountingLocalFs.delta(fs0)))
      if (!s.write) got += s -> rows
    }
    reads(i) = got.toSeq
  }

  def check(i: Int, ops: Ops): Unit = {
    val tbl = table(i)
    val hist = ops.attempt("history")(spark.sql(s"DESCRIBE HISTORY $tbl").collect())
    val latest = hist.map(_.map(_.getAs[Number]("version").longValue).max).getOrElse(-1L)
    ops.check(latest == Writes.size + 2, s"$tbl: latest version $latest, want ${Writes.size + 2}")
    def hashOf(sql: String): Option[Long] =
      ops.attempt(sql)(stateHashRows(spark.sql(sql).collect()))
    val cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, unix_date(o_orderdate), " +
      "o_orderpriority"
    ops.check(hashOf(s"SELECT $cols FROM $tbl").contains(versionHash.last),
      s"$tbl: final state differs from the op-log replay")
    val v = Writes.size / 2
    ops.check(hashOf(s"SELECT $cols FROM $tbl VERSION AS OF ${v + 2}").contains(versionHash(v)),
      s"$tbl: VERSION AS OF ${v + 2} differs from the op-log replay")
    for ((s, rows) <- reads.getOrElse(i, Nil))
      ops.check(sameRows(rows, s.expect), s"$tbl: read `${s.sql.take(60)}` got $rows want ${s.expect}")
    if (liveBytes < 0) {
      val live = new File(dir, "live")
      spark.table(tbl).write.parquet(live.getPath)
      liveBytes = Gen.dirBytes(live)
      Gen.deleteRec(live)
    }
  }

  def storedRatio(i: Int): Double = Gen.dirBytes(tableDir(i)).toDouble / liveBytes

  val warmIterations = 3

  def clear(i: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${table(i)}")
    Gen.deleteRec(tableDir(i))
    reads.remove(i)
  }

  private def snapshotDir(i: Int): Map[String, Long] = {
    def walk(f: File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f.getPath -> f.length())
    walk(tableDir(i)).toMap
  }

  /** Per-commit filesystem ops, new manifest bytes and rows in new data
    * files (read from their parquet footers), for traced iterations. */
  private def traceCommit(i: Int, s: Stmt, before: Map[String, Long],
      fs: Map[String, Long]): Unit = {
    val added = snapshotDir(i).filter { case (p, _) => !before.contains(p) }
    commits += 1
    CountingLocalFs.Kinds.foreach(k => perCommit(k) += fs.getOrElse(k, 0L))
    val isData = (p: String) => p.endsWith(".parquet")
    val isCrc = (p: String) => p.endsWith(".crc")
    perCommit("manifest_bytes") += added.filter { case (p, _) => !isData(p) && !isCrc(p) }.values.sum
    if (s.changed > 0) {
      val conf = spark.sparkContext.hadoopConfiguration
      addedRows += added.keys.filter(isData).map { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p), conf)
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try rd.getRecordCount finally rd.close()
      }.sum
      changedRows += s.changed
    }
  }

  def layerMetrics(t: Tracer): Map[String, Double] = {
    val n = math.max(1, commits).toDouble
    CountingLocalFs.Kinds.map(k => s"lake.fs_${k}_per_commit" -> perCommit(k) / n).toMap ++ Map(
      "lake.manifest_bytes_per_commit" -> perCommit("manifest_bytes") / n,
      "lake.rewrite_amplification" -> addedRows.toDouble / math.max(1L, changedRows),
      "lake.commit_p50_ms" -> Main.median(commitMs.toSeq),
      "lake.read_p50_ms" -> Main.median(readMs.toSeq))
  }
}

object LakeDml {
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: Int, o_orderpriority: String)

  /** One statement of the op log; `%T` stands for the iteration's table.
    * Reads carry their expected rows; `changed` is the rows a write
    * inserts, updates or deletes. Version k + 2 is the state after k writes
    * (version 1 is CREATE TABLE, version 2 the base load). */
  final case class Stmt(write: Boolean, sql: String, changed: Long = 0L,
      expect: Seq[Row] = Nil)

  private val Status = Array("O", "F", "P")
  private val Priority = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def randomOrder(r: java.util.SplittableRandom, key: Long): Order =
    Order(key, 1 + r.nextInt(15000), Status(r.nextInt(3)),
      (100000 + r.nextInt(50000000)) / 100.0, 8035 + r.nextInt(2400),
      Priority(r.nextInt(5)))

  def values(o: Order): String =
    s"(${o.o_orderkey}L, ${o.o_custkey}L, '${o.o_orderstatus}', ${o.o_totalprice}D, " +
      s"DATE'${java.time.LocalDate.ofEpochDay(o.o_orderdate)}', '${o.o_orderpriority}')"

  def asRow(o: Order): Row = Row(o.o_orderkey, o.o_custkey, o.o_orderstatus,
    o.o_totalprice, o.o_orderdate, o.o_orderpriority)

  def rowHash(o: Order): Long =
    (MurmurHash3.productHash(o, 17).toLong << 32) ^ (MurmurHash3.productHash(o, 91) & 0xffffffffL)

  /** Order-independent hash of a table state read back as
    * (o_orderkey, o_custkey, o_orderstatus, o_totalprice, unix_date,
    * o_orderpriority) rows: the sum of its row hashes. */
  def stateHashRows(rows: Iterable[Row]): Long =
    rows.iterator.map(r => rowHash(Order(r.getLong(0), r.getLong(1), r.getString(2),
      r.getDouble(3), r.getInt(4), r.getString(5)))).sum

  /** Equal as multisets; doubles within a relative 1e-9 (sums fold in
    * engine order). */
  def sameRows(got: Seq[Row], want: Seq[Row]): Boolean = {
    def key(r: Row) = r.toSeq.map {
      case d: Double => f"$d%.3e"
      case x => String.valueOf(x)
    }.mkString("|")
    def close(a: Any, b: Any) = (a, b) match {
      case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
      case (x: Number, y: Number) => x.longValue == y.longValue
      case _ => a == b
    }
    got.size == want.size && got.sortBy(key).zip(want.sortBy(key)).forall { case (a, b) =>
      a.size == b.size && a.toSeq.zip(b.toSeq).forall { case (x, y) => close(x, y) }
    }
  }
}
