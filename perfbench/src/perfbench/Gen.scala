package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded input generators. Every workload's inputs are a pure function of
  * (workload, seed): the shapes follow the TPC-H-style sf0.1 tables
  * (lineitem, orders, documents, embeddings) the engine's gates use. */
object Gen {
  def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong)

  def write(f: File, s: CharSequence): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, s.toString.getBytes(UTF_8))
  }

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  /** yyyy-mm-dd for a day offset from 1992-01-01. */
  def date(day: Int): String = java.time.LocalDate.of(1992, 1, 1).plusDays(day).toString

  val LineitemDdl: String =
    """CREATE TABLE `lineitem` (
      |  `l_orderkey` bigint(20) NOT NULL,
      |  `l_partkey` bigint(20) NOT NULL,
      |  `l_suppkey` bigint(20) NOT NULL,
      |  `l_linenumber` int(11) NOT NULL,
      |  `l_quantity` decimal(15,2) NOT NULL,
      |  `l_extendedprice` decimal(15,2) NOT NULL,
      |  `l_discount` decimal(15,2) NOT NULL,
      |  `l_tax` decimal(15,2) NOT NULL,
      |  `l_returnflag` char(1) NOT NULL,
      |  `l_linestatus` char(1) NOT NULL,
      |  `l_shipdate` date NOT NULL,
      |  `l_comment` varchar(44) NOT NULL,
      |  PRIMARY KEY (`l_orderkey`, `l_linenumber`)
      |)""".stripMargin

  private val Words = Array("carefully", "final", "deposits", "furiously",
    "regular", "accounts", "quickly", "ironic", "packages", "blithely",
    "express", "requests", "slyly", "pending", "bold", "even", "special",
    "theodolites", "asymptotes", "pinto", "beans", "foxes", "instructions")

  /** A mydumper dump of one lineitem table: `files` data shards of
    * multi-row INSERT statements whose row count per statement is seeded.
    * Returns the row count. */
  def lineitemDump(dir: File, seed: Long, rows: Int, files: Int): Long = {
    deleteRec(dir); dir.mkdirs()
    write(new File(dir, "bench-schema-create.sql"), "CREATE DATABASE `bench`;\n")
    write(new File(dir, "bench.lineitem-schema.sql"), LineitemDdl + ";\n")
    val r = rng(seed, "lineitem")
    val perFile = rows / files
    var order = 1L; var line = 1
    for (f <- 0 until files) {
      val sb = new java.lang.StringBuilder(perFile * 150)
      var left = if (f == files - 1) rows - perFile * (files - 1) else perFile
      while (left > 0) {
        val n = math.min(left, 20 + r.nextInt(180))
        sb.append("INSERT INTO `lineitem` VALUES ")
        for (k <- 0 until n) {
          if (k > 0) sb.append(',')
          val qty = 1 + r.nextInt(50)
          val price = qty * (90000 + r.nextInt(20000)) / 100
          sb.append('(').append(order).append(',').append(1 + r.nextInt(20000))
            .append(',').append(1 + r.nextInt(1000)).append(',').append(line)
            .append(',').append(qty).append(".00,").append(price / 100).append('.')
            .append(f"${price % 100}%02d").append(",0.0").append(r.nextInt(10))
            .append(",0.0").append(r.nextInt(9)).append(",'")
            .append("RAN".charAt(r.nextInt(3))).append("','")
            .append("OF".charAt(r.nextInt(2))).append("','")
            .append(date(r.nextInt(2400))).append("','")
            .append(Words(r.nextInt(Words.length))).append(' ')
            .append(Words(r.nextInt(Words.length))).append("')")
          if (line >= 1 + r.nextInt(7)) { order += 1; line = 1 } else line += 1
        }
        sb.append(";\n")
        left -= n
      }
      write(new File(dir, f"bench.lineitem.$f%04d.sql"), sb)
    }
    rows.toLong
  }
}
