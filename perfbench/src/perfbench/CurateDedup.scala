package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}

/** The curation chain over seeded documents (with planted exact and near
  * duplicates) and embeddings (with planted near-identical vectors):
  * quality/language filter → exact dedup → MinHash pair mining →
  * connected-component keep-one → SemDeDup pairs. Each step is
  * materialized before the next, so the steps time separately. */
final class CurateDedup(spark: SparkSession, dir: File, seed: Long, recallFloor: Double)
    extends Workload {
  import CurateDedup._

  val BaseDocs = 2000
  /** Long documents that get duplicates planted: half exact, half near. */
  val PlantedSources = 200
  val Vectors = 2000
  val Dim = 64
  val QualityFloor = 80
  val SemTau = 0.95

  private val docsDir = new File(dir, "docs")
  private val embDir = new File(dir, "emb")
  private def out(i: Int) = new File(dir, s"out_$i")
  /** Planted duplicates: exact groups (ids sharing one text), near pairs. */
  private var exactGroups: Seq[Seq[Long]] = Nil
  private var nearPairs: Seq[(Long, Long)] = Nil
  private var vecPairs: Seq[(Long, Long)] = Nil
  private val live = scala.collection.mutable.Map[Int, Seq[DataFrame]]()
  private val candidatesPerPair = ArrayBuffer[Double]()

  def generate(): Unit = {
    val r = Gen.rng(seed, "curate_dedup")
    val docs = ArrayBuffer[(Long, String)]()
    def nextId = docs.size.toLong
    for (_ <- 0 until BaseDocs) docs += nextId -> randomDoc(r)
    // planted sources pass the quality/language filter by construction:
    // at least 40 words, one of them a stopword
    val markerSet = Markers.flatten.toSet
    val long = docs.filter { case (_, t) =>
      val w = t.split(' '); w.length >= 40 && w.exists(markerSet)
    }.map(_._1).toIndexedSeq
    val picks = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle(long).take(PlantedSources)
    val (ex, near) = picks.splitAt(picks.size / 2)
    exactGroups = ex.map { id =>
      val copies = (1 to 1 + r.nextInt(2)).map { _ => val c = nextId; docs += c -> docs(id.toInt)._2; c }
      id +: copies
    }
    nearPairs = near.map { id =>
      val c = nextId; docs += c -> mutate(r, docs(id.toInt)._2); (id, c)
    }
    Gen.deleteRec(docsDir)
    import spark.implicits._
    docs.toSeq.toDF("doc_id", "text").coalesce(4).write.parquet(docsDir.getPath)
    // embeddings: ten clusters; every 20th vector gets a near-identical twin
    val centers = Array.fill(10, Dim)(r.nextDouble() * 2 - 1)
    val vecs = ArrayBuffer[(Long, Array[Float])]()
    val pairs = ArrayBuffer[(Long, Long)]()
    for (k <- 0 until Vectors) {
      val c = centers(r.nextInt(centers.length))
      val v = Array.tabulate(Dim)(j => (c(j) + gauss(r) * 0.6).toFloat)
      vecs += vecs.size.toLong -> v
      if (k % 20 == 0) {
        pairs += ((vecs.size - 1).toLong -> vecs.size.toLong)
        vecs += vecs.size.toLong -> v.map(x => (x + gauss(r) * 0.01).toFloat)
      }
    }
    vecPairs = pairs.toSeq
    Gen.deleteRec(embDir)
    vecs.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .coalesce(4).write.parquet(embDir.getPath)
  }

  lazy val sourceBytes: Long = Gen.dirBytes(docsDir) + Gen.dirBytes(embDir)

  private def materialize(t: Tracer, name: String)(df: => DataFrame): DataFrame =
    t.span(name) { val d = df.persist(); d.count(); d }

  def iterate(i: Int, t: Tracer, ops: Ops): Unit = {
    val docs = spark.read.parquet(docsDir.getPath)
    val filtered = materialize(t, "curation.filter")(docs
      .filter(TextAnalysis.qualityScore(col("text")) >= QualityFloor &&
        TextAnalysis.langId(col("text")) =!= "und")
      .select("doc_id", "text"))
    val exact = materialize(t, "curation.exact")(
      Dedup.exact(filtered, Dedup.fingerprint(col("text")), col("doc_id")))
    val pairs = materialize(t, "curation.minhash_pairs")(
      Dedup.minhashPairs(exact, "text", "doc_id"))
    if (t.isOn) candidatesPerPair += bandJoinRows(pairs).toDouble / math.max(1L, pairs.count())
    val kept = t.span("curation.cc") {
      val k = Dedup.clusterKeepOne(exact, "doc_id", pairs, "id_a", "id_b")
        .select(col("id").as("doc_id")).join(exact, "doc_id")
      k.write.parquet(new File(out(i), "docs").getPath)
      spark.read.parquet(new File(out(i), "docs").getPath)
    }
    val sem = t.span("curation.semdedup") {
      val p = Similarity.semDedupPairs(spark.read.parquet(embDir.getPath), "embedding",
        "vec_id", tau = SemTau)
      p.write.parquet(new File(out(i), "sem_pairs").getPath)
      spark.read.parquet(new File(out(i), "sem_pairs").getPath)
    }
    live(i) = Seq(filtered, exact, pairs, kept, sem)
  }

  /** Largest join output in the mined pairs' cached plan: the LSH band
    * self-join's candidate rows. */
  private def bandJoinRows(pairs: DataFrame): Long = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.sharedState.cacheManager
      .lookupCachedData(pairs.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(c => PlanWalk.collect(c.cachedRepresentation.cacheBuilder.cachedPlan) {
        case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }).filter(_.nonEmpty).map(_.max).getOrElse(0L)
  }

  def check(i: Int, ops: Ops): Unit = live.get(i) match {
    case None => ops.check(ok = false, s"iteration $i left no output")
    case Some(Seq(filtered, exact, pairs, kept, sem)) =>
      val passed = filtered.select("doc_id").collect().map(_.getLong(0)).toSet
      val exactIds = exact.select("doc_id").collect().map(_.getLong(0)).toSet
      val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
      ops.check(keptIds.subsetOf(exactIds) && exactIds.subsetOf(passed),
        "kept ⊆ exact-deduped ⊆ filtered")
      for (g <- exactGroups) {
        ops.check(g.forall(passed), s"planted exact group ${g.mkString(",")} was filtered")
        ops.check(g.count(exactIds) == 1,
          s"planted exact group ${g.mkString(",")} keeps ${g.count(exactIds)} after exact dedup")
      }
      val found = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val eligible = nearPairs.filter { case (a, b) => exactIds(a) && exactIds(b) }
      val recall = eligible.count { case (a, b) => found((a min b, a max b)) }.toDouble /
        math.max(1, eligible.size)
      ops.check(eligible.size == nearPairs.size, s"${nearPairs.size - eligible.size} planted near pairs filtered")
      ops.check(recall >= recallFloor, f"near-duplicate recall $recall%.3f below $recallFloor")
      ops.check(eligible.filter { case (a, b) => found((a min b, a max b)) }
          .forall { case (a, b) => !(keptIds(a) && keptIds(b)) },
        "a found near pair kept both documents")
      val semFound = sem.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val semRecall = vecPairs.count(semFound).toDouble / vecPairs.size
      ops.check(semRecall >= recallFloor, f"semantic-duplicate recall $semRecall%.3f below $recallFloor")
    case Some(_) => ops.check(ok = false, s"iteration $i output malformed")
  }

  def storedRatio(i: Int): Double = Gen.dirBytes(out(i)).toDouble / sourceBytes

  val warmIterations = 3

  def clear(i: Int): Unit = {
    live.remove(i).foreach(_.foreach(_.unpersist(blocking = true)))
    Gen.deleteRec(out(i))
  }

  def layerMetrics(t: Tracer): Map[String, Double] =
    Seq("filter", "exact", "minhash_pairs", "cc", "semdedup")
      .map(s => s"curation.${s}_s" -> t.selfS(s"curation.$s")).toMap ++ Map(
      "curation.lsh_candidates_per_pair" -> Main.median(candidatesPerPair.toSeq))
}

object CurateDedup {
  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Word soup over a skewed 2000-word vocabulary plus one language's
    * stopwords, 10 to 90 words. */
  private val Vocab: IndexedSeq[String] = {
    val r = new java.util.SplittableRandom(7)
    (0 until 2000).map { _ =>
      (0 until 3 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
  }
  private val Markers: Seq[Seq[String]] =
    graft.functions.TextScore.langMarkers.map(_._2).filter(_.forall(_.forall(_ < 128)))

  def randomDoc(r: java.util.SplittableRandom): String = {
    val marks = Markers(r.nextInt(Markers.size))
    (0 until 10 + r.nextInt(81)).map { _ =>
      if (r.nextInt(8) == 0) marks(r.nextInt(marks.size))
      else { val u = r.nextDouble(); Vocab((u * u * Vocab.size).toInt) }
    }.mkString(" ")
  }

  /** A near duplicate: one or two words replaced. Stopwords stay, so the
    * copy keeps its source's language and passes the same filter. */
  def mutate(r: java.util.SplittableRandom, text: String): String = {
    val w = text.split(' ')
    val stop = Markers.flatten.toSet
    val free = w.indices.filterNot(k => stop(w(k)))
    for (_ <- 0 until 1 + r.nextInt(2))
      w(free(r.nextInt(free.size))) = "zq" + Vocab(r.nextInt(Vocab.size))
    w.mkString(" ")
  }

  def gauss(r: java.util.SplittableRandom): Double = {
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
}
