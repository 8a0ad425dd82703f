package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.{CurateApp, KMeansApp}
import graft.operators.{Dedup, KMeans, TextAnalysis}
import graft.sources.PointsText

/** What one run of a workload shares between set-up and its jobs. */
final class Ctx(val spark: SparkSession, val dir: Path, val seed: Long, val tracer: Tracer) {
  def path(name: String): String = dir.resolve(name).toString
}

/** One job's result: its work units, the layer counters it observed
  * (traced jobs only), and the output-check verdict (None = passed).
  */
final case class Outcome(work: Double, counters: Map[String, Double], failure: Option[String])

trait Workload {
  /** Generate the inputs and what the checks compare against. */
  def inputs(c: Ctx): Unit
  /** Run job number `j`; traced jobs record spans through `c.tracer`. */
  def job(c: Ctx, j: Int, traced: Boolean): Outcome

  /** Inputs, then one checked warm-up job; returns the two phase times. */
  final def setup(c: Ctx): Map[String, Double] = {
    val t0 = Clock.ms()
    inputs(c)
    val t1 = Clock.ms()
    val f = job(c, -1, traced = false).failure
    require(f.isEmpty, s"warm-up job failed its check: ${f.get}")
    Map("inputs_s" -> (t1 - t0) / 1e3, "warmup_s" -> (Clock.ms() - t1) / 1e3)
  }
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "kmeans_text" => new KMeansText
    case "curate_dedup" => new CurateDedup
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}

/** `KMeansApp.run` end to end: text points → Lloyd (k = 8) → centroid
  * text, checked against a plain-Scala Lloyd on the same points.
  */
final class KMeansText extends Workload {
  val K = 8
  val N = 200000
  private var expected: (Array[(Double, Double)], Int) = _

  def input(c: Ctx): String = c.path("points")

  def inputs(c: Ctx): Unit = {
    val pts = Inputs.points(c.dir.resolve("points"), N, 4, c.seed)
    // the points in the order a text read numbers its lines, which is
    // the order sampleCentroids' zipWithIndex picks from
    val lines = c.spark.read.text(input(c)).collect().map { r =>
      val p = r.getString(0).split(","); (p(0).toDouble, p(1).toDouble)
    }
    expected = KMeansText.reference(pts, KMeansText.initLines(N, K, c.seed).map(lines(_)))
  }

  def job(c: Ctx, j: Int, traced: Boolean): Outcome = {
    val out = c.path("centroids")
    val (centroids, iters, counters) =
      if (!traced) {
        val (cs, it, _) = KMeansApp.run(c.spark, K, input(c), out, Some(c.seed))
        (cs, it, Map.empty[String, Double])
      } else tracedRun(c, out)
    val written = Files.list(c.dir.resolve("centroids")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p, StandardCharsets.UTF_8).asScala).toSeq
    Outcome(N.toDouble * iters, counters, check(centroids, iters, written))
  }

  /** The same calls KMeansApp.run makes, one span per public call and
    * per Lloyd iteration (the loop is KMeans.lloyd's, step by step).
    */
  private def tracedRun(c: Ctx, out: String): (Array[(Double, Double)], Int, Map[String, Double]) = {
    val t = c.tracer
    val init = t.span("PointsText.sampleCentroids", "sources") {
      PointsText.sampleCentroids(c.spark, input(c), K, Some(c.seed))
    }
    val pts = t.span("PointsText.read", "sources") {
      val p = PointsText.read(c.spark, input(c)).persist()
      p.count()
      p
    }
    try {
      val (cs, iters) = t.span("KMeans.lloyd", "kmeans") {
        var cs = init.clone()
        var iter = 0
        var converged = false
        while (iter < 20 && !converged) {
          val next = t.span("KMeans.step", "kmeans") {
            val upd = KMeans.step(pts, cs).select("cid", "x", "y").collect()
              .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
            cs.zipWithIndex.map { case (old, i) => upd.getOrElse(i, old) }
          }
          converged = cs.zip(next).forall { case ((ox, oy), (nx, ny)) =>
            math.abs(ox - nx) < 1e-3 && math.abs(oy - ny) < 1e-3
          }
          cs = next
          iter += 1
        }
        (cs, iter)
      }
      t.span("PointsText.writeCentroids", "sources") {
        PointsText.writeCentroids(c.spark, cs, out)
      }
      val inMb = Workloads.dirBytes(c.dir.resolve("points")) / 1e6
      val outMb = Workloads.dirBytes(c.dir.resolve("centroids")) / 1e6
      (cs, iters, Map("sources.input_mb" -> inMb, "sources.output_mb" -> outMb,
        "kmeans.iters" -> iters.toDouble))
    } finally pts.unpersist(false)
  }

  private def check(got: Array[(Double, Double)], iters: Int, lines: Seq[String]): Option[String] = {
    val (want, wantIters) = expected
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    val fromFile = lines.map(_.replace(",", " ").trim.split("\\s+"))
      .map(a => a(0).toInt -> (a(1).toDouble, a(2).toDouble)).sortBy(_._1).map(_._2)
    if (iters != wantIters) Some(s"iterations $iters != $wantIters")
    else if (got.length != want.length || fromFile.length != want.length)
      Some(s"centroid count ${got.length}/${fromFile.length} != ${want.length}")
    else got.indices.find { i =>
      !(close(got(i)._1, want(i)._1) && close(got(i)._2, want(i)._2) &&
        close(fromFile(i)._1, want(i)._1) && close(fromFile(i)._2, want(i)._2))
    }.map(i => s"centroid $i ${got(i)} (file ${fromFile(i)}) != ${want(i)}")
  }
}

object KMeansText {
  /** PointsText.sampleCentroids' line pick: k distinct seeded draws in
    * [0, n), taken in file order.
    */
  def initLines(n: Int, k: Int, seed: Long): Array[Int] = {
    val rnd = new scala.util.Random(seed)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (picked.size < k) picked += rnd.nextLong(n.toLong)
    picked.toArray.sorted.map(_.toInt)
  }

  /** Plain-Scala Lloyd with the reference semantics (per-axis tol
    * 1e-3, at most 20 iterations, lowest cid wins ties, empty
    * clusters keep their centroid). Returns (centroids, iterations).
    */
  def reference(pts: Array[(Double, Double)], init: Array[(Double, Double)]): (Array[(Double, Double)], Int) = {
    val xs = pts.map(_._1)
    val ys = pts.map(_._2)
    val k = init.length
    var cx = init.map(_._1)
    var cy = init.map(_._2)
    var iter = 0
    var converged = false
    while (iter < 20 && !converged) {
      val sx = new Array[Double](k)
      val sy = new Array[Double](k)
      val n = new Array[Long](k)
      var p = 0
      while (p < xs.length) {
        var best = 0
        var bestD = Double.MaxValue
        var i = 0
        while (i < k) {
          val d = (xs(p) - cx(i)) * (xs(p) - cx(i)) + (ys(p) - cy(i)) * (ys(p) - cy(i))
          if (d < bestD) { bestD = d; best = i }
          i += 1
        }
        sx(best) += xs(p); sy(best) += ys(p); n(best) += 1
        p += 1
      }
      val nx = Array.tabulate(k)(i => if (n(i) == 0) cx(i) else sx(i) / n(i))
      val ny = Array.tabulate(k)(i => if (n(i) == 0) cy(i) else sy(i) / n(i))
      converged = (0 until k).forall(i => math.abs(cx(i) - nx(i)) < 1e-3 && math.abs(cy(i) - ny(i)) < 1e-3)
      cx = nx
      cy = ny
      iter += 1
    }
    (cx.zip(cy), iter)
  }
}

/** `CurateApp.run` (quality ≥ 0.5, lang en) on a corpus with planted
  * near-duplicate families; every family must leave one survivor.
  */
final class CurateDedup extends Workload {
  val NBase = 400
  val QualityMin = 0.5
  private var nDocs = 0L
  private var expected = 0L

  def inputs(c: Ctx): Unit = {
    val (base, full) = Inputs.corpus(NBase, c.seed)
    Inputs.writeDocs(c.spark, base, c.path("base.parquet"))
    Inputs.writeDocs(c.spark, full, c.path("corpus.parquet"))
    nDocs = full.length
    expected = CurateApp.run(c.spark, c.path("base.parquet"), c.path("base_out"), QualityMin, "en")
  }

  def job(c: Ctx, j: Int, traced: Boolean): Outcome = {
    val out = c.path("curated")
    val (n, counters) =
      if (!traced) (CurateApp.run(c.spark, c.path("corpus.parquet"), out, QualityMin, "en"),
        Map.empty[String, Double])
      else tracedRun(c, out)
    Outcome(nDocs.toDouble, counters, check(c, out, n))
  }

  /** CurateApp.run's calls one at a time, each materialized so its
    * span holds its own work (CurateApp.curate, then nearDedup's
    * Dedup calls, then the parquet write).
    */
  private def tracedRun(c: Ctx, out: String): (Long, Map[String, Double]) = {
    val t = c.tracer
    val s = c.spark
    val docs = s.read.parquet(c.path("corpus.parquet"))
    val kept = t.span("CurateApp.curate", "text") {
      CurateApp.curate(docs, QualityMin, "en").localCheckpoint(eager = true)
    }
    val nKept = kept.count()
    val exact = t.span("Dedup.dedupedCorpus", "dedup") {
      Dedup.dedupedCorpus(kept).localCheckpoint(eager = true)
    }
    val nExact = exact.count()
    val sh = t.span("Dedup.shinglesHashed", "dedup") {
      val x = Dedup.shinglesHashed(exact).cache()
      x.count()
      x
    }
    try {
      val sigs = t.span("Dedup.minhashSignatures", "dedup") {
        Dedup.minhashSignatures(sh).localCheckpoint(eager = true)
      }
      val cand = t.span("Dedup.lshCandidates", "dedup") {
        Dedup.lshCandidates(sigs).localCheckpoint(eager = true)
      }
      val nCand = cand.count()
      val pairs = t.span("Dedup.jaccardVerify", "dedup") {
        Dedup.jaccardVerify(sh, cand, 0.8).select("id1", "id2").localCheckpoint(eager = true)
      }
      val nPairs = pairs.count()
      val survivors = t.span("Dedup.nearDedupedCorpus", "dedup") {
        Dedup.nearDedupedCorpus(exact, pairs).localCheckpoint(eager = true)
      }
      val nSurv = survivors.count()
      val n = t.span("parquet write", "sources") {
        survivors.write.mode("overwrite").parquet(out)
        s.read.parquet(out).count()
      }
      (n, Map(
        "text.docs_in" -> nDocs.toDouble, "text.docs_kept" -> nKept.toDouble,
        "dedup.exact_drops" -> (nKept - nExact).toDouble,
        "dedup.candidate_pairs" -> nCand.toDouble, "dedup.verified_pairs" -> nPairs.toDouble,
        "dedup.near_drops" -> (nExact - nSurv).toDouble,
        "sources.input_mb" -> Workloads.dirBytes(c.dir.resolve("corpus.parquet")) / 1e6,
        "sources.output_mb" -> Workloads.dirBytes(c.dir.resolve("curated")) / 1e6))
    } finally sh.unpersist(false)
  }

  private def check(c: Ctx, out: String, n: Long): Option[String] = {
    val rows = c.spark.read.parquet(out).select(col("doc_id"), col("text")).collect()
    val ids = rows.map(_.getLong(0))
    lazy val bad = rows.find(r => !CurateDedup.passes(r.getString(1), QualityMin))
    if (n != expected || rows.length != expected) Some(s"survivors $n/${rows.length} != $expected")
    else if (ids.distinct.length != ids.length) Some("duplicate doc_id in output")
    else bad.map(r => s"doc ${r.getLong(0)} fails the quality/language filter")
  }
}

object CurateDedup {
  private val Stop = TextAnalysis.stopPattern.r
  private val Markers = TextAnalysis.markers.map { case (l, p) => l -> p.r }

  /** TextAnalysis' quality score and language argmax, in plain Scala. */
  def passes(text: String, qualityMin: Double): Boolean = {
    val lower = text.toLowerCase
    val nChars = text.length.toDouble
    val nTok = "\\S+".r.findAllIn(text).length.toDouble
    val alpha = text.count(ch => (ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z'))
    val stops = Stop.findAllIn(lower).length
    val q = BigDecimal(0.3 * math.min(1.0, nTok / 100) + 0.4 * (alpha / nChars) +
      0.3 * (1 - stops / nTok)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val counts = Markers.map { case (l, re) => l -> re.findAllIn(lower).length }
    val best = counts.map(_._2).max
    // first language at the maximum: TextAnalysis' en→es→de→fr precedence
    val lang = if (best == 0) "und" else counts.find(_._2 == best).get._1
    nChars > 0 && q >= qualityMin && lang == "en"
  }
}
