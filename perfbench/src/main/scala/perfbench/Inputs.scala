package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator: the same seed gives byte-identical inputs.
  * Everything is written under the run's own scratch directory.
  */
object Inputs {

  /** Content words: none is a stopword or a language marker of
    * TextAnalysis, so swapping one for another moves neither the
    * stopword ratio nor the predicted language of a document.
    */
  val Words: IndexedSeq[String] = IndexedSeq(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "join", "vector", "customer", "index", "shard", "cache", "plan",
    "node", "task", "stage", "block", "page", "file", "field", "record")
  private val EnMarkers = IndexedSeq("the", "and", "of", "to", "is")
  private val EsMarkers = IndexedSeq("el", "la", "de", "que", "y")

  // ---- kmeans_text ----------------------------------------------------

  /** `n` "x,y" lines shaped like (l_quantity, l_extendedprice): x an
    * integer quantity in 1..50, y = x · unit price · discount factor.
    * Returned in file order, and written to `dir` as `parts` text files
    * (a job-output directory, so the read splits across the cores).
    */
  def points(dir: Path, n: Int, parts: Int, seed: Long): Array[(Double, Double)] = {
    val r = new SplittableRandom(seed)
    val pts = Array.fill(n) {
      val x = (1 + r.nextInt(50)).toDouble
      val price = 900.0 + r.nextInt(1000) / 10.0
      val y = math.round(x * price * (0.5 + r.nextDouble()) * 100) / 100.0
      (x, y)
    }
    Files.createDirectories(dir)
    pts.grouped((n + parts - 1) / parts).zipWithIndex.foreach { case (chunk, i) =>
      val sb = new StringBuilder(chunk.length * 16)
      chunk.foreach { case (x, y) => sb.append(x).append(',').append(y).append('\n') }
      Files.write(dir.resolve(f"part-$i%05d.txt"), sb.toString.getBytes(StandardCharsets.UTF_8))
    }
    pts
  }

  // ---- curate_dedup ---------------------------------------------------

  final case class Doc(id: Long, text: String, lang: String, source: String)

  private def pick(r: SplittableRandom, xs: IndexedSeq[String]): String = xs(r.nextInt(xs.length))

  /** One base document: 70% English prose, 15% Spanish prose, 15%
    * short numeric junk (English-marked but far below any quality
    * bar). Prose is 40-99 tokens with ~15% marker words.
    */
  private def baseText(r: SplittableRandom): Array[String] = {
    val kind = r.nextInt(20)
    if (kind < 3) {
      val n = 8 + r.nextInt(8)
      "the" +: Array.fill(n - 1)((100 + r.nextInt(900000)).toString)
    } else {
      val markers = if (kind < 6) EsMarkers else EnMarkers
      Array.fill(40 + r.nextInt(60))(
        if (r.nextInt(100) < 15) pick(r, markers) else pick(r, Words))
    }
  }

  /** A near-duplicate: one token in the second half swapped for a
    * different token of the same kind (word for word, number for
    * number), so quality and language stay put and the word-3-shingle
    * Jaccard to the base stays near 0.9.
    */
  private def jitter(r: SplittableRandom, toks: Array[String]): Array[String] = {
    val out = toks.clone()
    val swappable = (toks.length / 2 until toks.length)
      .filter(i => Words.contains(toks(i)) || toks(i).forall(_.isDigit))
    if (swappable.nonEmpty) {
      val i = swappable(r.nextInt(swappable.length))
      out(i) =
        if (toks(i).forall(_.isDigit)) (toks(i).toLong + 1 + r.nextInt(1000)).toString
        else Words.filterNot(_ == toks(i))(r.nextInt(Words.length - 1))
    }
    out
  }

  /** The base corpus (`nBase` mutually distinct documents, ids i·4)
    * and the full corpus: each base plus 0-3 seeded copies (ids i·4+j),
    * a third of them exact and the rest jittered — planted families
    * that curation must collapse to one survivor each.
    */
  def corpus(nBase: Int, seed: Long): (Seq[Doc], Seq[Doc]) = {
    val r = new SplittableRandom(seed ^ 0x5deece66dL)
    val langs = IndexedSeq("en", "es", "fr", "de", "zh")
    val base = (0 until nBase).map { i =>
      Doc(i * 4L, baseText(r).mkString(" "), pick(r, langs), s"src${i % 20}")
    }
    val full = base.flatMap { b =>
      val toks = b.text.split(" ")
      b +: (1 to r.nextInt(4)).map { j =>
        val t = if (r.nextInt(3) == 0) toks else jitter(r, toks)
        b.copy(id = b.id + j, text = t.mkString(" "))
      }
    }
    (base, full)
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Write `docs` as a documents-shaped parquet of four files. */
  def writeDocs(s: SparkSession, docs: Seq[Doc], path: String): Unit =
    s.createDataFrame(s.sparkContext.parallelize(
      docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)), 4), DocSchema)
      .write.mode("overwrite").parquet(path)
}
