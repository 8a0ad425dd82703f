package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables

/** Ranked keyword retrieval over the documents corpus: BM25 scoring
  * (Robertson & Spärck Jones / Okapi; the Lucene `k1`/`b` practical
  * form with the non-negative idf) computed two ways that must
  * agree — directly from the corpus, and against a PERSISTED
  * inverted index built once per corpus.
  *
  * Scale posture: the per-document token explode is filtered to the
  * query's terms BEFORE any shuffle, so the aggregation exchange
  * carries only the query terms' postings — O(Σ df(t)) rows, not the
  * corpus. Document lengths come from a separate map-side
  * `regexp_count` pass (no explode), and the two corpus constants
  * (N, avgdl) reduce from the integer length table, so every derived
  * double is a pure function of exact integers — bit-reproducible
  * against the DuckDB oracle. The per-term score contributions are
  * summed in a FIXED term order (one column per query term) because
  * floating-point addition is order-sensitive and a groupBy-sum
  * would add them in shuffle arrival order.
  */
object Retrieval {

  /** The benchmark query: three mid-frequency corpus terms. */
  val QueryTerms: Seq[String] = Seq("spark", "vector", "customer")
  val K1 = 1.2
  val B = 0.75

  private val termList = QueryTerms.map(t => s"'$t'").mkString(", ")

  /** Shared oracle: both the direct and the indexed entries must
    * reproduce this exact ranking (same rounding, same tie-break).
    */
  /** The shared BM25 CTE chain (everything up to the final ranked
    * select), so the hybrid-fusion oracle can reuse the exact float
    * discipline the two bm25 entries already hash-match under.
    */
  private val bm25Ctes =
    s"""dl AS (
       |  SELECT doc_id, CAST(length(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS dl
       |  FROM documents),
       |stats AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |  FROM documents),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM tok
       |       WHERE word IN ($termList) GROUP BY 1, 2),
       |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
       |contrib AS (
       |  SELECT tf.doc_id, tf.word,
       |    ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5))
       |      * tf.tf * ${K1 + 1} / (tf.tf + $K1 * (${1 - B} + $B * dl.dl / s.avgdl)) AS c
       |  FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN stats s),
       |wide AS (
       |  SELECT doc_id,
       |${QueryTerms.zipWithIndex.map { case (t, i) =>
            s"    coalesce(max(CASE WHEN word = '$t' THEN c END), 0) AS c$i"
          }.mkString(",\n")}
       |  FROM contrib GROUP BY doc_id)""".stripMargin

  private val bm25Select =
    s"""SELECT doc_id, round(${QueryTerms.indices.map(i => s"c$i").mkString(" + ")}, 4) AS bm25
       |FROM wide ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  private val bm25Oracle = s"WITH $bm25Ctes\n$bm25Select"

  /** (doc_id, dl) token-length table — map-side regexp_count, no
    * explode, prunes to the text column only.
    */
  private def docLengths(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      regexp_count(lower(col("text")), lit("[a-z]+")).cast("long").as("dl"))

  /** Postings restricted to the query terms: the term filter sits
    * directly on the exploded word BEFORE the tf aggregation, so the
    * shuffle carries only matching (doc, term) hits.
    */
  private def postingsFor(docs: DataFrame, terms: Seq[String]): DataFrame =
    docs
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("word"))
      .filter(col("word").isin(terms: _*))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))

  /** BM25 ranking from postings + lengths (shared by the direct and
    * indexed paths; `n` and `avgdl` are the exact corpus constants).
    */
  def bm25Rank(tf: DataFrame, dl: DataFrame, n: Long, avgdl: Double): DataFrame = {
    val dfr = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val contrib = tf.join(broadcast(dfr), "word")
      .join(dl, "doc_id")
      .select(col("doc_id"), col("word"),
        (log(lit(1.0) + (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * col("tf") * lit(K1 + 1)
          / (col("tf") + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / lit(avgdl)))).as("c"))
    val termCols = QueryTerms.zipWithIndex.map { case (t, i) =>
      coalesce(max(when(col("word") === t, col("c"))), lit(0.0)).as(s"c$i")
    }
    val wide = contrib.groupBy(col("doc_id")).agg(termCols.head, termCols.tail: _*)
    wide.select(col("doc_id"),
      round(QueryTerms.indices.map(i => col(s"c$i")).reduce(_ + _), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  /** BM25 top-20 computed directly from the corpus. */
  val textBm25: QueryDef = QueryDef.sql("text_bm25", bm25Oracle) { (s, d) =>
    val dl = docLengths(s, d)
    val Array(stats) = dl.agg(count(lit(1)), sum(col("dl"))).collect()
    val n = stats.getLong(0)
    val avgdl = stats.getLong(1).toDouble / n
    bm25Rank(postingsFor(Tables.documents(s, d), QueryTerms), dl, n, avgdl)
  }

  private val PostingFiles = 8

  /** Once-per-corpus inverted-index materialization (a Warehouse
    * artifact): full postings (word, doc_id, tf) sorted by word so
    * parquet row-group min/max stats prune non-query terms, plus the
    * doc-length table and the one-row corpus stats.
    */
  def invIndexDir(s: SparkSession, d: String): String =
    graft.sources.Warehouse.artifact(s, d, "inv_idx", Seq("documents.parquet"),
        s"files$PostingFiles") { dir =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("word"))
        .groupBy(col("word"), col("doc_id")).agg(count(lit(1)).as("tf"))
        .repartitionByRange(PostingFiles, col("word"))
        .sortWithinPartitions(col("word"), col("doc_id"))
        .write.parquet(s"$dir/postings")
      docLengths(s, d).write.parquet(s"$dir/doclen")
      docLengths(s, d).agg(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl"))
        .repartition(1).write.parquet(s"$dir/stats")
    }.toString

  /** BM25 against the STORED inverted index: the postings scan
    * carries a pushed `word IN (...)` parquet filter (range-sorted
    * files → row-group skipping), the corpus is never re-tokenized,
    * and the doc-length join touches only matching postings. Must
    * hash-match the same oracle as the direct path.
    */
  val textBm25Indexed: QueryDef = QueryDef.sql("text_bm25_indexed", bm25Oracle) { (s, d) =>
    val idx = invIndexDir(s, d)
    val Array(stats) = s.read.parquet(s"$idx/stats").collect()
    val n = stats.getLong(0)
    val avgdl = stats.getLong(1).toDouble / n
    val tf = s.read.parquet(s"$idx/postings").filter(col("word").isin(QueryTerms: _*))
    bm25Rank(tf, s.read.parquet(s"$idx/doclen"), n, avgdl)
  }

  /** Hybrid retrieval with reciprocal-rank fusion (Cormack, Clarke &
    * Buettcher 2009) — the fusion step every production search stack
    * runs between its lexical and vector legs: a search session
    * carries a text query (the fixed benchmark terms) AND a
    * query-by-example document (vec_id 0's embedding); each leg
    * returns its top-20 — exact BM25 (the bm25 entries' shared float
    * discipline) and exact cosine (the ann_bruteforce discipline,
    * sims rounded to 4dp before ranking) — and RRF scores the
    * candidate union as Σ 1/(60 + rank), a rank-space sum that needs
    * NO score calibration between BM25's unbounded scale and
    * cosine's [−1,1]. Both legs are independent corpus passes (the
    * lexical one shuffles only query-term postings, the dense one is
    * a map-only broadcast-query scan + TakeOrdered); the fusion
    * itself joins two ≤20-row lists — driver-scale, as in any
    * aggregator. Ranks and the 1/(60+r) terms are exact small-int
    * reciprocals in ONE shared rounded expression, so the fused
    * ordering hash-matches DuckDB.
    */
  val textHybridRrf: QueryDef = QueryDef.sql(
    "text_hybrid_rrf",
    s"""WITH $bm25Ctes,
       |lexi AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
       |  FROM ($bm25Select) b),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |dtop AS (
       |  SELECT vec_id AS doc_id,
       |    round(list_dot_product(v, qv)
       |      / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
       |  FROM e CROSS JOIN q WHERE vec_id <> 0
       |  ORDER BY cos_sim DESC, doc_id LIMIT 20),
       |vect AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS r_vec
       |  FROM dtop),
       |fused AS (
       |  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
       |         l.r_lex AS r_lex, v.r_vec AS r_vec,
       |         round(coalesce(1.0 / CAST(60 + l.r_lex AS DOUBLE), 0.0)
       |             + coalesce(1.0 / CAST(60 + v.r_vec AS DOUBLE), 0.0), 6) AS rrf
       |  FROM lexi l FULL OUTER JOIN vect v ON l.doc_id = v.doc_id)
       |SELECT doc_id, CAST(r_lex AS BIGINT) AS r_lex,
       |       CAST(r_vec AS BIGINT) AS r_vec, rrf
       |FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val dl = docLengths(s, d)
    val Array(stats) = dl.agg(count(lit(1)), sum(col("dl"))).collect()
    val n = stats.getLong(0)
    val avgdl = stats.getLong(1).toDouble / n
    // lexical leg: exact BM25 top-20 (≤20 rows → the unpartitioned
    // rank window is driver-scale by construction)
    val lexi = bm25Rank(postingsFor(Tables.documents(s, d), QueryTerms), dl, n, avgdl)
      .withColumn("r_lex",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("doc_id"), col("r_lex"))
    // dense leg: exact cosine top-20 against the broadcast query vector
    val e = Similarity.vectors(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val dtop = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        round(Similarity.cosine(col("v"), col("qv")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("doc_id"))
      .limit(20)
    val vect = dtop
      .withColumn("r_vec",
        row_number().over(Window.orderBy(col("cos_sim").desc, col("doc_id"))))
      .select(col("doc_id").as("v_doc_id"), col("r_vec"))
    lexi.join(vect, col("doc_id") === col("v_doc_id"), "full_outer")
      .select(
        coalesce(col("doc_id"), col("v_doc_id")).as("doc_id"),
        col("r_lex").cast("long").as("r_lex"),
        col("r_vec").cast("long").as("r_vec"),
        round(
          coalesce(lit(1.0) / (lit(60) + col("r_lex")).cast("double"), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("r_vec")).cast("double"), lit(0.0)),
          6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  val all: Seq[QueryDef] = Seq(textBm25, textBm25Indexed, textHybridRrf)
}
