package graft

import java.io.File
import java.nio.file.{Files, Path => JPath}
import org.apache.spark.sql.functions.col
import org.scalatest.exceptions.TestFailedException
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._
import graft.sources.{SourceOps, Warehouse}

/** Round-10 (r9 verdict item 5): stale fingerprinted warehouse
  * artifacts are garbage-collected. Every artifact now carries a
  * `_graft_meta` provenance sidecar (corpus dir, base tables, hash
  * salt); a build MISS triggers a sweep that drops any artifact
  * whose recorded corpus no longer fingerprints to the hash in its
  * name — the regenerate-the-corpus-forever leak (r9: 341 MB of
  * dead `graft_*` variants from prior corpus generations).
  */
class WarehouseGcSpec extends AnyFunSuite {
  import TestSpark._

  private def warehouseDir: File = {
    val raw = spark.conf.get("spark.sql.warehouse.dir")
    new File(new java.net.URI(raw).getPath)
  }

  private def artifacts(prefix: String): Set[String] =
    Option(warehouseDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .map(_.getName).toSet

  private def rmTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree); f.delete()
  }

  test("regenerating the corpus collects the stale artifact on re-stage") {
    // start clean: a PREVIOUS session's run of this test leaves its
    // temp corpus alive in /tmp, so its artifact is legitimately
    // non-stale and would make the size-1 asserts below read 2
    // (observed when the suite ran twice in one sandbox)
    artifacts("graft_gcspec_").foreach(n => rmTree(new File(warehouseDir, n)))
    val corpusDir = Files.createTempDirectory("graft_gc_corpus").toFile
    val corpus = corpusDir.getAbsolutePath
    try {
      spark.range(10).toDF("x").write.parquet(s"$corpus/t.parquet")
      def stage() = graft.sources.Warehouse
        .staged(spark, corpus, "gcspec", Seq("t.parquet")) {
          spark.read.parquet(s"$corpus/t.parquet")
        }
      assert(stage().count() === 10)
      val a1 = artifacts("graft_gcspec_")
      assert(a1.size === 1, s"expected one artifact, saw $a1")
      // the sidecar provenance must exist (it is what makes GC possible)
      assert(new File(warehouseDir, s"${a1.head}/_graft_meta").exists())
      // regenerate the corpus in place: size changes => new fingerprint
      Thread.sleep(1100) // mtime granularity guard
      spark.range(25).toDF("x").write.mode("overwrite").parquet(s"$corpus/t.parquet")
      assert(stage().count() === 25)
      val a2 = artifacts("graft_gcspec_")
      assert(a2.size === 1 && a2 != a1,
        s"stale artifact survived the rebuild sweep: $a1 -> $a2")
    } finally rmTree(corpusDir)
    // with the corpus gone the surviving artifact is stale; leave the
    // warehouse as we found it (and prove deleted-corpus staleness
    // again on the way out)
    graft.sources.Warehouse.gcStale(spark)
    assert(artifacts("graft_gcspec_").isEmpty)
  }

  test("metaless complete artifacts (pre-provenance) are collected") {
    val legacy = new File(warehouseDir, "graft_gclegacy_deadbeef")
    legacy.mkdirs()
    Files.writeString(new File(legacy, "_SUCCESS").toPath, "")
    graft.sources.Warehouse.gcStale(spark)
    assert(!legacy.exists(), "metaless complete artifact must be dropped")
  }

  test("half-built artifacts (no _SUCCESS) are left for their builder") {
    val half = new File(warehouseDir, "graft_gchalf_deadbeef")
    half.mkdirs()
    Files.writeString(new File(half, "part-0.parquet").toPath, "x")
    graft.sources.Warehouse.gcStale(spark)
    assert(half.exists(), "in-flight build must not be swept")
    // cleanup so reruns start clean
    new File(half, "part-0.parquet").delete(); half.delete()
  }

  test("an artifact whose corpus dir is gone is stale") {
    val corpus = Files.createTempDirectory("graft_gc_gone").toFile.getAbsolutePath
    spark.range(5).toDF("x").write.parquet(s"$corpus/t.parquet")
    graft.sources.Warehouse
      .staged(spark, corpus, "gcgone", Seq("t.parquet")) {
        spark.read.parquet(s"$corpus/t.parquet")
      }.count()
    assert(artifacts("graft_gcgone_").size === 1)
    // delete the corpus, then sweep
    def rm(f: File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
    }
    rm(new File(corpus))
    graft.sources.Warehouse.gcStale(spark)
    assert(artifacts("graft_gcgone_").isEmpty,
      "artifact of a deleted corpus must be collected")
  }

  private def copyTree(from: JPath, to: JPath): Unit =
    Files.walk(from).forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }

  /** Warehouse artifacts (dir names) whose provenance records `corpus`. */
  private def artifactsOf(corpus: String, prefixes: Seq[String]): Set[String] =
    prefixes.flatMap(artifacts).filter { n =>
      val m = new File(warehouseDir, s"$n/_graft_meta")
      m.exists() && Files.readAllLines(m.toPath).get(0) == corpus
    }.toSet

  /** One artifact family: the dir prefixes it owns, the base tables a
    * regeneration rewrites (with the key whose every third value it
    * drops), and public entries that read the artifact.
    */
  private case class Family(name: String, prefixes: Seq[String],
      tables: Seq[(String, String)], entries: Seq[QueryDef])

  private def layoutRows(layout: (org.apache.spark.sql.SparkSession, String) => String) =
    QueryDef.rowsOnly("layout_rows") { (s, d) =>
      s.read.parquet(layout(s, d)).agg(org.apache.spark.sql.functions.count("*"),
        org.apache.spark.sql.functions.sum("l_orderkey"))
    }

  private val families = Seq(
    // ann_ivf and ann_pq read the in-JVM centroid/codebook caches
    Family("ann_idx", Seq("graft_ann_idx_"), Seq("embeddings.parquet" -> "vec_id"),
      Seq(Similarity.annIvfPqPersisted, Similarity.annIvf, Similarity.annPq)),
    Family("dedup_idx", Seq("graft_dedup_idx_"), Seq("documents.parquet" -> "doc_id"),
      Seq(Dedup.dedupIncrementalIndexed)),
    Family("inv_idx", Seq("graft_inv_idx_"), Seq("documents.parquet" -> "doc_id"),
      Seq(Retrieval.textBm25Indexed)),
    Family("li_b/ord_b", Seq("graft_li_b_", "graft_ord_b_"),
      Seq("lineitem.parquet" -> "l_orderkey", "orders.parquet" -> "o_orderkey"),
      Seq(RelationalExt.qBucketedJoin)),
    // the layouts' box probes are empty at sf0.001: also read the
    // layout itself
    Family("li_zorder", Seq("graft_li_zorder_"), Seq("lineitem.parquet" -> "l_orderkey"),
      Seq(SourceOps.srcZorderScan, layoutRows(SourceOps.zorderedLineitem))),
    Family("li_hilbert", Seq("graft_li_hilbert_"), Seq("lineitem.parquet" -> "l_orderkey"),
      Seq(SourceOps.srcHilbertScan, layoutRows(SourceOps.hilbertLineitem))),
    Family("li_mfdata/li_manifest", Seq("graft_li_mfdata_", "graft_li_manifest_"),
      Seq("lineitem.parquet" -> "l_orderkey"),
      Seq(SourceOps.srcManifestScan)),
    Family("hll", Seq("graft_hll_"), Seq("orders.parquet" -> "o_orderkey"),
      Seq(RelationalMore.qHllPartitioned)),
    Family("kmv", Seq("graft_kmv_"), Seq("events.parquet" -> "event_id"),
      Seq(Profile.sketchKmvDaily)),
    Family("supply_b", Seq("graft_supply_b_"), Seq("lineitem.parquet" -> "l_orderkey"),
      Seq(Tpch.q9Profit)))

  /** Regenerate-in-place for one family; throws on the first broken
    * property.
    */
  private def regenerateInPlace(f: Family): Unit = {
    val a = Files.createTempDirectory("graft_regen")
    val b = Files.createTempDirectory("graft_regen_copy")
    try {
      copyTree(java.nio.file.Paths.get(sf), a)
      def run(corpus: JPath) = f.entries.map(q =>
        q.fn(spark, corpus.toString).collect().map(_.toString).sorted.toSeq)
      val before = run(a)
      val old = artifactsOf(a.toString, f.prefixes)
      assert(old.size === f.prefixes.size, s"artifacts before: $old")
      // overwrite the base tables in place with different content
      f.tables.foreach { case (t, key) =>
        spark.read.parquet(s"$sf/$t").filter(col(key) % 3 =!= 1)
          .write.mode("overwrite").parquet(s"$a/$t")
      }
      val after = run(a)
      val rebuilt = artifactsOf(a.toString, f.prefixes)
      assert(rebuilt.size === f.prefixes.size && (rebuilt & old).isEmpty,
        s"artifact names did not change: $old -> $rebuilt")
      assert(old.forall(n => !new File(warehouseDir, n).exists()),
        s"stale artifacts survived the rebuild: $old")
      assert(after != before, "regeneration did not change the entry output")
      // a pristine copy of the regenerated corpus builds from scratch
      copyTree(a, b)
      assert(after === run(b), "entry output does not follow the new corpus")
      val metaless = artifacts("graft_")
        .filterNot(n => new File(warehouseDir, s"$n/_graft_meta").exists())
      assert(metaless.isEmpty, s"warehouse dirs without _graft_meta: $metaless")
    } finally { rmTree(a.toFile); rmTree(b.toFile) }
  }

  test("regenerating a corpus in place rebuilds every artifact family") {
    val failed = families.flatMap { f =>
      try { regenerateInPlace(f); None }
      catch { case e: TestFailedException => Some(s"${f.name}: ${e.getMessage}") }
    }
    Warehouse.gcStale(spark) // collect the deleted corpora's artifacts
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("a failed build leaves no dir; a race loser returns the winner's dir") {
    val corpusDir = Files.createTempDirectory("graft_gc_atomic").toFile
    val corpus = corpusDir.getAbsolutePath
    def dirsNamed(part: String): Set[String] =
      Option(warehouseDir.listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.contains(part)).toSet
    try {
      spark.range(10).toDF("x").write.parquet(s"$corpus/t.parquet")
      intercept[IllegalStateException] {
        Warehouse.artifact(spark, corpus, "gcatomic", Seq("t.parquet")) { p =>
          spark.range(3).write.parquet(p.toString)
          throw new IllegalStateException("build failed mid-write")
        }
      }
      assert(dirsNamed("gcatomic").isEmpty, "a failed build left a dir behind")
      var builds = 0
      val built = Warehouse.artifact(spark, corpus, "gcatomic", Seq("t.parquet")) { p =>
        builds += 1; spark.range(3).write.parquet(p.toString)
      }
      assert(builds === 1 && Warehouse.isBuilt(spark, built))
      assert(spark.read.parquet(built.toString).count() === 3)
      assert(dirsNamed("gcatomic") === Set(built.getName))

      // another process completes the final dir while this one builds
      val fin = Warehouse.locate(spark, corpus, "gcrace", Seq("t.parquet"))
      val got = Warehouse.artifact(spark, corpus, "gcrace", Seq("t.parquet")) { p =>
        spark.range(3).write.parquet(p.toString)
        spark.range(5).write.parquet(fin.toString)
        Warehouse.writeMeta(spark, fin, corpus, Seq("t.parquet"), "")
      }
      assert(got === fin)
      assert(spark.read.parquet(got.toString).count() === 5, "the winner's files were replaced")
      val finDir = new File(warehouseDir, fin.getName)
      assert(!finDir.listFiles().exists(_.isDirectory), "the loser's dir was nested into the winner's")
      assert(dirsNamed("gcrace") === Set(fin.getName))
      // a complete final dir is a hit: no rebuild
      Warehouse.artifact(spark, corpus, "gcrace", Seq("t.parquet")) { _ =>
        fail("rebuilt a complete artifact")
      }
    } finally rmTree(corpusDir)
    Warehouse.gcStale(spark)
    assert(dirsNamed("gcatomic").isEmpty && dirsNamed("gcrace").isEmpty)
  }

  test("a layout-constant (salt) change rebuilds and collects the superseded artifact") {
    val corpusDir = Files.createTempDirectory("graft_gc_salt").toFile
    val corpus = corpusDir.getAbsolutePath
    try {
      spark.range(4).toDF("x").write.parquet(s"$corpus/t.parquet")
      def build(salt: String) = Warehouse.artifact(spark, corpus, "gcsalt", Seq("t.parquet"), salt) {
        p => spark.range(4).write.parquet(p.toString)
      }.getName
      val v1 = build("buckets8")
      val v2 = build("buckets16")
      assert(v1 != v2)
      assert(artifacts("graft_gcsalt_") === Set(v2), "the old-layout artifact survived")
    } finally rmTree(corpusDir)
    Warehouse.gcStale(spark)
    assert(artifacts("graft_gcsalt_").isEmpty)
  }
}
