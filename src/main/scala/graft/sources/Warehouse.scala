package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Once-per-corpus derived artifacts under the warehouse dir — the
  * ONE contract behind every index, sketch table, data layout and
  * staged relation graft derives from a corpus (graph edges, dedup
  * shingles and LSH buckets, text tf and BM25 postings, ANN
  * codebooks, HLL/KMV sketches, bucketed/z-order/Hilbert/manifest
  * layouts):
  *
  *  - CONTENT key: an artifact lives at
  *    `<warehouse>/graft_<name>_<md5_8(fingerprint(tables) + salt)>`,
  *    where the fingerprint is the corpus dir plus total size and max
  *    mtime of its base tables (one listing). Regenerating the corpus
  *    in place changes the name, so no reader can be served an
  *    artifact of the old corpus — the way a real ingest invalidates
  *    its downstream tables.
  *  - SALT = the family's layout constants (bucket count and columns,
  *    file counts, IVF/PQ shape, sketch size): changing a constant
  *    rebuilds the artifact instead of reusing files written under
  *    the old layout.
  *  - ATOMIC: `build` writes into a temporary sibling dir, the
  *    `_graft_meta` provenance sidecar is written there, and the dir
  *    is renamed into place. A final-named dir is therefore always
  *    complete; a failed build leaves nothing behind, and a process
  *    that loses a build race discards its copy and returns the
  *    winner's.
  *  - GC on a miss: every build sweeps artifacts whose recorded
  *    corpus no longer fingerprints to the hash in their name.
  */
object Warehouse {

  private val Meta = "_graft_meta"

  private def root(s: SparkSession): Path =
    new Path(s.conf.get("spark.sql.warehouse.dir"))

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Content fingerprint of `tables` under corpus dir `d`. */
  private def fingerprint(s: SparkSession, d: String, tables: Seq[String]): String = {
    val base = new Path(d)
    val fs = fsOf(s, base)
    val stats =
      if (!fs.exists(base)) Seq.empty
      else tables.flatMap { t =>
        val p = new Path(base, t)
        if (fs.exists(p)) {
          val it = fs.listFiles(p, true)
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          while (it.hasNext) { val f = it.next(); buf += ((f.getLen, f.getModificationTime)) }
          buf.toSeq
        } else Seq.empty
      }
    val maxMtime = if (stats.isEmpty) 0L else stats.map(_._2).max
    s"$d|${stats.map(_._1).sum}|$maxMtime"
  }

  private def md5_8(fp: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(fp.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)

  /** The final dir of artifact `name` over `tables` of corpus `d` —
    * where `artifact` puts it, whether or not it is built yet. Its
    * name carries the content hash, so it doubles as an in-JVM cache
    * key that follows the corpus.
    */
  def locate(s: SparkSession, d: String, name: String, tables: Seq[String],
      salt: String = ""): Path =
    new Path(root(s), s"graft_${name}_${md5_8(fingerprint(s, d, tables) + salt)}")

  /** True iff `dir` is a complete artifact (only a rename of a
    * finished build puts `_graft_meta` under a final name).
    */
  def isBuilt(s: SparkSession, dir: Path): Boolean =
    fsOf(s, dir).exists(new Path(dir, Meta))

  /** Provenance sidecar written INSIDE each artifact dir (underscore
    * prefix: parquet readers ignore it, like _SUCCESS): the corpus
    * dir, the fingerprinted base tables, and the salt. Enough to
    * recompute the artifact's expected hash later, which is what
    * makes stale artifacts COLLECTIBLE.
    */
  private[graft] def writeMeta(s: SparkSession, dir: Path, d: String, tables: Seq[String],
      salt: String): Unit = {
    val out = fsOf(s, dir).create(new Path(dir, Meta), true)
    out.write(s"$d\n${tables.mkString(",")}\n$salt\n".getBytes("UTF-8"))
    out.close()
  }

  /** Build-once-read-many artifact dir (see the object doc): returns
    * the complete final dir, calling `build(tmp)` to write its
    * contents into a fresh temporary path iff it does not exist yet.
    */
  def artifact(s: SparkSession, d: String, name: String, tables: Seq[String],
      salt: String = "")(build: Path => Unit): Path = synchronized {
    val dir = locate(s, d, name, tables, salt)
    val fs = fsOf(s, dir)
    if (!isBuilt(s, dir)) {
      // a metaless dir under a final name predates this contract
      fs.delete(dir, true)
      val tmp = new Path(dir.getParent,
        s"tmp_${dir.getName}_${java.util.UUID.randomUUID().toString.take(8)}")
      try {
        build(tmp)
        writeMeta(s, tmp, d, tables, salt)
        // Hadoop moves a dir INTO an existing dst: if another process
        // renamed first, keep its copy and drop any nested one of ours
        if (!fs.exists(dir)) fs.rename(tmp, dir)
        fs.delete(new Path(dir, tmp.getName), true)
      } finally fs.delete(tmp, true)
      gcStale(s, Some(dir -> d)) // a build miss means a key moved: sweep now
    }
    dir
  }

  /** A parquet relation staged as an artifact. */
  def staged(s: SparkSession, d: String, name: String, tables: Seq[String],
      salt: String = "")(build: => DataFrame): DataFrame =
    s.read.parquet(artifact(s, d, name, tables, salt) { p =>
      build.write.parquet(p.toString)
    }.toString)

  /** A relation staged as a BUCKETED table artifact: bucket files
    * (Spark's bucket-id file naming) are written by the build, and
    * the catalog entry is registered over the final dir on a hit and
    * on a miss alike, so its CLUSTERED BY always describes the files
    * on disk (the bucket spec is the salt). Returns the table name.
    */
  def bucketed(s: SparkSession, d: String, name: String, tables: Seq[String],
      buckets: Int, cols: Seq[String])(build: => DataFrame): String = {
    val by = cols.mkString(", ")
    val spec = s"CLUSTERED BY ($by) SORTED BY ($by) INTO $buckets BUCKETS"
    val dir = artifact(s, d, name, tables, spec) { p =>
      // bucketBy needs a catalog table: write through a throwaway
      // external one (dropping it keeps the files)
      val t = p.getName
      try build.write.bucketBy(buckets, cols.head, cols.tail: _*)
        .sortBy(cols.head, cols.tail: _*)
        .option("path", p.toString).saveAsTable(t)
      finally s.sql(s"DROP TABLE IF EXISTS `$t`")
    }
    val t = dir.getName
    if (!s.catalog.tableExists(t))
      s.sql(s"CREATE TABLE $t (${s.read.parquet(dir.toString).schema.toDDL}) " +
        s"USING parquet $spec LOCATION '$dir'")
    t
  }

  /** Garbage-collect stale artifacts: a `graft_*_<8hex>` dir is stale
    * when its `_graft_meta` records a corpus that no longer
    * fingerprints to the hash in its name (regenerated or deleted
    * corpus), when it is superseded by the artifact `built` just
    * built for corpus `d` (same name and corpus, another salt — a
    * layout constant changed), or when it is complete but has no
    * meta at all (built before this contract; the next touch rebuilds
    * it with meta). Dirs with neither meta nor `_SUCCESS` are not
    * ours to judge. Runs on build MISSES only, so steady-state reads
    * never pay the listing.
    */
  def gcStale(s: SparkSession, built: Option[(Path, String)] = None): Unit = synchronized {
    def family(n: String) = n.dropRight(9)
    // artifacts of one corpus share few table sets: list each once
    val fps = scala.collection.mutable.Map.empty[(String, String), String]
    val wh = root(s)
    val fs = fsOf(s, wh)
    if (!fs.exists(wh)) return
    for (st <- fs.listStatus(wh) if st.isDirectory) {
      val dir = st.getPath
      val nm = dir.getName
      if (nm.matches("graft_.+_[0-9a-f]{8}")) {
        val stale =
          if (isBuilt(s, dir)) {
            val in = fs.open(new Path(dir, Meta))
            val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toArray
              finally in.close()
            lines.length < 2 || built.exists { case (b, d) =>
              lines(0) == d && family(nm) == family(b.getName) && nm != b.getName
            } || {
              val salt = if (lines.length > 2) lines(2) else ""
              val fp = fps.getOrElseUpdate((lines(0), lines(1)),
                fingerprint(s, lines(0), lines(1).split(",").toSeq))
              md5_8(fp + salt) != nm.takeRight(8)
            }
          } else fs.exists(new Path(dir, "_SUCCESS")) ||
            fs.listStatus(dir).exists(c =>
              c.isDirectory && fs.exists(new Path(c.getPath, "_SUCCESS")))
        if (stale) {
          fs.delete(dir, true)
          if (s.catalog.tableExists(nm)) s.sql(s"DROP TABLE `$nm`")
        }
      }
    }
  }
}
