package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one build-once store protocol. Every serving tier persists derived
  * artifacts under `<java.io.tmpdir>/<group>/<key>` and reaches them only
  * through this object:
  *
  *  - [[key]] names a source by CONTENT: a fingerprint of its canonical
  *    path and of every file under it (relative name, length, mtime). A
  *    dataset regenerated at the same path gets a new key, so it never
  *    reads the stores of the data it replaced.
  *  - [[ensureBuilt]] is the one gate, the commit-log rule of a streaming
  *    sink: a root is served only once `_GRAFT_BUILT` landed, which
  *    happens after `build` returned. A `_GRAFT_BUILDING` intent marker
  *    is written first, so a killed build leaves a root that the next
  *    call wipes and rebuilds instead of serving.
  *  - [[Table]] is a bucketed catalog table whose files live under a
  *    store root. The in-memory catalog forgets tables at JVM exit; the
  *    files do not, so a new session re-attaches the committed files
  *    instead of rebuilding them.
  *
  * Builds run under one JVM-wide reentrant lock (a build may resolve the
  * stores it derives from). Every check goes through the Hadoop FS API,
  * because the store root need not be local.
  */
object StoreCatalog {

  private val lock = new Object

  private val Built    = "_GRAFT_BUILT"
  private val Building = "_GRAFT_BUILDING"

  /** Store root for `group/key`. The tmpdir is read per call, so a caller
    * may re-point it (the test suite and the benchmark use per-run roots).
    */
  private[graft] def root(group: String, key: String): String =
    sys.props("java.io.tmpdir").stripSuffix("/") + "/" + group + "/" + key

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Short hex fingerprint of the file or directory at `path`: its
    * qualified path plus the relative name, length and mtime of every
    * file under it. Distinct paths never share a key, and rewriting any
    * file changes it.
    */
  def key(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val pfs = fs(spark, p)
    val top = pfs.makeQualified(p).toString
    val files = pfs.listFiles(p, true)
    val entries = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .map(f => s"${f.getPath.toString.stripPrefix(top)}|${f.getLen}|${f.getModificationTime}")
      .toSeq.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (top +: entries).foreach(e => md.update((e + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** The root of store `group/key`, running `build(root)` first unless a
    * build already committed there.
    *
    * The root belongs to this protocol alone: `build` writes every byte
    * under it, and recovery wipes a root only when it carries
    * `_GRAFT_BUILDING` (this protocol's own interrupted build). A root
    * with content but neither marker was written by someone else, or the
    * key is mispointed; deleting it would be silent data loss, so the
    * call fails instead. A `_GRAFT_BUILDING` beside `_GRAFT_BUILT` is the
    * crash window between the two marker writes, and is cleared.
    */
  def ensureBuilt(spark: SparkSession, group: String, key: String)(
      build: String => Unit): String = lock.synchronized {
    val dir = root(group, key)
    val r = new Path(dir)
    val rfs = fs(spark, r)
    val built = new Path(r, Built)
    val building = new Path(r, Building)
    if (rfs.exists(built)) {
      if (rfs.exists(building)) rfs.delete(building, false)
    } else {
      if (rfs.exists(r)) {
        val contents = rfs.listStatus(r)
        require(contents.isEmpty || rfs.exists(building),
          s"$dir has content but neither $Built nor $Building: it was not " +
            "written by the store protocol, so it is not deleted. If it is " +
            "an old store, delete it and re-run; otherwise the key is mispointed")
        if (contents.nonEmpty) rfs.delete(r, true)
      }
      rfs.create(building, true).close()
      build(dir)
      rfs.create(built, true).close()
      rfs.delete(building, false)
    }
    dir
  }

  /** A one-artifact store: `df` written once under root `group/key`,
    * read back.
    */
  def parquet(spark: SparkSession, group: String, key: String)(
      df: => DataFrame): DataFrame = {
    val dir = ensureBuilt(spark, group, key)(r => df.write.parquet(r + "/data"))
    spark.read.parquet(dir + "/data")
  }

  /** A catalog table bucketed and bucket-sorted on `by`, with its files
    * at `path` under a store root. [[write]] runs inside the root's
    * build; [[attach]] resolves the table in any session after it.
    */
  final case class Table(name: String, path: String, buckets: Int, by: String) {

    def write(df: DataFrame): Unit = {
      df.sparkSession.sql(s"DROP TABLE IF EXISTS $name")
      df.write.mode("overwrite").bucketBy(buckets, by).sortBy(by).format("parquet")
        .option("path", path).saveAsTable(name)
    }

    /** The table name, registering the committed files with the same
      * bucketing when this session's catalog lacks the table or points it
      * elsewhere. Spark requires the column list for a bucketed table, so
      * it is read from the files.
      */
    def attach(spark: SparkSession): String = lock.synchronized {
      val loc = { val p = new Path(path); fs(spark, p).makeQualified(p) }
      val catalog = spark.sessionState.catalog
      val id = TableIdentifier(name)
      if (!catalog.tableExists(id) ||
          new Path(catalog.getTableMetadata(id).location) != loc) {
        spark.sql(s"DROP TABLE IF EXISTS $name")
        spark.sql(s"CREATE TABLE $name (${spark.read.parquet(path).schema.toDDL}) " +
          s"USING parquet CLUSTERED BY ($by) SORTED BY ($by) INTO $buckets BUCKETS " +
          s"LOCATION '$loc'")
      }
      name
    }
  }
}
