package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [name1,name2,...] — the
  * optional third arg restricts the dump (and `oracle_sql.json`) to those
  * queries, so `tools/compare.py` checks exactly the ones under
  * development; the full gate passes exactly two args.
  */
object Verify {

  /** The registry keys a run dumps: every key, or the comma-separated
    * names in `filter`. An unknown or empty filter fails the run instead
    * of writing an empty `oracle_sql.json` that compares as `0/0 passed`.
    */
  private[graft] def select(keys: Set[String], filter: Option[String]): Set[String] =
    filter.fold(keys) { csv =>
      val names = csv.split(',').map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names.diff(keys)
      require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
      require(names.nonEmpty, "empty query filter")
      names
    }

  def main(args: Array[String]): Unit = {
    val sfDir  = args(0)
    val outDir = args(1)
    val names  = select(SparkEntry.queries.keySet, args.lift(2))
    val spark = GraftSession.start()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => names(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally Maintenance.releaseCachedBlocks(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => names(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
