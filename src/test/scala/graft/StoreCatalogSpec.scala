package graft

import graft.analytics.{RetrievalAnalytics, StockAnalytics}
import graft.sources.StoreCatalog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Laws for the one store protocol ([[StoreCatalog]]): a store is keyed by
  * the content of its source, a committed catalog table survives the
  * session that built it, the build gate's crash rules hold, and no other
  * main source names store roots, markers or locks.
  */
class StoreCatalogSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def exists(p: String): Boolean = fs.exists(new Path(p))
  private def touch(p: String): Unit = fs.create(new Path(p)).close()

  /** A fresh directory under this run's temp root. */
  private def scratch(name: String): String = {
    spark // the session owns the run's temp root
    Files.createDirectories(Paths.get(sys.props("java.io.tmpdir"),
      s"store_catalog_spec_${System.nanoTime()}", name)).toString
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a dataset regenerated at the same path is served its own stores, not the old ones") {
    val sf = scratch("sf")
    val docs = s"$sf/documents.parquet"
    Files.copy(Paths.get(dir, "documents.parquet"), Paths.get(docs))
    def servedEqualsInPlan(): Seq[String] = {
      val served = rows(RetrievalAnalytics.phraseSearchServed(spark, sf))
      assert(served.nonEmpty && served == rows(RetrievalAnalytics.phraseSearch(spark, sf)))
      served
    }
    val before = servedEqualsInPlan()
    Files.delete(Paths.get(docs))
    Tables.documents(spark, dir).filter(col("doc_id") % 3 =!= 0).write.parquet(docs)
    assert(servedEqualsInPlan() != before, "the regenerated corpus must change the answer")
  }

  test("ticks_store_scan keeps dirs apart whose paths sanitize alike (a_b vs a/b)") {
    val root = scratch("ticks")
    val dirs = Seq(s"$root/a_b", s"$root/a/b")
    dirs.zipWithIndex.foreach { case (d, i) =>
      Tables.events(spark, dir).filter(col("event_id") % 2 === i)
        .write.parquet(s"$d/events.parquet")
    }
    val answers = dirs.map { d =>
      val inPlan = Tables.ticks(spark, d)
        .withColumn("tick_date", to_date(col("event_time")))
        .filter(col("tick_date").between(
          lit("2024-01-10").cast("date"), lit("2024-01-19").cast("date"))
          && col("symbol") === "CLICK")
        .groupBy(col("tick_date"))
        .agg(
          count(lit(1)).as("n_ticks"),
          sum(coalesce(col("volume"), lit(0L))).as("volume_sum"),
          min(col("price")).cast("double").as("price_lo"),
          max(col("price")).cast("double").as("price_hi"))
      val served = rows(StockAnalytics.ticksStoreScan(spark, d))
      assert(served.nonEmpty && served == rows(inPlan), d)
      served
    }
    assert(answers.distinct.size == 2, "the two dirs must hold different ticks")
  }

  test("after DROP TABLE (a new session's catalog) bm25_search_served reuses its store") {
    val before = rows(RetrievalAnalytics.bm25SearchServed(spark, dir))
    val key = StoreCatalog.key(spark, dir)
    val built = StoreCatalog.root("graft_hybrid_store", key) + "/_GRAFT_BUILT"
    val committedAt = fs.getFileStatus(new Path(built)).getModificationTime
    val table = s"hybrid_postings_$key"
    spark.sql(s"DROP TABLE $table")
    assert(rows(RetrievalAnalytics.bm25SearchServed(spark, dir)) == before)
    assert(fs.getFileStatus(new Path(built)).getModificationTime == committedAt,
      "the store was rebuilt instead of re-attached")
    // the re-attached table keeps its bucketing: a term-keyed aggregate
    // reads co-located buckets, no exchange
    val plan = spark.table(table).groupBy(col("term")).agg(sum(col("score")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true") && !plan.contains("Exchange"), plan)
  }

  private val group = "graft_store_catalog_spec"

  test("gate: a root holding _GRAFT_BUILDING and partial files is wiped and rebuilt") {
    val key = "interrupted_" + System.nanoTime()
    val root = StoreCatalog.root(group, key)
    touch(s"$root/_GRAFT_BUILDING")
    touch(s"$root/data/part-partial")
    var builds = 0
    def gate() = StoreCatalog.ensureBuilt(spark, group, key) { r =>
      builds += 1
      touch(s"$r/data/part-complete")
    }
    assert(gate() == root && builds == 1)
    assert(!exists(s"$root/data/part-partial") && exists(s"$root/data/part-complete"))
    assert(exists(s"$root/_GRAFT_BUILT") && !exists(s"$root/_GRAFT_BUILDING"))
    gate()
    assert(builds == 1, "a committed root is served, not rebuilt")
  }

  test("gate: a root with content but neither marker is refused and left alone") {
    val key = "foreign_" + System.nanoTime()
    val root = StoreCatalog.root(group, key)
    touch(s"$root/someone_elses_file")
    intercept[IllegalArgumentException] {
      StoreCatalog.ensureBuilt(spark, group, key)(_ => fail("built over a foreign root"))
    }
    assert(exists(s"$root/someone_elses_file") && !exists(s"$root/_GRAFT_BUILT"))
  }

  test("gate: a stale _GRAFT_BUILDING beside _GRAFT_BUILT is cleared, the store kept") {
    val key = "stale_intent_" + System.nanoTime()
    val root = StoreCatalog.root(group, key)
    touch(s"$root/data/part-0")
    touch(s"$root/_GRAFT_BUILT")
    touch(s"$root/_GRAFT_BUILDING")
    StoreCatalog.ensureBuilt(spark, group, key)(_ => fail("rebuilt a committed root"))
    assert(!exists(s"$root/_GRAFT_BUILDING"))
    assert(exists(s"$root/_GRAFT_BUILT") && exists(s"$root/data/part-0"))
  }

  test("StoreCatalog.scala is the only main source naming store roots, markers, catalog checks or locks") {
    val src = Paths.get("src/main")
    assert(Files.isDirectory(src), s"run from the repo root, not ${Paths.get("").toAbsolutePath}")
    val banned = Seq("tableExists(", "java.io.tmpdir", "_GRAFT_BUILT", "CRC32")
    val lock = """=\s*new\s+Object\b""".r
    val files = Files.walk(src)
    val offenders =
      try files.iterator.asScala.filter(Files.isRegularFile(_)).flatMap { p =>
          val text = Files.readString(p)
          (banned.filter(text.contains) ++ lock.findFirstIn(text).map(_ => "new Object lock"))
            .map(what => s"${src.relativize(p)}: $what")
        }.toList
      finally files.close()
    assert(offenders.forall(_.startsWith("scala/graft/sources/StoreCatalog.scala:")),
      offenders.mkString("\n"))
  }
}
