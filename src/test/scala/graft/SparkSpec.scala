package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import scala.util.Try

/** Shared local SparkSession for all specs (one JVM-wide session; sbt runs
  * suites sequentially in a forked JVM), built by [[GraftSession]] so every
  * spec runs under the optimizer config the mains ship.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {

  /** This run's own directory, deleted at JVM exit at a priority (20)
    * below Spark's own hook (40) that stops the context. It holds the
    * warehouse, so managed tables never outlive the run or land in the
    * CWD-relative `spark-warehouse/`, and it becomes `java.io.tmpdir`,
    * the store root `StoreCatalog` reads per call, so no store outlives
    * the run either. The name stays short: store paths show up in plan
    * strings, which Spark abbreviates at 100 characters, and the
    * partition-pruning laws read them.
    */
  private lazy val runDir: Path = {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val pid = ProcessHandle.current().pid()
    val dir = Iterator.from(0).map(i => tmp.resolve(if (i == 0) s"graft-$pid" else s"graft-$pid-$i"))
      .find(p => Try(Files.createDirectory(p)).isSuccess).get
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(() => {
      val paths = Files.walk(dir)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }, 20)
    System.setProperty("java.io.tmpdir", dir.toString)
    dir
  }

  lazy val session: SparkSession = GraftSession.start(
    GraftSession.builder(4)
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString),
    logLevel = "ERROR")
}
