package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import java.util.Comparator

/** Shared local SparkSession for all specs (one JVM-wide session; sbt runs
  * suites sequentially in a forked JVM), built by [[GraftSession]] so every
  * spec runs under the optimizer config the mains ship.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {

  /** This run's own warehouse, so managed tables never outlive the run or
    * land in the CWD-relative `spark-warehouse/`. Deleted at JVM exit, at
    * a priority (20) below Spark's own hook (40) that stops the context.
    */
  private lazy val warehouse: Path = {
    val dir = Files.createTempDirectory("graft-warehouse-")
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(() => {
      val paths = Files.walk(dir)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }, 20)
    dir
  }

  lazy val session: SparkSession = GraftSession.start(
    GraftSession.builder(4)
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir", warehouse.toString),
    logLevel = "ERROR")
}
