package graft

import graft.plans.{AsofJoin, AsofJoinExec}
import org.apache.spark.sql.graftops.PlanUtils

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The test session is the shipped session. A child session inherits the
  * builder's config and extensions but none of `GraftExtensions.register`'s
  * runtime effects on the shared session, so these checks hold whichever
  * spec ran first.
  */
class GraftSessionSpec extends SparkSpec {

  private lazy val shipped = spark.newSession()

  test("the test session carries the shipped optimizer config") {
    assert(shipped.conf.get("spark.sql.constraintPropagation.enabled") == "false")
    assert(shipped.conf.get("spark.sql.optimizer.excludedRules")
      .split(",").map(_.trim).contains(GraftExtensions.ExcludedRule))
  }

  test("native functions resolve in SQL") {
    assert(shipped.sql("SELECT vec_dot(array(1F, 2F), array(3F, 4F))").head().getDouble(0) == 11.0)
  }

  test("an as-of join plans to the AsofJoin strategy's exec node") {
    import spark.implicits._
    val left  = Seq(("A", 2L)).toDF("k", "lt")
    val right = Seq(("A", 1L, 1.0)).toDF("k", "rt", "v")
    val asof  = AsofJoin.asofJoin(left, right, "k", "lt", "rt").queryExecution.logical
    val plan  = PlanUtils.ofRows(shipped, asof).queryExecution.sparkPlan
    assert(plan.collectFirst { case e: AsofJoinExec => e }.nonEmpty, plan.treeString)
  }

  test("GraftSession.scala is the only source that builds a session") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"run from the repo root, not ${Paths.get("").toAbsolutePath}")
    val builds = """SparkSession\s*\.\s*builder""".r
    val files = Files.walk(src)
    val builders =
      try files.iterator.asScala
        .filter(p => Files.isRegularFile(p) && builds.findFirstIn(Files.readString(p)).nonEmpty)
        .map(p => src.relativize(p).toString).toList
      finally files.close()
    assert(builders == List("main/scala/graft/GraftSession.scala"))
  }
}
