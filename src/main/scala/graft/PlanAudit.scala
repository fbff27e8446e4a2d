package graft

import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.functions.lit

/** Physical-plan dump for any registered query — the `.explain("formatted")`
  * iteration loop the build rules demand, as a one-liner:
  *
  *   sbt "runMain graft.PlanAudit [nameSubstring] [sfDir]"
  *
  * Prints the formatted plan of every SparkEntry query whose name contains
  * the substring (default: all), under the mains' session
  * ([[GraftSession]]) so what you audit is what the mains run.
  *
  * After each plan it also compares the join count of the query's
  * optimized plan against that of its `count()` shape
  * (`df.select(lit(1))`). Where they differ, Catalyst ELIMINATES
  * distinct-keyed left-join legs whose outputs a bare count() never
  * references — correct optimizer behavior, but a timing probe that
  * counts such a frame without a materialization guard measures a
  * smaller plan than it claims to. Round 11 found 15 such shapes this
  * way; `ScaleProbe.guard` is the fix. Plan compilation only, nothing
  * executes.
  */
object PlanAudit {

  private def joins(p: LogicalPlan): Int = p.collect { case j: Join => j }.length

  def main(args: Array[String]): Unit = {
    val sel   = args.headOption.getOrElse("")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession.start()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.contains(sel))
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try {
          val df = fn(spark, sfDir)
          df.explain("formatted")
          val full = joins(df.queryExecution.optimizedPlan)
          val counted = joins(df.select(lit(1)).queryExecution.optimizedPlan)
          if (counted < full)
            println(s"[plan-audit] $name: joins full=$full counted=$counted eliminated=${full - counted}")
        } catch { case e: Throwable => println(s"[plan-audit] $name failed: $e") }
      }
    spark.stop()
  }
}
