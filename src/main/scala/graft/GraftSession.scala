package graft

import org.apache.spark.sql.SparkSession

/** The one session policy every main and the test suite run under, so a
  * plan law is checked under the same optimizer config the mains ship.
  * [[builder]] returns the configured builder, so a caller can add
  * deployment settings (an app name, a warehouse dir) before [[start]].
  */
object GraftSession {

  /** Local slots: `SPARK_GRAFT_CPUS`, else every available processor. */
  private lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(cores: Int = cpus): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    // events.parquet stores TIMESTAMP(NANOS); read as Long, normalized
    // to µs in Tables.events (matches DuckDB's ns→µs truncation).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Constraint inference wraps heavy HOF join keys (minhash/simhash
    // folds) in inferred isnotnull filters that get pushed into the
    // scan — recomputing the fold 2-3x per row. The inferred filters
    // save nothing on this workload.
    .config("spark.sql.constraintPropagation.enabled", "false")
    // see GraftExtensions.ExcludedRule
    .config("spark.sql.optimizer.excludedRules", GraftExtensions.ExcludedRule)
    // native functions and the as-of join strategy
    .config("spark.sql.extensions", classOf[GraftExtensions].getName)
    .config("spark.ui.enabled", "false")

  /** Build the session, set its log level and silence the known-benign
    * warnings ([[Maintenance.quietKnownWarnSpam]]).
    */
  def start(b: SparkSession.Builder = builder(), logLevel: String = "WARN"): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    Maintenance.quietKnownWarnSpam()
    spark
  }
}
