package perfbench

import graft.{Maintenance, SparkEntry}
import graft.api.QueryMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** JVM side of the benchmark: runs one workload against the program's
  * public entry points and writes raw observations (samples, counters,
  * spans, jobs) to `<out>/raw.json`. `run.py` reduces them to metrics,
  * checks outputs against the DuckDB oracle and prints the result line.
  *
  * Arguments: workload seed seconds trace(0|1) cores dataDir outDir
  */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, coresS, dataDir, outDir) = args
    val cfg = Config(workload, seedS.toLong, secondsS.toDouble, traceS == "1", coresS.toInt,
      dataDir, outDir)
    val wl: Workload = workload match {
      case "api_serving"    => new ApiServing(cfg)
      case "tick_stream"    => new TickStream(cfg)
      case other            => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = new Out
    val t0 = System.nanoTime()
    val spark = Session.start(cfg, cfg.cores)
    out.counter("session_start_s", (System.nanoTime() - t0) / 1e9)
    try wl.run(spark, out)
    finally spark.stop()
    out.counter("peak_rss_mb", Session.peakRssMb())
    Files.writeString(Paths.get(outDir, "raw.json"), out.json)
  }
}

final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
    cores: Int, dataDir: String, outDir: String) {
  /** Per-run state root (stores, warehouse, sinks); run.py deletes it. */
  def stateDir: String = s"$outDir/state"
}

/** Raw observations of one run. */
final class Out {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val counters = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  /** Measured operations attempted, by operation name (a key, or the
    * stream's batches and checks).
    */
  val attempts = mutable.LinkedHashMap.empty[String, Long]
  var spans: Seq[Span] = Nil
  var jobs: Seq[JobStats] = Nil
  var phases: Seq[(Long, String, Double)] = Nil

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v
  def counter(name: String, v: Any): Unit = counters(name) = v
  def attempt(op: String, n: Long = 1): Unit = attempts(op) = attempts.getOrElse(op, 0L) + n
  def fail(op: String, why: String): Unit = {
    System.err.println(s"[perfbench] FAILED $op: $why")
    failures += ((op, why))
  }

  def json: String = Json(Map(
    "attempts" -> attempts,
    "failures" -> failures.map { case (o, w) => Map("op" -> o, "why" -> w) },
    "samples" -> samples,
    "counters" -> counters,
    "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "layer" -> s.layer, "name" -> s.name, "start" -> s.startMs, "end" -> s.endMs)),
    "jobs" -> jobs.map(j => Map("span" -> j.span, "site" -> j.callSite, "loader" -> j.loader,
      "start" -> j.startMs,
      "end" -> j.endMs, "stages" -> j.stages, "tasks" -> j.tasks.get,
      "run_s" -> j.runNs.get / 1e9, "gc_ms" -> j.gcMs.get,
      "shuffle_write_b" -> j.shuffleWriteBytes.get, "spill_b" -> j.spillBytes.get)),
    "phases" -> phases.map { case (s, p, ms) => Map("span" -> s, "phase" -> p, "ms" -> ms) }))
}

object Session {

  /** The mains' session settings, with every path pointed into the run's
    * own state directory (stores read `java.io.tmpdir`, set per setup
    * round by [[freshStoreRoot]]).
    */
  def start(cfg: Config, cores: Int): SparkSession = {
    new File(cfg.stateDir).mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${cfg.stateDir}/warehouse")
      .config("spark.local.dir", s"${cfg.stateDir}/spark-local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Maintenance.quietKnownWarnSpam()
    spark
  }

  /** Point the store protocol at an empty root and drop catalog-managed
    * stores, so every setup round builds the same stores from scratch.
    */
  def freshStoreRoot(spark: SparkSession, cfg: Config, round: Int): String = {
    spark.catalog.listTables().collect().foreach { t =>
      if (!t.isTemporary) spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
    }
    val root = s"${cfg.stateDir}/stores-$round"
    new File(root).mkdirs()
    System.setProperty("java.io.tmpdir", root)
    root
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.util.Try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
}

/** Shared helpers for workloads. */
abstract class Workload(val cfg: Config) {
  def run(spark: SparkSession, out: Out): Unit

  protected def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, throw new NoSuchElementException(s"no query $name"))

  protected def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Bytes under a directory tree, in MB. */
  protected def dirMb(path: String): Double = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L) else f.length
    size(new File(path)) / 1e6
  }

  /** Store directories (`<root>/<group>/<key>`) plus catalog tables. */
  protected def storeCount(spark: SparkSession): Int = {
    val root = new File(sys.props("java.io.tmpdir"))
    val dirs = Option(root.listFiles()).toSeq.flatten.filter(_.isDirectory)
      .map(g => Option(g.listFiles()).map(_.count(_.isDirectory)).getOrElse(0)).sum
    dirs + spark.catalog.listTables().collect().count(!_.isTemporary)
  }

  /** Order-insensitive digest of collected rows, as a served response. */
  protected def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** Time `canary`: the same query at start and end of a
    * run classifies a throttled machine from the result alone.
    */
  protected def canary(spark: SparkSession, out: Out, when: String): Unit = {
    val t0 = System.nanoTime()
    query(Workload.Canary)(spark, cfg.dataDir).write.format("noop").mode("overwrite").save()
    out.counter(s"canary_${when}_ms", secs(t0) * 1000)
    Maintenance.releaseCachedBlocks(spark, blocking = true)
  }

  /** Record the oracle SQL of the checked keys for run.py. */
  protected def writeOracleSql(keys: Seq[String]): Unit = {
    val sql = SparkEntry.oracleSql
    Files.writeString(Paths.get(cfg.outDir, "oracle_sql.json"),
      Json(keys.filter(sql.contains).map(k => k -> sql(k)).toMap))
  }

  /** Attach tracing for this run (no-op recorder when untraced). */
  protected def tracing(spark: SparkSession): (Tracer, Option[Recorder]) = {
    val t = new Tracer(cfg.trace, spark.sparkContext)
    if (cfg.trace) queryMetrics = Some(QueryMetrics.attach(spark))
    (t, if (cfg.trace) Some(Recorder.attach(spark, t)) else None)
  }

  /** Per-label action timing from the program's own metrics surface. */
  protected var queryMetrics: Option[QueryMetrics] = None

  /** Time `body` under `label` in [[queryMetrics]] when `t` traces. */
  protected def timed[T](t: Tracer, label: String)(body: => T): T =
    queryMetrics.filter(_ => t.enabled).fold(body)(QueryMetrics.time(_, label)(body))

  /** Trace-only: the same operations once more at local[1], for per-op
    * wall and task busy time against local[cores]. Stops `spark`.
    */
  protected def singleSlotBaseline(spark: SparkSession, out: Out)(
      pass: (SparkSession, Tracer) => Unit): Unit = {
    import scala.jdk.CollectionConverters._
    spark.stop()
    val s1 = Session.start(cfg, 1)
    try {
      Session.freshStoreRoot(s1, cfg, 99)
      val t1 = new Tracer(true, s1.sparkContext)
      val rec = Recorder.attach(s1, t1)
      pass(s1, t1)
      rec.drain()
      val ops = t1.allSpans.filter(s => s.parent == 0 && s.layer != "maintenance.release")
        .map(s => s.endMs - s.startMs)
      out.counter("local1.op_ms", ops.sum / ops.size)
      out.counter("local1.task_busy_s",
        rec.jobs.values.asScala.map(_.runNs.get / 1e9).sum / ops.size)
    } finally s1.stop()
  }

  protected def finishTrace(out: Out, tracer: Tracer, rec: Option[Recorder]): Unit =
    rec.foreach { r =>
      r.drain()
      import scala.jdk.CollectionConverters._
      out.spans = tracer.allSpans
      out.jobs = r.jobs.values.asScala.toSeq.sortBy(_.jobId)
      out.phases = r.phaseMs.asScala.toSeq.map { case ((s, p), ms) => (s, p, ms) }
      queryMetrics.foreach(m =>
        Files.writeString(Paths.get(cfg.outDir, "metrics.prom"), m.prometheusText()))
    }
}

object Workload {
  /** Canary key: in no workload, timed first and last in every run. */
  val Canary = "ticks_sma"

  /** Set-up is repeated from an empty store root; the median is reported. */
  val SetupRounds = 3

  /** Timed operations per run: a p70 with ten samples beyond it. */
  val MinOps = 34
}
