package perfbench

import graft.analytics.StockAnalytics
import graft.{GraftExtensions, Maintenance}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Row, SparkSession}

import java.util.concurrent.Executors
import scala.collection.mutable
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

/** Closed loop, one client: seeded-order requests over the REST API's
  * registry keys, each result collected into the client and serialized as
  * a response. A request is the fixed per-query floor (loader schema
  * inference, a handful of jobs), so this is where per-job overhead shows.
  */
final class ApiServing(c: Config) extends Workload(c) {

  /** The stock registry minus the aggregator's full bar builds, which are
    * not endpoints.
    */
  val keys: Seq[String] =
    StockAnalytics.registry.keys.toSeq.sorted.filterNot(Set("bars_1m", "bars_1m_salted"))

  private val digests = mutable.Map.empty[String, mutable.Set[String]]
  private val firstResponse = mutable.Map.empty[String, (Array[Row], StructType)]
  private val storeKeys = mutable.LinkedHashSet.empty[String]

  /** One request: build the plan, run it, serialize the rows. Returns the
    * request's latency in ms, or None when it failed.
    */
  private def request(spark: SparkSession, t: Tracer, out: Out, key: String,
      findStores: Boolean = false): Option[Double] = {
    // store bookkeeping lists directories: only while finding store keys
    // (warm-up) or tracing, never inside an untraced measurement
    val countStores = t.enabled || findStores
    val stores0 = if (countStores) storeCount(spark) else 0
    val t0 = System.nanoTime()
    var ms = Double.NaN
    val ok =
      try {
        val (rows, schema) = t.span("request", key) {
          val df = t.span("entry.build", key)(query(key)(spark, cfg.dataDir))
          t.span("exec.action", key) {
            val rows = timed(t, key)(df.collect())
            rows.iterator.map(_.json).mkString("[", ",", "]") // the response body
            (rows, df.schema)
          }
        }
        ms = secs(t0) * 1000
        digests.getOrElseUpdate(key, mutable.Set.empty) += digest(rows)
        firstResponse.getOrElseUpdate(key, (rows, schema))
        true
      } catch { case e: Throwable => out.fail(key, e.toString); false }
    t.span("maintenance.release", key)(Maintenance.releaseCachedBlocks(spark, blocking = true))
    val built = if (countStores) storeCount(spark) - stores0 else 0
    if (built > 0) storeKeys += key
    if (t.enabled && built == 0 && storeKeys(key)) out.sample("stores.reused", 1)
    if (ok) Some(ms) else None
  }

  /** Whole seeded rounds over every key until `seconds` have passed and
    * the tail percentile has enough samples beyond it. A traced run
    * alternates traced and untraced rounds, so both see the same machine.
    */
  private def loop(spark: SparkSession, out: Out, tracer: Tracer, off: Tracer): Unit = {
    val rnd = new Random(cfg.seed * 7919)
    val phases = if (cfg.trace) Seq((tracer, ""), (off, "untraced.")) else Seq((tracer, ""))
    val t0 = System.nanoTime()
    var n = 0
    var round = 0
    while (secs(t0) < cfg.seconds * phases.size || n < Workload.MinOps * phases.size) {
      val (t, prefix) = phases(round % phases.size)
      rnd.shuffle(keys).foreach { k =>
        out.attempt(k)
        request(spark, t, out, k).foreach(out.sample(prefix + "latency_ms", _))
        n += 1
      }
      round += 1
    }
    out.sample("throughput_per_s", n / secs(t0))
  }

  def run(spark: SparkSession, out: Out): Unit = {
    val off = new Tracer(false, spark.sparkContext)
    // JVM warm-up once: every key and the canary concurrently (the cold
    // first calls are mostly code generation and JIT compilation), then
    // every key in turn, which finds the keys that own a persisted store.
    val w0 = System.nanoTime()
    Session.freshStoreRoot(spark, cfg, -1)
    GraftExtensions.register(spark)
    val pool = Executors.newFixedThreadPool(cfg.cores)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val cold = (keys :+ Workload.Canary).map(k => Future(query(k)(spark, cfg.dataDir).collect()))
      cold.foreach(f => Try(Await.result(f, Duration.Inf)))
    } finally pool.shutdown()
    Maintenance.releaseCachedBlocks(spark, blocking = true)
    Session.freshStoreRoot(spark, cfg, 0)
    keys.foreach(k => request(spark, off, out, k, findStores = true))
    out.counter("warmup_s", secs(w0))
    // Set-up rounds: an empty store root, then the first call of every
    // store-owning key builds its store.
    (1 to Workload.SetupRounds).foreach { r =>
      val t0 = System.nanoTime()
      Session.freshStoreRoot(spark, cfg, r)
      storeKeys.toSeq.foreach(k => request(spark, off, out, k))
      out.sample("setup_s", secs(t0))
      out.sample("stores.build_s", secs(t0))
      out.sample("stores.built", storeCount(spark))
    }
    out.counter("store_keys", storeKeys.toSeq)
    out.counter("store_mb", dirMb(sys.props("java.io.tmpdir")) + dirMb(s"${cfg.stateDir}/warehouse"))
    canary(spark, out, "start")

    val (tracer, rec) = tracing(spark)
    loop(spark, out, tracer, off)
    finishTrace(out, tracer, rec)
    canary(spark, out, "end")

    // Output checks, outside the timed region: every response of a key
    // must be identical; the first one is written for the oracle check.
    keys.foreach { k =>
      try {
        val seen = digests.getOrElse(k, mutable.Set.empty)
        if (seen.size > 1) out.fail(k, s"responses differ across requests: ${seen.size} digests")
        firstResponse.get(k).foreach { case (rows, schema) =>
          spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(s"${cfg.outDir}/results/$k")
        }
      } catch { case e: Throwable => out.fail(k, s"result write: $e") }
    }
    writeOracleSql(keys)
    out.counter("checked_keys", keys)

    if (cfg.trace) singleSlotBaseline(spark, out) { (s, t) =>
      keys.foreach(k => request(s, t, new Out, k))
    }
  }
}
