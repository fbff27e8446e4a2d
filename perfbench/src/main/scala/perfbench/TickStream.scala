package perfbench

import graft.agg.BarAggregator
import graft.sources.TickGenerator
import graft.streaming.{IncrementalBars, IngestPipeline, KafkaIO}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}

import java.io.File
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The paper's path as an open loop: a generator thread appends wire
  * records on a fixed schedule to a MemoryStream (standing in for the
  * broker), `IngestPipeline.run` consumes it with a zero-interval trigger,
  * and the main thread runs `IncrementalBars.runOnce` back to back over the
  * committed tick sink, each cycle followed by one served read of the bar
  * store. A batch is fresh once a served read shows every minute its ticks
  * touched with all ticks delivered so far; freshness runs from the
  * batch's due time, so a stalled consumer shows up as freshness.
  */
final class TickStream(c: Config) extends Workload(c) {
  import TickStream._

  private type Rec = (String, String, Int, Long) // value, topic, partition, offset

  /** Seeded wire records for `nBatches` open-loop batches plus a backlog:
    * ~1% malformed or missing a required field, ~1% held back one batch
    * (never across a UTC date boundary).
    */
  final class Plan(val batches: IndexedSeq[Seq[Rec]], val minuteCounts: IndexedSeq[Map[Long, Long]],
      val ends: IndexedSeq[Long], val dlqReasons: Map[String, Long], val validIds: Set[Long],
      val lateTicks: Long)

  private def plan(spark: SparkSession, out: Out, nBatches: Int, backlogBatches: Int,
      seedSalt: Long): Plan = {
    val rnd = new Random(cfg.seed * 104729 + seedSalt)
    val total = (nBatches + backlogBatches) * TicksPerBatch
    val t0 = System.nanoTime()
    val wire = KafkaIO.encodeTicks(TickGenerator.batch(spark, total, seed = cfg.seed))
      .select("key", "value").collect().map(r => (r.getString(0), r.getString(1)))
    out.sample("gen.encode_s", secs(t0))
    val dlq = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val valid = mutable.Set.empty[Long]
    // batch index of each tick: own batch, the next one when held back; the
    // backlog is one batch appended at once after the open loop
    def batchOf(i: Int): Int = math.min(i / TicksPerBatch, nBatches)
    val delivered = Array.fill(nBatches + 1)(mutable.ArrayBuffer.empty[Rec])
    val counts = Array.fill(nBatches + 1)(mutable.Map.empty[Long, Long].withDefaultValue(0L))
    var late = 0L
    wire.indices.foreach { i =>
      val (key, json) = wire(i)
      val b = batchOf(i)
      val r = rnd.nextDouble()
      val value =
        if (r < MalformedShare / 2) { dlq("malformed JSON") += 1; json.take(json.length / 2) }
        else if (r < MalformedShare) {
          dlq("missing required field: price") += 1
          json.replaceFirst("\"price\":[^,]*,", "")
        } else { valid += i.toLong; json }
      val held = b < nBatches - 1 && rnd.nextDouble() < LateShare &&
        epochSec(i) / 86400 == epochSec((b + 1) * TicksPerBatch) / 86400
      val db = if (held) { late += 1; b + 1 } else b
      delivered(db) += ((value, "stock.ticks.v1", math.abs(key.hashCode % 3), i.toLong))
      if (valid(i.toLong)) counts(db)(epochSec(i) / 60) += 1
    }
    // cumulative per-minute counts through each delivery batch
    val cum = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val minuteCounts = counts.toIndexedSeq.map { m =>
      m.foreach { case (k, v) => cum(k) += v }
      m.keys.map(k => k -> cum(k)).toMap
    }
    val ends = (0 to nBatches).map(b =>
      epochSec(if (b == nBatches) total else (b + 1) * TicksPerBatch))
    new Plan(delivered.toIndexedSeq.map(_.toSeq), minuteCounts, ends, dlq.toMap, valid.toSet, late)
  }

  /** Committed batch directories of a `batch_id=N` sink. */
  private def committedDirs(path: String): Seq[String] =
    Option(new File(path).listFiles()).toSeq.flatten
      .filter(d => d.getName.startsWith("batch_id=") && new File(d, "_SUCCESS").exists())
      .map(_.getPath).sorted

  private def readSink(spark: SparkSession, path: String): Option[DataFrame] = {
    val dirs = committedDirs(path)
    if (dirs.isEmpty) None
    else Some(spark.read.option("basePath", path).parquet(dirs: _*))
  }

  private def maxOffset(q: StreamingQuery): Long =
    q.recentProgress.filter(_.numInputRows > 0).flatMap(_.sources.headOption)
      .map(s => scala.util.Try(s.endOffset.trim.toLong).getOrElse(-1L))
      .foldLeft(-1L)(math.max)

  /** One stream through the whole path into `root`: when each batch was
    * due and first shown, and the backlog's drain rate, go to `out`.
    */
  private def stream(spark: SparkSession, t: Tracer, out: Out, p: Plan, root: String,
      prefix: String): Unit = {
    val nBatches = p.batches.size - 1
    // the last batch to wait for: the backlog, when the plan has one
    val last = if (p.batches(nBatches).nonEmpty) nBatches else nBatches - 1
    implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    val ticksPath = s"$root/ticks"
    val dlqPath = s"$root/dlq"
    val barsPath = s"$root/bars"
    val runsPath = s"$root/etl_runs"
    val input = MemoryStream[Rec]
    val query = IngestPipeline.run(input.toDF().toDF("value", "topic", "partition", "offset"),
      ticksPath, dlqPath, s"$root/checkpoint", Trigger.ProcessingTime(0))
    val due = new Array[Long](nBatches + 1)
    val shownAt = new Array[Long](nBatches + 1) // first read showing the batch; 0 = not yet
    val lateMs = new Array[Double](nBatches)
    @volatile var appended = -1
    val t0 = System.nanoTime() + 50L * 1000000
    val gen = new Thread(() => {
      (0 until nBatches).foreach { b =>
        due(b) = t0 + b * PeriodMs * 1000000L
        val wait = due(b) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        input.addData(p.batches(b))
        lateMs(b) = (System.nanoTime() - due(b)) / 1e6
        appended = b
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()

    val offered = p.batches.scanLeft(0L)(_ + _.size).tail
    var cycles = 0
    var written = 0L
    var waitFrom = 0
    var drainStart = 0L
    var backlogMax = 0L
    val deadline = System.nanoTime() + ((cfg.seconds + DrainLimitSec) * 1e9).toLong
    try {
      while (waitFrom <= last && System.nanoTime() < deadline) {
        if (waitFrom == nBatches && drainStart == 0L && !gen.isAlive) {
          drainStart = System.nanoTime()
          due(nBatches) = drainStart
          input.addData(p.batches(nBatches))
          appended = nBatches
        }
        val done = maxOffset(query)
        val lastAppended = appended
        if (lastAppended >= 0) backlogMax = math.max(backlogMax,
          offered(lastAppended) - (if (done < 0) 0 else offered(done.toInt)))
        if (done < waitFrom) Thread.sleep(5)
        else {
          val now = new Timestamp(p.ends(done.toInt) * 1000)
          val c0 = System.nanoTime()
          val res = t.span("bars.cycle", s"cycle-$cycles") {
            readSink(spark, ticksPath).map(ticks =>
              IncrementalBars.runOnce(spark, ticks, barsPath, runsPath, now))
          }
          cycles += 1
          out.sample("bars.cycle_ms", (System.nanoTime() - c0) / 1e6)
          res.foreach { r =>
            written += r.barsWritten
            r.watermarkTo.foreach { w =>
              val covered = p.ends.indexWhere(_ * 1000 >= w.getTime)
              if (covered >= 0 && covered <= lastAppended)
                out.sample("bars.watermark_lag_s", (due(lastAppended) - due(covered)) / 1e9)
            }
          }
          val firstMinute = p.minuteCounts(waitFrom).keys.minOption.getOrElse(0L)
          val r0 = System.nanoTime()
          val shown = t.span("serve.read", s"read-$cycles") {
            if (!new File(barsPath).exists()) Map.empty[Long, Long]
            else spark.read.parquet(barsPath)
              .where(col("bucket_start") >= lit(new Timestamp(firstMinute * 60000)))
              .groupBy(col("bucket_start")).agg(sum("tick_count").as("n"))
              .collect().map(r => r.getTimestamp(0).getTime / 60000 -> r.getLong(1)).toMap
          }
          val readEnd = System.nanoTime()
          out.sample("serve.read_ms", (readEnd - r0) / 1e6)
          (waitFrom to math.min(done.toInt, last)).foreach { b =>
            if (shownAt(b) == 0 && p.minuteCounts(b).forall { case (m, n) => shown.getOrElse(m, 0L) >= n })
              shownAt(b) = readEnd
          }
          while (waitFrom <= last && shownAt(waitFrom) != 0) waitFrom += 1
        }
      }
    } finally {
      gen.join(1000)
      query.stop()
    }
    lateMs.foreach(out.sample("gen.late_ms", _))
    out.counter("ingest.backlog_max_rows", backlogMax)
    out.attempt("batch", nBatches)
    (0 until nBatches).foreach { b =>
      if (shownAt(b) == 0) out.fail("batch", s"batch $b never fresh")
      else {
        out.sample(prefix + "due_ms", (due(b) - t0) / 1e6)
        out.sample(prefix + "shown_ms", (shownAt(b) - t0) / 1e6)
      }
    }
    if (last == nBatches) {
      out.attempt("backlog")
      if (shownAt(nBatches) == 0) out.fail("backlog", "never drained")
      else out.sample(prefix + "throughput_per_s",
        p.batches(nBatches).size / ((shownAt(nBatches) - drainStart) / 1e9))
    }
    out.counter("bars.cycles", cycles)
    out.counter("bars.rows_written", written)
    query.recentProgress.filter(_.numInputRows > 0).foreach { pr =>
      val d = pr.durationMs.asScala
      out.sample("ingest.batch_ms", d.get("triggerExecution").map(_.toDouble).getOrElse(Double.NaN))
      out.sample("ingest.commit_ms",
        Seq("walCommit", "commitOffsets").flatMap(d.get).map(_.toDouble).sum)
    }
  }

  /** Output checks: every offered record lands as a tick or a DLQ row,
    * the DLQ holds exactly the injected records with their reasons, and the
    * bar store equals the bar build over every valid tick, late ones too.
    */
  private def check(spark: SparkSession, out: Out, p: Plan, root: String): Unit = {
    val ticks = readSink(spark, s"$root/ticks")
    val dlq = readSink(spark, s"$root/dlq")
    val nTicks = ticks.map(_.count()).getOrElse(0L)
    val reasons = dlq.map(_.groupBy("error_message").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap).getOrElse(Map.empty)
    val offered = p.batches.map(_.size.toLong).sum
    out.counter("ingest.dlq_rows", reasons.values.sum)
    out.counter("ingest.files", Seq("ticks", "dlq").map { s =>
      committedDirs(s"$root/$s").map(d =>
        Option(new File(d).listFiles()).toSeq.flatten.count(_.getName.endsWith(".parquet"))).sum
    }.sum)
    out.counter("late_ticks", p.lateTicks)
    Seq("check:conservation", "check:valid", "check:dlq", "check:bars").foreach(out.attempt(_))
    if (nTicks + reasons.values.sum != offered)
      out.fail("check:conservation", s"ticks $nTicks + dlq ${reasons.values.sum} != offered $offered")
    if (nTicks != p.validIds.size) out.fail("check:valid", s"ticks $nTicks != valid ${p.validIds.size}")
    if (reasons != p.dlqReasons) out.fail("check:dlq", s"dlq $reasons != injected ${p.dlqReasons}")
    val cols = Seq("symbol", "bucket_start", "open", "high", "low", "close", "volume_sum", "tick_count")
    val expected = BarAggregator.bars1m(
      TickGenerator.batch(spark, p.batches.map(_.size).sum, seed = cfg.seed)
        .join(broadcast(spark.createDataFrame(p.validIds.toSeq.map(Tuple1(_))).toDF("tick_id")),
          "tick_id"))
      .select(cols.map(col): _*)
    val got = spark.read.parquet(s"$root/bars").select(cols.map(col): _*)
    val diff = expected.exceptAll(got).count() + got.exceptAll(expected).count()
    out.counter("bars.final_rows", got.count())
    if (diff != 0) out.fail("check:bars", s"$diff bar rows differ from the bar build")
  }

  def run(spark: SparkSession, out: Out): Unit = {
    val nBatches = math.max(Workload.MinOps, (cfg.seconds * 1000 / PeriodMs).toInt)
    val off = new Tracer(false, spark.sparkContext)
    val w0 = System.nanoTime()
    query(Workload.Canary)(spark, cfg.dataDir).write.format("noop").mode("overwrite").save()
    out.counter("warmup_s", secs(w0))
    // Set-up rounds (the first one also warms the JVM): empty state, the
    // run's wire records generated and encoded, and a first batch through
    // ingest, bars and a served read.
    val p = (1 to Workload.SetupRounds).map { r =>
      val t0 = System.nanoTime()
      val root = Session.freshStoreRoot(spark, cfg, r)
      val runPlan = plan(spark, out, nBatches, BacklogBatches, 0)
      stream(spark, off, new Out, plan(spark, new Out, 1, 0, 2), s"$root/first", "")
      out.sample("setup_s", secs(t0))
      runPlan
    }.last
    canary(spark, out, "start")
    if (cfg.trace) {
      // the same stream untraced, for the tracing overhead
      val u = new Out
      stream(spark, off, u, p, Session.freshStoreRoot(spark, cfg, 10) + "/stream", "untraced.")
      u.samples.filter(_._1.startsWith("untraced.")).foreach { case (k, v) => v.foreach(out.sample(k, _)) }
    }
    val (tracer, rec) = tracing(spark)
    val root = Session.freshStoreRoot(spark, cfg, 11)
    stream(spark, tracer, out, p, s"$root/stream", "")
    finishTrace(out, tracer, rec)
    out.counter("store_mb", dirMb(s"$root/stream"))
    canary(spark, out, "end")
    check(spark, out, p, s"$root/stream")
  }
}

object TickStream {
  /** Generator schedule: one batch every PeriodMs. */
  val PeriodMs = 100
  /** Ticks per batch: a whole number of minutes at one tick per 2 s. */
  val TicksPerBatch = 30
  /** Backlog appended at once after the open loop, in batches. */
  val BacklogBatches = 200
  val MalformedShare = 0.01
  val LateShare = 0.01
  /** Time allowed after the open loop for the last batches to drain. */
  val DrainLimitSec = 30.0
  /** TickGenerator's default start and interval. */
  val StartSec = 1704103200L
  val IntervalSec = 2

  def epochSec(i: Int): Long = StartSec + i.toLong * IntervalSec
}
