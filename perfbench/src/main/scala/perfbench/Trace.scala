package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `parent` is the enclosing span
  * (0 for a root); all spans of one operation share `op`.
  */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
    startMs: Double, endMs: Double)

/** Per-job counters, keyed to the span that submitted the job through a
  * thread-local property (job tags/groups travel with the job, so the
  * asynchronous listener bus needs no wall-clock attribution).
  */
final class JobStats(val jobId: Int, val span: Long, val callSite: String, val loader: Boolean,
    val startMs: Double) {
  @volatile var endMs: Double = Double.NaN
  @volatile var stages = 0
  val tasks = new AtomicLong
  val runNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
}

/** Spans kept in memory and written once at the end; a disabled tracer
  * only runs the body, so untraced runs pay for one branch per call.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val t0 = System.nanoTime()
  private val ids = new AtomicLong
  private val stacks = ThreadLocal.withInitial[ArrayBuffer[(Long, Long)]](
    () => new ArrayBuffer[(Long, Long)]()) // (span id, op id) per thread
  private val spans = new ArrayBuffer[Span]()
  /** Innermost open span of the client thread, for listener callbacks. */
  val current = new AtomicLong

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  def nowMs: Double = (System.nanoTime() - t0) / 1e6
  def nanoToMs(n: Long): Double = (n - t0) / 1e6

  /** Run `body` inside a span; a root span starts a new operation. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val stack = stacks.get()
      val id = ids.incrementAndGet()
      val (parent, op) = stack.lastOption.getOrElse((0L, id))
      stack += ((id, op))
      val prevProp = sc.getLocalProperty(Trace.SpanProp)
      sc.setLocalProperty(Trace.SpanProp, id.toString)
      current.set(id)
      val start = nowMs
      try body
      finally {
        val end = nowMs
        spans.synchronized(spans += Span(id, parent, op, layer, name, start, end))
        stack.remove(stack.length - 1)
        sc.setLocalProperty(Trace.SpanProp, prevProp)
        current.set(stack.lastOption.map(_._1).getOrElse(0L))
      }
    }
}

object Trace {
  val SpanProp = "perfbench.span"
}

/** Counts jobs, stages, tasks and bytes per submitting span, and Catalyst
  * phase times per action (from `QueryExecution.tracker`).
  */
final class Recorder(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new ConcurrentHashMap[Int, JobStats]()
  val phaseMs = new ConcurrentHashMap[(Long, String), Double]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(Trace.SpanProp))).map(_.toLong).getOrElse(0L)
    // the result stage carries the action's call site; a job whose stack
    // passes through the Tables loaders is loader work (schema inference)
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    val loader = e.stageInfos.exists(_.details.contains("Tables.scala"))
    val js = new JobStats(e.jobId, span, site, loader, tracer.nanoToMs(System.nanoTime()) -
      (System.currentTimeMillis() - e.time))
    js.stages = e.stageInfos.size
    e.stageIds.foreach(stageJob.put(_, js))
    jobs.put(e.jobId, js)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { js =>
      js.endMs = tracer.nanoToMs(System.nanoTime()) - (System.currentTimeMillis() - e.time)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { js =>
      js.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        js.runNs.addAndGet(m.executorRunTime * 1000000L)
        js.gcMs.addAndGet(m.jvmGCTime)
        js.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        js.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val span = tracer.current.get()
    qe.tracker.phases.foreach { case (phase, s) =>
      phaseMs.merge((span, phase), (s.endTimeMs - s.startTimeMs).toDouble, (a, b) => a + b)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait until every started job has ended on the listener side. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.values.asScala.exists(_.endMs.isNaN) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(100) // trailing task-end events of the last stage
  }
}

object Recorder {
  def attach(spark: SparkSession, tracer: Tracer): Recorder = {
    val r = new Recorder(tracer)
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    r
  }
}

/** Minimal JSON writer for the raw result file (numbers, strings, seqs, maps). */
object Json {
  def apply(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]       => s.map(apply).mkString("[", ",", "]")
    case other                => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""
}
