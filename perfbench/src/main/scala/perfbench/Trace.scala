package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** One span: `op` is the id of the root span of its operation, shared
  * by every span of that operation; times are epoch microseconds. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startUs: Long, endUs: Long)

/** In-memory span recorder. Spans are opened around the benchmark's own
  * calls into each layer; the engine listener adds `spark.job` and
  * `streaming.trigger` spans beneath them. Nothing is written until
  * [[Main]] writes them at exit. With `enabled = false` no span is
  * recorded. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]()
  /** Nanoseconds spent inside the tracer's own bookkeeping. */
  val costNs = new AtomicLong(0)
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  def newId(): Long = ids.incrementAndGet()
  def all: Seq[Span] = spans.asScala.toSeq
  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Run `body` as the root span `name` of a new operation; returns the
    * operation's id. */
  def op(name: String)(body: => Unit): Long = {
    val id = newId()
    within(Span(id, 0L, id, name, nowUs(), 0L))(body)
    id
  }

  /** Run `body` as a child span of the current one. */
  def call[A](name: String)(body: => A): A = {
    val parent = current.get()
    if (!enabled || parent == null) body
    else within(Span(newId(), parent.id, parent.op, name, nowUs(), 0L))(body)
  }

  private def within[A](open: Span)(body: => A): A = {
    val b0 = System.nanoTime()
    val prev = current.get()
    val prevOp = sc.getLocalProperty(Tracer.OpKey)
    val prevSpan = sc.getLocalProperty(Tracer.SpanKey)
    current.set(open)
    sc.setLocalProperty(Tracer.OpKey, open.op.toString)
    sc.setLocalProperty(Tracer.SpanKey, open.id.toString)
    costNs.addAndGet(System.nanoTime() - b0)
    try body
    finally {
      val e0 = System.nanoTime()
      add(open.copy(endUs = nowUs()))
      current.set(prev)
      sc.setLocalProperty(Tracer.OpKey, prevOp)
      sc.setLocalProperty(Tracer.SpanKey, prevSpan)
      costNs.addAndGet(System.nanoTime() - e0)
    }
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"

  /** Self time of every span: its duration minus the union of the
    * intervals its children cover (children may overlap, e.g. the
    * concurrent jobs of one call). */
  def selfTimesUs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered, end = 0L
      var start = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > end || start == Long.MinValue) {
          if (start != Long.MinValue) covered += end - start
          start = a; end = b
        } else end = math.max(end, b)
      }
      if (start != Long.MinValue) covered += end - start
      s.id -> math.max(0L, (s.endUs - s.startUs) - covered)
    }.toMap
  }
}

/** Task-level engine counters, summed per operation. */
final class Counters {
  val jobs, tasks, runMs, cpuNs, shuffleRead, shuffleWrite, spill, inputBytes = new AtomicLong(0)
}

/** Records jobs and tasks (attributed to the operation that submitted
  * them through the tracer's local properties), and emits `spark.job`
  * spans when tracing. */
final class EngineListener(tracer: Tracer) extends SparkListener {
  private val perOp = new ConcurrentHashMap[Long, Counters]()
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobOwner = new ConcurrentHashMap[Int, (Long, Long, Long)]()

  def counters(op: Long): Counters = perOp.computeIfAbsent(op, _ => new Counters)

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = prop(e.properties, Tracer.OpKey)
    val span = prop(e.properties, Tracer.SpanKey)
    e.stageIds.foreach(s => stageOp.put(s, op))
    jobOwner.put(e.jobId, (op, span, e.time * 1000L))
    if (op != 0L) counters(op).jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOwner.remove(e.jobId)).foreach { case (op, span, startUs) =>
      if (span != 0L)
        tracer.add(Span(tracer.newId(), span, op, "spark.job", startUs, e.time * 1000L))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val op = Option(stageOp.get(e.stageId)).map(_.longValue).getOrElse(0L)
    if (m == null || op == 0L) return
    val c = counters(op)
    c.tasks.incrementAndGet()
    c.runMs.addAndGet(m.executorRunTime)
    c.cpuNs.addAndGet(m.executorCpuTime)
    c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
  }
}

/** One streaming trigger: start (epoch us) and its `durationMs` split. */
final case class Trigger(startUs: Long, durations: Map[String, Long])

/** Collects every micro-batch progress report of the session. */
final class TriggerListener extends StreamingQueryListener {
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp)
    triggers.add(Trigger(start.getEpochSecond * 1000000L + start.getNano / 1000L,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
}
