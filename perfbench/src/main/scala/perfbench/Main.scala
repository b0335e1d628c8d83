package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One timed operation: ids are the tracer's op ids. */
final case class Sample(op: Long, startNs: Long, endNs: Long, ok: Boolean, error: String)

/** What every workload provides to the closed loop in [[Main]]. */
trait Workload {
  /** Root span name of one operation. */
  def opName: String
  def clients: Int
  /** Builds stores and warms every op kind; returns named timings in
    * seconds (must include `store_build_s` and `warm_s`). */
  def setup(): Map[String, Double]
  /** Runs operation number `i`; a throw counts the operation as failed. */
  def run(i: Int): Unit
  /** Workload-specific per-layer metrics over the measured operations. */
  def layers(ops: Seq[Sample]): Map[String, Double]
  /** Writes what the answer checks outside the JVM need. */
  def writeChecks(out: String): Unit
}

/** Benchmark harness: starts one Spark session, sets up the workload,
  * then drives it as a closed loop for the given seconds and writes the
  * raw samples, setup timings and per-layer metrics to `out/result.json`.
  *
  * Arguments are key=value: workload, seconds, trace (0|1), inputs
  * (generated input dir), work (scratch dir), out (result dir).
  */
object Main {
  /** Exits explicitly either way, so no lingering non-daemon thread of a
    * failed run can keep the JVM alive. */
  def main(argv: Array[String]): Unit = {
    val code = try { bench(argv); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def bench(argv: Array[String]): Unit = {
    val a = argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val seconds = a("seconds").toInt
    val (out, work) = (a("out"), a("work"))
    Files.createDirectories(Paths.get(out))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    // from JVM start: class loading and the first (cold) query are part
    // of what a fresh process pays before it can answer
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val tracer = new Tracer(a("trace") == "1", spark.sparkContext)
    val engine = new EngineListener(tracer)
    spark.sparkContext.addSparkListener(engine)
    val triggerListener = new TriggerListener
    spark.streams.addListener(triggerListener)

    val inputs = a("inputs")
    val w: Workload = a("workload") match {
      case "history_api" => new HistoryApi(spark, tracer, inputs, work)
      case "training_data" => new OpCycle(spark, tracer, inputs, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setup = w.setup() + ("session_s" -> sessionS)

    // closed loop: each client takes the next operation only after its
    // previous one returned; no new operation starts after the deadline
    ListenerDrain(spark.sparkContext)
    val triggersBefore = triggerListener.triggers.size
    val gc0 = gcMs()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val samples = new ConcurrentLinkedQueue[Sample]()
    val next = new AtomicInteger(0)
    val w0 = System.nanoTime()
    val deadline = w0 + seconds * 1000000000L
    val threads = (0 until w.clients).map { c =>
      new Thread(() => {
        var go = true
        while (go) {
          val i = next.getAndIncrement()
          val s0 = System.nanoTime()
          var err: String = null
          val id = tracer.op(w.opName) {
            try w.run(i) catch { case e: Throwable => err = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
          }
          samples.add(Sample(id, s0, System.nanoTime(), err == null, err))
          go = System.nanoTime() < deadline
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val w1 = samples.asScala.map(_.endNs).max
    ListenerDrain(spark.sparkContext)
    val windowS = (w1 - w0) / 1e9
    val ops = samples.asScala.toSeq.sortBy(_.startNs)
    val opIds = ops.map(_.op).toSet
    val n = ops.size.toDouble
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val gcPerOp = (gcMs() - gc0) / n

    // engine counters of the measured operations
    val cs = opIds.toSeq.map(engine.counters)
    def sum(f: Counters => java.util.concurrent.atomic.AtomicLong) = cs.map(f(_).get).sum.toDouble
    val mb = 1048576.0
    val trig = triggerListener.triggers.asScala.toSeq.drop(triggersBefore)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def phase(k: String) = med(trig.map(_.durations.getOrElse(k, 0L).toDouble))

    // spans of the measured ops: root, calls, jobs, triggers
    val allSpans = tracer.all ++ triggerSpans(tracer, triggerListener.triggers.asScala.toSeq)
    val spans = allSpans.filter(s => opIds.contains(s.op))
    val self = Tracer.selfTimesUs(spans)
    def callMs(name: String) = spans.filter(_.name == name).map(s => (s.endUs - s.startUs) / 1000.0).sum / n
    val driverMs = spans.filter(s => s.parent != 0L && s.name != "spark.job" &&
      !s.name.startsWith("streaming.")).map(s => self(s.id) / 1000.0).sum / n

    val layers = Map(
      "open_ms_per_op" -> callMs("sources.open"),
      "plan_ms_per_op" -> callMs("api.plan"),
      "exec_ms_per_op" -> callMs("engine.exec"),
      "driver_ms_per_op" -> driverMs,
      "jobs_per_op" -> sum(_.jobs) / n,
      "tasks_per_op" -> sum(_.tasks) / n,
      "input_mb_per_op" -> sum(_.inputBytes) / mb / n,
      "busy_share" -> sum(_.runMs) / (windowS * 1000.0 * cores),
      "shuffle_mb_per_op" -> (sum(_.shuffleRead) + sum(_.shuffleWrite)) / mb / n,
      "spill_mb_per_op" -> sum(_.spill) / mb / n,
      "task_cpu_s_per_op" -> sum(_.cpuNs) / 1e9 / n,
      "gc_ms_per_op" -> gcPerOp,
      "heap_peak_mb" -> heapPeakMb,
      "triggers_per_op" -> trig.size / n,
      "trigger_p50_ms" -> phase("triggerExecution"),
      "trigger_getbatch_ms" -> phase("getBatch"),
      "trigger_planning_ms" -> phase("queryPlanning"),
      "trigger_addbatch_ms" -> phase("addBatch"),
      "trigger_walcommit_ms" -> phase("walCommit"),
      "trace_cost_ms_per_op" -> tracer.costNs.get / 1e6 / n,
    ) ++ w.layers(ops)

    w.writeChecks(out)
    if (tracer.enabled) writeSpans(allSpans, s"$out/spans.jsonl")
    val json = new StringBuilder
    json ++= "{\"window_s\":" + windowS + ",\"cores\":" + cores
    json ++= ",\"latency_ms\":[" + ops.filter(_.ok).map(s => (s.endNs - s.startNs) / 1e6).mkString(",") + "]"
    json ++= ",\"attempted\":" + ops.size + ",\"failed\":" + ops.count(!_.ok)
    json ++= ",\"errors\":[" + ops.filterNot(_.ok).map(s => Json.str(s.error)).distinct.take(5).mkString(",") + "]"
    json ++= ",\"setup\":" + Json.obj(setup)
    json ++= ",\"layers\":" + Json.obj(layers) + "}"
    Files.writeString(Paths.get(s"$out/result.json"), json.toString)
    spark.stop()
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** `streaming.trigger` spans (with one child per `durationMs` phase,
    * laid end to end) under the innermost call span of the operation
    * running when each trigger started. */
  private def triggerSpans(tracer: Tracer, trig: Seq[Trigger]): Seq[Span] = {
    if (!tracer.enabled) return Nil
    val calls = tracer.all.filter(s => s.name != "spark.job")
    trig.flatMap { t =>
      val owner = calls.filter(s => s.startUs <= t.startUs && t.startUs <= s.endUs)
        .sortBy(s => s.endUs - s.startUs).headOption
      owner.toSeq.flatMap { o =>
        val id = tracer.newId()
        val total = t.durations.getOrElse("triggerExecution", 0L) * 1000L
        var at = t.startUs
        val phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
          .flatMap(k => t.durations.get(k).filter(_ > 0).map { d =>
            val s = Span(tracer.newId(), id, o.op, s"streaming.$k", at, at + d * 1000L)
            at += d * 1000L
            s
          })
        Span(id, o.id, o.op, "streaming.trigger", t.startUs, t.startUs + total) +: phases
      }
    }
  }

  private def writeSpans(spans: Seq[Span], path: String): Unit = {
    val lines = spans.sortBy(s => (s.op, s.startUs, s.id)).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},"start_us":${s.startUs},"end_us":${s.endUs}}"""
    }
    Files.write(Paths.get(path), lines.asJava)
    ()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + num(v) }.mkString("{", ",", "}")
}
