package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.api.History
import graft.api.History.{Method, PathSpec}
import graft.operators.TimeSeries
import graft.sources.{Compaction, HiveStore, SignalKDelta}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** One `/history/values` request as generated. */
final case class Request(id: Int, context: String, specs: Seq[String],
    from: Option[Long], to: Option[Long], duration: Option[Long], now: Long,
    resolution: Long, heavy: Boolean)

/** What one answered request read and returned. */
final case class Answer(req: Request, tier: Option[String], eligible: Boolean,
    columns: Seq[String], rows: Array[Row], files: Long, scanned: Long)

/** `history_api`: a seeded fleet archive (live store + day→year archive
  * + 5s/60s/1h tiers) built through the ingest path, then read back by
  * two closed-loop clients sending `/history/values` requests. */
final class HistoryApi(spark: SparkSession, tracer: Tracer, inputs: String,
    work: String) extends Workload {
  import HistoryApi._

  val opName = "history_api.op"
  val clients = 2
  private val mapper = new ObjectMapper()
  private val meta = mapper.readTree(Files.readString(Paths.get(s"$inputs/fleet_meta.json")))
  private val cutoff = meta.get("cutoff_day").asText
  private val angular = meta.get("angular").elements().asScala
    .map(a => sanitize(a.asText)).toSet
  private val requests: IndexedSeq[Request] =
    Files.readAllLines(Paths.get(s"$inputs/requests.jsonl")).asScala.map(l => parse(mapper.readTree(l))).toIndexedSeq
  private val store = s"$work/store"
  private val answers = new ConcurrentHashMap[Int, Answer]()
  /** Warm-up answers the first ten requests and the first heavy one, so
    * every request shape (tier, raw, sma, ema, heavy) has run once before
    * timing; the closed loop takes the others in order. */
  private val warm = (requests.take(10) ++ requests.find(_.heavy)).distinct
  private val loop = requests.filterNot(warm.contains)
  private val measured = ConcurrentHashMap.newKeySet[Int]()

  def setup(): Map[String, Double] = {
    val b = build(store)
    val w0 = System.nanoTime()
    warm.foreach(answer)
    Map("store_build_s" -> (b.raw + b.tiers + b.compact), "raw_write_s" -> b.raw,
      "tier_build_s" -> b.tiers, "compact_s" -> b.compact,
      "warm_s" -> (System.nanoTime() - w0) / 1e9)
  }

  /** The ingest path in bulk: deltas → flattened records → raw tier in
    * the HiveStore layout, tier partials per resolution, then every day
    * before the cutoff folded into the per-year archive. */
  private def build(dir: String): Build = {
    def secs(body: => Unit): Double = { val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9 }
    val flat = SignalKDelta.flattenDeltas(
        spark.read.parquet(s"$inputs/fleet_deltas.parquet"), "delta")
      .withColumn("context", HiveStore.sanitize(col("context")))
      .withColumn("path", HiveStore.sanitize(col("path")))
      .persist()
    val ts = timestamp_millis(col("ts_ms"))
    val raw = secs(HiveStore.write(flat.withColumn("tier", lit("raw"))
      .withColumn("year", year(ts))
      .withColumn("day", lpad(dayofyear(ts).cast("string"), 3, "0")), s"$dir/live"))
    val series = flat.select(col("context").as("user_id"), col("path").as("event_type"),
      col("ts_ms"), col("value"))
    val tiers = secs(Tiers.foreach { case (name, res) =>
      TimeSeries.tierPartials(series, res)
        .repartition(col("user_id"), col("event_type"))
        .write.partitionBy("user_id", "event_type").parquet(s"$dir/tiers/$name")
    })
    flat.unpersist()
    val compact = secs(Compaction.compactDays(spark, s"$dir/live", s"$dir/archive", cutoff))
    Build(raw, tiers, compact)
  }

  def run(i: Int): Unit = { measured.add(loop(i).id); answer(loop(i)) }

  private def answer(r: Request): Unit = {
    val (fromMs, toMs) = History.resolveRange(r.from, r.to, r.duration, r.now)
    val specs = r.specs.map(PathSpec.parse)
    val eligible = specs.forall(s => s.smoothing.isEmpty &&
      Seq(Method.Average, Method.Min, Method.Max).contains(s.method) &&
      !(s.method == Method.Average && angular.contains(s.path)))
    val tier = if (eligible) History.selectTier(r.resolution, Tiers.keySet) else None
    val src = tracer.call("sources.open") {
      tier match {
        case Some(t) => HiveStore.read(spark, s"$store/tiers/$t")
        case None => Compaction.compactedRead(spark, s"$store/live", s"$store/archive", cutoff)
            .withColumn("order_id", col("ts_ms"))
      }
    }
    val q = tracer.call("api.plan") {
      val q = tier match {
        case Some(_) =>
          TimeSeries.tierReaggregate(src.where(col("user_id") === r.context &&
              col("event_type").isin(specs.map(_.path): _*) &&
              col("bucket_ms") >= fromMs && col("bucket_ms") < toMs), r.resolution)
            .select("event_type", "bucket_ms", "value_avg", "value_min", "value_max", "sample_count")
        case None =>
          History.values(src, r.context, specs, fromMs, toMs, r.resolution, angular)
      }
      q.queryExecution.executedPlan
      q
    }
    val rows = tracer.call("engine.exec")(q.collect())
    val plan = q.queryExecution.executedPlan
    answers.put(r.id, Answer(r, tier, eligible, q.columns.toSeq, rows,
      ScanMetrics.sum(plan, "numFiles"), ScanMetrics.sum(plan, "numOutputRows")))
  }

  def layers(ops: Seq[Sample]): Map[String, Double] = {
    val measured = this.measured.asScala.toSeq.flatMap(i => Option(answers.get(i)))
    val n = math.max(1, measured.size).toDouble
    val returned = measured.map(_.rows.length.toLong).sum.max(1L)
    val eligible = measured.count(_.eligible)
    Map(
      "files_read_per_op" -> measured.map(_.files).sum / n,
      "rows_scanned_per_row" -> measured.map(_.scanned).sum.toDouble / returned,
      "tier_hit_ratio" -> (if (eligible == 0) 0.0 else measured.count(_.tier.nonEmpty).toDouble / eligible))
  }

  /** Every 10th answered request and every heavy one, with its rows, for
    * the DuckDB recompute from the raw samples. */
  def writeChecks(out: String): Unit = {
    val lines = answers.asScala.values.toSeq.sortBy(_.req.id)
      .filter(a => a.req.id % 10 == 7 || a.req.heavy).map { a =>
        val r = a.req
        val rows = a.rows.map(row => (0 until row.length).map { j =>
          if (row.isNullAt(j)) "null" else row.get(j) match {
            case s: String => Json.str(s)
            case d: Double => Json.num(d)
            case x => x.toString
          }
        }.mkString("[", ",", "]")).mkString("[", ",", "]")
        val (f, t) = History.resolveRange(r.from, r.to, r.duration, r.now)
        s"""{"id":${r.id},"context":${Json.str(r.context)},"specs":${r.specs.map(Json.str).mkString("[", ",", "]")},""" +
          s""""from_ms":$f,"to_ms":$t,"resolution":${r.resolution},"tier":${a.tier.map(Json.str).getOrElse("null")},""" +
          s""""columns":${a.columns.map(Json.str).mkString("[", ",", "]")},"rows":$rows}"""
      }
    Files.write(Paths.get(s"$out/history_answers.jsonl"), lines.asJava)
    ()
  }
}

object HistoryApi {
  /** The aggregated tiers History.selectTier chooses from. There is no
    * 5s tier: the fleet samples once a minute, so it would equal raw. */
  val Tiers: Map[String, Long] = Map("60s" -> 60000L, "1h" -> 3600000L)

  final case class Build(raw: Double, tiers: Double, compact: Double)

  def sanitize(s: String): String = s.replace(".", "__").replace(":", "-")

  private def opt(n: JsonNode, k: String): Option[Long] =
    Option(n.get(k)).filterNot(_.isNull).map(_.asLong)

  def parse(n: JsonNode): Request = Request(n.get("id").asInt, n.get("context").asText,
    n.get("specs").elements().asScala.map(_.asText).toSeq, opt(n, "from"), opt(n, "to"),
    opt(n, "duration"), n.get("now").asLong, n.get("resolution").asLong, n.get("heavy").asBoolean)
}

/** Sums a metric over every file scan of an executed (adaptive) plan. */
object ScanMetrics extends AdaptiveSparkPlanHelper {
  def sum(plan: org.apache.spark.sql.execution.SparkPlan, metric: String): Long =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.metrics.get(metric).map(_.value).getOrElse(0L)
    }.sum
}
