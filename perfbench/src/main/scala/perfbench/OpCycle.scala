package perfbench

import graft.SparkEntry
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `training_data`: one operation is a cycle over the training-data
  * ops in [[OpCycle.ops]] (query-shaped `SparkEntry.queries`), each
  * called once with its full result materialized through the `noop`
  * sink. */
final class OpCycle(spark: SparkSession, tracer: Tracer, inputs: String,
    work: String) extends Workload {
  import OpCycle.ops

  val opName = "training_data.op"

  val clients = 1
  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
  /** op name → seconds, one entry per measured cycle. */
  private val times = mutable.Map.empty[String, mutable.Buffer[Double]]
  private val written = mutable.Buffer.empty[(Long, Long)]
  private val oracleOut = s"$work/oracle"

  /** Warm-up: every op once, untimed, its result written as parquet for
    * the oracle compare. This also pays each op's one-time staging of
    * derived stores for these inputs. */
  def setup(): Map[String, Double] = {
    val w0 = System.nanoTime()
    ops.foreach { case (_, n) =>
      SparkEntry.queries(n)(spark, inputs).coalesce(1).write.mode("overwrite")
        .parquet(s"$oracleOut/$n")
    }
    Map("store_build_s" -> 0.0, "warm_s" -> (System.nanoTime() - w0) / 1e9)
  }

  def run(i: Int): Unit = ops.foreach { case (layer, n) =>
    val before = if (tracer.enabled) files() else Map.empty[Path, Long]
    val t0 = System.nanoTime()
    tracer.call(s"$layer.$n") {
      SparkEntry.queries(n)(spark, inputs).write.format("noop").mode("overwrite").save()
    }
    times.getOrElseUpdate(n, mutable.Buffer.empty) += (System.nanoTime() - t0) / 1e9
    if (tracer.enabled) {
      val after = files()
      val fresh = after.filter { case (p, len) => !before.get(p).contains(len) }
      written += ((fresh.size.toLong, fresh.values.sum))
    }
  }

  /** Regular files under the JVM's scratch dir, with their sizes. */
  private def files(): Map[Path, Long] = {
    val st = Files.walk(tmp)
    try st.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p -> Files.size(p)).toMap
    catch { case _: java.io.UncheckedIOException => Map.empty }
    finally st.close()
  }

  def layers(samples: Seq[Sample]): Map[String, Double] = {
    val n = math.max(1, samples.size).toDouble
    ops.map { case (l, op) => s"$l.${op}_s" -> Stats.median(times(op).toSeq) }.toMap ++ Map(
      "files_written_per_op" -> written.map(_._1).sum / n,
      "mb_written_per_op" -> written.map(_._2).sum / 1048576.0 / n)
  }

  /** oracle_sql.json next to the warm-up outputs, as tools/oracle_check.py reads them. */
  def writeChecks(out: String): Unit = {
    val sql = ops.map(_._2).map(n => Json.str(n) + ":" + Json.str(SparkEntry.oracleSql(n))).mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$oracleOut/oracle_sql.json"), sql)
    ()
  }
}

object OpCycle {
  /** (layer, op). Live-store maintenance first: streaming triggers into
    * a sketch store committed by the hand-written `_next` swap, and a
    * delete against a ManifestStore kNN-graph store (DeleteLog append,
    * touched-label repair, one manifest commit) cloned from its staged
    * copy. Then the batch ops of the dedup, similarity and text modules.
    * The streaming delete twins (9-15 s each on 4 cores) do not fit the
    * time budget of a run. One cycle is meant to outlast the measured
    * window, so every run times exactly one cycle. */
  val ops: Seq[(String, String)] =
    Seq("stream_hll_distinct", "store_delete_knn").map("stores" -> _) ++
    Seq("dedup_minhash_lsh", "dedup_components", "dedup_edit_distance",
      "ann_ivf_topk", "kmeans_fit", "text_tfidf").map("corpus" -> _)
}
