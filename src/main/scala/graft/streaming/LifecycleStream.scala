package graft.streaming

import graft.util.ManifestStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Live automation lifecycle and multi-threshold watch — the streaming
  * twins of [[graft.operators.Sessions.automationLifecycle]] /
  * [[Sessions.multiThreshold]], closing the threshold family's live
  * surface ([[BandStream]] covers the single band).
  *
  * The generalization over [[BandStream]]'s single carried int is a
  * MULTI-QUANTITY carry: the lifecycle's per-user seam is THREE
  * running last-non-nulls (enabled = last toggle, last_val = watched
  * path's current value, state = last decisive), and the batch cores
  * take the carry as JOIN COLUMNS that replace the window defaults
  * (Sessions.lifecycleAnnotated / multiThresholdAnnotated) — no
  * pseudo-rows, so nothing needs excluding from emission and the
  * seam argument is one line: every window is a running last-non-null
  * and the carry IS its prefix value, so slice-at-a-time ≡ one-shot
  * and the batch oracles carry verbatim (LifecycleStreamSpec pins
  * bit-equality for both). The carry and the transition log are two
  * tables of one [[ManifestStore]] root, committed together by one
  * publish per trigger; the carry is user-count-sized (×k watchers for
  * the registry twin) and history is never rescanned.
  */
object LifecycleStream {

  private val ckptRef = new java.util.concurrent.atomic.AtomicReference[String]()

  private def runSliced(spark: SparkSession, ev: DataFrame, tag: String)
      (onBatch: DataFrame => Unit): Unit = {
    val srcDir = Slices.stage(ev, tag, 3)
    val q = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => onBatch(batch) }
      .option("checkpointLocation", {
        val d = java.nio.file.Files.createTempDirectory(s"graft_ckpt_$tag")
        ckptRef.set(d.toString); d.toString
      })
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  // --------------------------------------------------------------- #80
  def streamAutomationLifecycle(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sessions
    val ev = graft.Tables.events(spark, dir)
      .where(col("event_type").isin("error", "signup"))
      .select("user_id", "ts_ms", "event_id", "event_type", "value")
    val base = java.nio.file.Files.createTempDirectory("graft_lifecycle_store").toString
    val carrySchema = Sessions.emptyLifecycleCarry(spark).schema
    val transSchema = ev.select(col("user_id"), col("ts_ms"), lit("").as("transition"),
      lit("").as("trigger"), col("value")).schema
    val ord = struct(col("ts_ms"), col("event_id"))
    runSliced(spark, ev, "lifecycle") { batch =>
      val sp = batch.sparkSession
      val carry = ManifestStore.readTable(sp, base, "carry", carrySchema)
      val ann = Sessions.lifecycleAnnotated(batch.localCheckpoint(), carry)
        .localCheckpoint()
      // new carry: the batch's last running values where present,
      // the old carry where the user was silent this trigger
      val lastRow = ann.groupBy("user_id").agg(
        max_by(col("enabled"), ord).as("n_enabled"),
        max_by(col("state"), ord).as("n_state"))
      val lastErr = ann.where(col("event_type") === "error")
        .groupBy("user_id")
        .agg(max_by(col("value"), ord).as("n_last_val"))
      val merged = carry
        .join(lastRow, Seq("user_id"), "full_outer")
        .join(lastErr, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          coalesce(col("n_enabled"), col("enabled0"), lit(0)).as("enabled0"),
          coalesce(col("n_last_val"), col("last_val0")).as("last_val0"),
          coalesce(col("n_state"), col("state0"), lit(0)).as("state0"))
      ManifestStore.publishOps(sp, base, Seq(
        ManifestStore.appendOp("trans", "", () => Nil, () => Sessions.lifecycleTransitions(ann)),
        ManifestStore.replaceTableOp("carry", "", () => merged)))
    }
    ManifestStore.readTable(spark, base, "trans", transSchema).orderBy("user_id", "ts_ms")
  }

  // --------------------------------------------------------------- #81
  def streamMultiThreshold(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sessions
    val ev = graft.Tables.events(spark, dir)
      .where(col("event_type") === "click")
      .select("user_id", "ts_ms", "event_id", "event_type", "value")
    val base = java.nio.file.Files.createTempDirectory("graft_multithr_store").toString
    val carrySchema = Sessions.emptyWatcherCarry(spark).schema
    val transSchema = ev.select(col("user_id"), lit("").as("watcher_id"), col("ts_ms"),
      lit("").as("transition"), col("value")).schema
    val ord = struct(col("ts_ms"), col("event_id"))
    runSliced(spark, ev, "multithr") { batch =>
      val sp = batch.sparkSession
      val carry = ManifestStore.readTable(sp, base, "carry", carrySchema)
      val ann = Sessions.multiThresholdAnnotated(batch.localCheckpoint(), carry)
        .localCheckpoint()
      val trans = ann.where(col("state") =!= col("prev_state"))
        .select(col("user_id"), col("watcher_id"), col("ts_ms"),
          when(col("state") === 1, "activated").otherwise("deactivated").as("transition"),
          col("value"))
      val lastRow = ann.groupBy("user_id", "watcher_id")
        .agg(max_by(col("state"), ord).as("n_state"))
      val merged = carry
        .join(lastRow, Seq("user_id", "watcher_id"), "full_outer")
        .select(col("user_id"), col("watcher_id"),
          coalesce(col("n_state"), col("state0"), lit(0)).as("state0"))
      ManifestStore.publishOps(sp, base, Seq(
        ManifestStore.appendOp("trans", "", () => Nil, () => trans),
        ManifestStore.replaceTableOp("carry", "", () => merged)))
    }
    ManifestStore.readTable(spark, base, "trans", transSchema)
      .orderBy("user_id", "watcher_id", "ts_ms")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_automation_lifecycle" -> (streamAutomationLifecycle _),
    "stream_multi_threshold" -> (streamMultiThreshold _))

  val oracles: Map[String, String] = Map(
    // carried prefix values make slice-at-a-time ≡ one-shot, so both
    // batch oracles carry verbatim
    "stream_automation_lifecycle" -> graft.operators.Sessions.automationLifecycleOracle,
    "stream_multi_threshold" -> graft.operators.Sessions.multiThresholdOracle)
}
