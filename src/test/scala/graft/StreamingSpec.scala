package graft

import graft.streaming.Streaming
import graft.streaming.Streaming.{Fire, ThresholdEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Stateful-streaming semantics: hysteresis state must carry across
  * micro-batches (the property the batch oracle can't see). */
class StreamingSpec extends SparkSpec {

  test("streaming readers leave no session conf behind (nanosAsLong scoped to the run)") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    Streaming.streamBucketAgg(spark, sfDir).count()
    assert(spark.conf.getOption(key) == before,
      s"conf leaked: was $before, now ${spark.conf.getOption(key)}")
  }

  test("thresholdFlow carries last-fire state across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val h = 43200000L
    val input = MemoryStream[ThresholdEvent]
    val q = Streaming.thresholdFlow(input.toDS()).writeStream
      .format("memory").queryName("graft_state_carry_test")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      // batch 1: first event fires; second within H is suppressed
      input.addData(ThresholdEvent(1L, 1000L, 200.0), ThresholdEvent(1L, 2000L, 200.0))
      q.processAllAvailable()
      // batch 2: still within H of the batch-1 fire → suppressed;
      // then one past H → fires. State must have survived the batch boundary.
      input.addData(ThresholdEvent(1L, h - 1000L, 200.0), ThresholdEvent(1L, 1000L + h, 200.0))
      q.processAllAvailable()
      val fires = spark.table("graft_state_carry_test").as[Fire]
        .collect().map(_.fire_ms).sorted
      assert(fires.toSeq == Seq(1000L, 1000L + h), s"got ${fires.toSeq}")
    } finally q.stop()
  }

  test("below-threshold values never fire") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[ThresholdEvent]
    val q = Streaming.thresholdFlow(input.toDS()).writeStream
      .format("memory").queryName("graft_no_fire_test")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      input.addData(ThresholdEvent(1L, 1000L, 50.0), ThresholdEvent(2L, 2000L, 119.9))
      q.processAllAvailable()
      assert(spark.table("graft_no_fire_test").count() == 0)
    } finally q.stop()
  }

  test("episodeFlow carries an open episode across batches") {
    import graft.streaming.Streaming.{ClickEvent, Episode}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[ClickEvent]
    val q = Streaming.episodeFlow(input.toDS()).writeStream
      .format("memory").queryName("graft_episode_carry_test")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      // batch 1 opens an episode (false→true); nothing emits yet
      input.addData(ClickEvent(1L, 1000L, 1L, 50.0), ClickEvent(1L, 2000L, 2L, 150.0))
      q.processAllAvailable()
      assert(spark.table("graft_episode_carry_test").count() == 0)
      // batch 2 closes it: the episode spans the batch boundary
      input.addData(ClickEvent(1L, 5000L, 3L, 50.0))
      q.processAllAvailable()
      val eps = spark.table("graft_episode_carry_test").as[Episode].collect()
      assert(eps.toSeq == Seq(Episode(1L, 2000L, 5000L, 3.0)), s"got ${eps.toSeq}")
    } finally q.stop()
  }

  test("stream_asof through the native operator equals the one-shot native join") {
    val streamed = Streaming.streamAsOf(spark, sfDir)
      .collect().map(_.mkString("|")).toSeq
    val oneShot = graft.plans.AsOfJoinNative.skAsOfNative(spark, sfDir)
      .collect().map(_.mkString("|")).toSeq
    assert(streamed == oneShot)
    assert(streamed.nonEmpty)
  }

  test("stream_cms_topk equals the one-shot batch sketch bit-for-bit") {
    val streamed = Streaming.streamCms(spark, sfDir)
      .collect().map(_.mkString("|")).toSeq
    val oneShot = graft.operators.Cms.cmsTopK(spark, sfDir)
      .collect().map(_.mkString("|")).toSeq
    assert(streamed == oneShot)
    assert(streamed.nonEmpty)
  }

  test("stream_hll_distinct equals the one-shot batch sketch bit-for-bit") {
    val streamed = Streaming.streamHll(spark, sfDir)
      .collect().map(_.mkString("|")).toSeq
    val oneShot = graft.operators.Hll.hllDistinct(spark, sfDir)
      .collect().map(_.mkString("|")).toSeq
    assert(streamed == oneShot)
    assert(streamed.nonEmpty)
  }

  test("stream_dedup_lsh equals the one-shot batch answer, with cross-trigger pairs") {
    import org.apache.spark.sql.functions._
    spark.catalog.clearCache()
    val streamed = Streaming.streamDedupLsh(spark, sfDir)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the per-batch candidate cache must not outlive its micro-batch:
    // after the stream completes, no cached plan may remain registered
    assert(org.apache.spark.sql.GraftBridge.noCachedPlans(spark),
      "stream_dedup_lsh leaked cached plans across micro-batches")
    val oneShot = graft.dedup.Dedup.minHashLsh(spark, sfDir)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == oneShot)
    assert(streamed.nonEmpty)
    // the arrival split is the same doc_id range partitioning the
    // operator writes; a pair spanning two ranges can only have been
    // found via the store path — proof the per-trigger band join ran
    val pid = Tables.documents(spark, sfDir)
      .repartitionByRange(3, col("doc_id"))
      .select(col("doc_id"), spark_partition_id().as("pid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(streamed.exists { case (a, b) => pid(a) != pid(b) },
      "no cross-trigger pair found — store path never exercised")
  }

  test("stream_tier_correction equals the one-shot batch correction") {
    import org.apache.spark.sql.functions._
    val streamed = Streaming.streamTierCorrection(spark, sfDir)
      .collect().map(_.mkString("|")).toSeq
    val batch = graft.operators.TimeSeries.tierCorrection(spark, sfDir)
      .collect().map(_.mkString("|")).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // every corrected bucket must have gained at least one sample, and
    // the trail must include genuinely re-opened (not brand-new) buckets
    val df = graft.operators.TimeSeries.tierCorrection(spark, sfDir)
    assert(df.where(col("new_n") <= coalesce(col("old_n"), lit(0L))).count() == 0)
    assert(df.where(col("old_n").isNotNull).count() > 0)
  }

  test("stream_tier_correction: a trigger that crashes before its commit leaves tier and CDC at the previous version; the rerun gives the one-shot answer") {
    import graft.util.ManifestStore
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val ev = Tables.events(spark, sfDir)
    val isLate = col("event_id") % 17 === 3
    val seed = graft.operators.TimeSeries.tierPartials(ev.where(!isLate), 3600000L)
      .withColumn("value_sum", col("value_sum").cast(DecimalType(38, 6)))
      .localCheckpoint()
    val late = ev.where(isLate)
    val batches = (0 until 3).map(i => late.where(pmod(col("event_id"), lit(3)) === i))
    def fresh(): String = {
      val root = java.nio.file.Files.createTempDirectory("graft_corr_crash").toString
      ManifestStore.publishOps(spark, root, Seq(
        ManifestStore.replaceTableOp("tier", "", () => seed)))
      root
    }
    val keySchema = org.apache.spark.sql.types.StructType(
      Seq("user_id", "event_type", "bucket_ms").map(seed.schema(_)))
    def tier(root: String): Seq[String] = ManifestStore.readTable(spark, root, "tier", seed.schema)
      .collect().map(_.mkString("|")).toSeq.sorted
    def cdcKeys(root: String): Seq[String] = ManifestStore.readTable(spark, root, "cdc", keySchema)
      .collect().map(_.mkString("|")).toSeq.sorted
    val stepped = fresh()
    Streaming.correctTier(spark, stepped, batches(0))
    val (tier0, cdc0) = (tier(stepped), cdcKeys(stepped))
    assert(cdc0.nonEmpty)
    ManifestStore.crashPoint = Some("publish")
    try intercept[IllegalStateException](Streaming.correctTier(spark, stepped, batches(1)))
    finally ManifestStore.crashPoint = None
    // neither table moved: no tier rewrite, no CDC rows for the failed batch
    assert(tier(stepped) == tier0)
    assert(cdcKeys(stepped) == cdc0)
    // rerun the failed batch, then the rest
    batches.drop(1).foreach(Streaming.correctTier(spark, stepped, _))
    assert(cdcKeys(stepped).size > cdc0.size)
    val oneShot = fresh()
    Streaming.correctTier(spark, oneShot, late)
    assert(tier(stepped) == tier(oneShot))
    assert(cdcKeys(stepped).distinct == cdcKeys(oneShot))
  }

  test("stream_episodes matches the batch operator's completed rows") {
    import org.apache.spark.sql.functions.col
    val streamed = Streaming.streamEpisodes(spark, sfDir)
      .select("user_id", "start_ms", "end_ms", "duration_s")
      .collect().toSet
    val batch = graft.operators.Sessions.episodes(spark, sfDir)
      .where(col("status") === "completed")
      .select("user_id", "start_ms", "end_ms", "duration_s")
      .collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }
}
