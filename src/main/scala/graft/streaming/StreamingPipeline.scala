package graft.streaming

import graft.ops.ConcurrentJobs
import graft.queries.MicroBatchLoop
import graft.schema.WeatherSchema
import graft.transform.Feeds
import graft.warehouse.ParquetWarehouse
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Structured-Streaming variant of the pipeline: the file-arrival
  * semantics of the reference — S3 `ObjectCreated` → transform Lambda,
  * Snowpipe `AUTO_INGEST` → stage, 4-hourly task → MERGE
  * (reference: DataTransformation.py:142, location.sql:22-26,87-91) —
  * collapse naturally onto Spark's checkpointed file source +
  * `foreachBatch` merge:
  *
  *  - file source discovers newly arrived raw JSON exactly once
  *    (checkpointed file log = Snowpipe's load history);
  *  - `cleanSource=archive` reproduces the archive-and-delete step
  *    (reference: DataTransformation.py:233-247) as a source option;
  *  - `foreachBatch` applies the same [[Feeds]] + MERGE as batch mode —
  *    one code path for both cadences;
  *  - `Trigger.AvailableNow` = the cron task (drain everything pending,
  *    stop); `Trigger.ProcessingTime` = a standing 4-hourly cadence.
  *
  * The count-verify-truncate protocol (reference: location.sql:36-79) is
  * subsumed: a micro-batch is a snapshot, its file-log commit is the
  * verified consume. [[graft.warehouse.Merge.verifyCounts]] remains
  * available for parity audits.
  */
object StreamingPipeline {

  /** Checkpointed raw-file source over `{city}_{yyyymmdd}.json` arrivals. */
  def rawStream(spark: SparkSession, rawDir: String,
      archiveDir: Option[String] = None,
      maxFilesPerTrigger: Int = 100): DataFrame = {
    val base = spark.readStream
      .schema(WeatherSchema.root)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
    val withArchive = archiveDir.fold(base) { dir =>
      base.option("cleanSource", "archive").option("sourceArchiveDir", dir)
    }
    withArchive.json(rawDir)
  }

  /** Apply the five feeds + warehouse merges to one micro-batch — the
    * same semantics as the batch pipeline, factored for `foreachBatch`.
    *
    *  - The batch is sized from its plan's file-index bytes (no job):
    *    it is coalesced to [[MicroBatchLoop.derivedParts]] of them and
    *    cached by one `count()`, which also detects an empty batch.
    *  - The five target merges are independent — the reference loads
    *    its five tables through five independent pipe → procedure →
    *    task chains — so they run side by side
    *    ([[ConcurrentJobs.settleAll]]) under the micro-batch loop conf
    *    (AQE off, batch-sized shuffle partitions). The conf is pinned
    *    on `batch.sparkSession`, the stream's own cloned session, so the
    *    pin never reaches queries on the root session.
    *  - Every merge settles before the first failure is rethrown; the
    *    failed batch is then not committed and replays. Replay is
    *    idempotent: the merges that did land re-merge the same rows.
    */
  def mergeBatch(warehouse: ParquetWarehouse)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val bytes = batch.queryExecution.optimizedPlan.stats.sizeInBytes
      .min(Long.MaxValue).toLong
    val parts = MicroBatchLoop.derivedParts(s, bytes)
    MicroBatchLoop.withConf(s, MicroBatchLoop.loopConf(parts): _*) {
      val raw = batch.coalesce(parts.toInt).cache()
      try if (raw.count() > 0) {
        val cond = Feeds.conditionFeed(raw)
          .withColumn("condition_name",
            Feeds.normalizeConditionName(col("condition_code"), col("condition_name")))
          .select("condition_code", "condition_name")
        ConcurrentJobs.settleAll(s)(
          () => warehouse.mergeInto("dim_location", Feeds.locationFeed(raw),
            Seq("location_id"), bytes),
          () => warehouse.mergeInto("fact_current_day_weather",
            Feeds.currentWeatherFeed(raw), Seq("current_weather_id"), bytes),
          () => warehouse.mergeInto("fact_forecast_day_weather",
            Feeds.forecastDayFeed(raw), Seq("forecast_day_weather_id"), bytes),
          () => warehouse.mergeInto("fact_forecast_hour_weather",
            Feeds.forecastHourFeed(raw), Seq("forecast_hour_weather_id"), bytes),
          () => warehouse.insertNewInto("dim_condition", cond, Seq("condition_code"), bytes))
      } finally raw.unpersist()
    }
  }

  /** Run the streaming pipeline. `Trigger.AvailableNow` drains pending
    * files and stops (task-style catch-up); a processing-time trigger
    * keeps it standing.
    */
  def run(spark: SparkSession, rawDir: String, warehouseDir: String,
      checkpointDir: String, trigger: Trigger = Trigger.AvailableNow(),
      archiveDir: Option[String] = None): StreamingQuery = {
    val warehouse = new ParquetWarehouse(spark, warehouseDir)
    rawStream(spark, rawDir, archiveDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(mergeBatch(warehouse) _)
      .start()
  }
}
