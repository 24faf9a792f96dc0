package graft

import graft.schema.{Fixtures, WeatherSchema}
import graft.transform.Feeds
import graft.warehouse.ParquetWarehouse
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import java.time.LocalDate

/** Batch end-to-end pipeline runner — the engine's analog of the
  * reference's extract Lambda + transform Lambda + 4-hourly merge tasks
  * (reference: DataExtraction.py:43-76, DataTransformation.py:126-247,
  * location.sql:87-91 et al.), collapsed into one driveable CLI.
  *
  * Usage: `runMain graft.PipelineMain <workDir> [<fetchDate yyyy-MM-dd> ...]`
  *
  * Layout under workDir:
  *   raw/        one JSON file per (city, fetchDate)  — K1
  *   feeds/<f>/  headered CSV per feed                — K2
  *   warehouse/<table>/  parquet target state         — M1-M5
  *
  * Running it twice with the same date exercises merge idempotency;
  * running with a later date exercises the update path (forecast
  * revisions overwrite same-key rows).
  */
object PipelineMain {
  val feedNames = Seq("location", "condition", "current_weather",
    "forecast_day_weather", "forecast_hour_weather")

  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    val bucketed = flags.contains("--bucketed")
    val workDir = positional.headOption
      .getOrElse(sys.error("usage: PipelineMain [--bucketed] <workDir> [dates...]"))
    val dates =
      if (positional.length > 1) positional.drop(1).toSeq.map(LocalDate.parse)
      else Seq(LocalDate.of(2024, 12, 22))
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.io.LocalFs.install(spark)

    // ---- Extract: fixture stands in for the REST fetch (offline env) ----
    Fixtures.writeRawJsonFiles(spark, s"$workDir/raw", fetchDates = dates)

    // ---- Transform: explicit schema read + the five feeds ----
    val raw = spark.read.schema(WeatherSchema.root).json(s"$workDir/raw")
    val feeds: Map[String, DataFrame] = Map(
      "location" -> Feeds.locationFeed(raw),
      "condition" -> Feeds.conditionFeed(raw).drop("file_id"),
      "current_weather" -> Feeds.currentWeatherFeed(raw),
      "forecast_day_weather" -> Feeds.forecastDayFeed(raw),
      "forecast_hour_weather" -> Feeds.forecastHourFeed(raw),
    )
    feeds.foreach { case (name, df) =>
      df.write.mode(SaveMode.Append).option("header", "true")
        .csv(s"$workDir/feeds/$name")
    }

    // ---- Load: keyed MERGE / insert-only per target ----
    // --bucketed uses the partition-pruned layout (SCALE.md): merges
    // rewrite only the bucket partitions the batch hashes into.
    val whRoot = s"$workDir/warehouse"
    val bucketedWh = new warehouse.BucketedWarehouse(spark, whRoot, numBuckets = 8)
    val flatWh = new ParquetWarehouse(spark, whRoot)
    def mergeInto(table: String, stage: DataFrame, keys: Seq[String]): Unit =
      if (bucketed) bucketedWh.mergeInto(table, stage, keys)
      else flatWh.mergeInto(table, stage, keys)
    def readTable(table: String): DataFrame =
      if (bucketed) bucketedWh.read(table) else flatWh.read(table)

    mergeInto("dim_location", feeds("location"), Seq("location_id"))
    mergeInto("fact_current_day_weather", feeds("current_weather"),
      Seq("current_weather_id"))
    mergeInto("fact_forecast_day_weather", feeds("forecast_day_weather"),
      Seq("forecast_day_weather_id"))
    mergeInto("fact_forecast_hour_weather", feeds("forecast_hour_weather"),
      Seq("forecast_hour_weather_id"))
    // condition dim: CASE normalization + insert-only anti-join append
    // (kept on the flat layout — the dim is tiny by construction)
    val condStage = feeds("condition")
      .withColumn("condition_name",
        Feeds.normalizeConditionName(col("condition_code"), col("condition_name")))
      .select("condition_code", "condition_name")
    flatWh.insertNewInto("dim_condition", condStage, Seq("condition_code"))

    // ---- Report: target counts + the flagship star join ----
    val tables = Seq("dim_location", "dim_condition", "fact_current_day_weather",
      "fact_forecast_day_weather", "fact_forecast_hour_weather")
    tables.foreach { t =>
      println(f"$t%-28s rows=${readTable(t).count()}")
    }
    val fact = readTable("fact_current_day_weather")
    val dimL = readTable("dim_location")
    val dimC = flatWh.read("dim_condition")
    println("flagship: current temperature + condition per city")
    fact.join(broadcast(dimL), "location_id")
      .join(broadcast(dimC), "condition_code")
      .select(col("name"), col("weather_date"), col("temperature_c"), col("condition_name"))
      .orderBy("name").show(20, truncate = false)
    spark.stop()
  }
}
