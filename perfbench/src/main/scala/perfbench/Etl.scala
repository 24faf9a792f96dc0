package perfbench

import graft.schema.{Fixtures, WeatherSchema}
import graft.streaming.StreamingPipeline
import graft.transform.Feeds
import graft.warehouse.{Merge, ParquetWarehouse}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import scala.collection.mutable
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, Future}
import scala.jdk.CollectionConverters._

/** `etl_incremental`: the reference pipeline at its own cadence.
  *
  * Set-up lands a seeded year of fetch days for the 10 cities and
  * backfills them through `StreamingPipeline.run`. Each timed cycle then
  * lands one new fetch day (10 `{city}_{yyyymmdd}.json` files written by
  * `Fixtures`), drains it with `StreamingPipeline.run(AvailableNow)` and
  * serves the flagship star join plus an hourly aggregate from the
  * freshly merged warehouse.
  *
  * The backfilled history keeps, for every fetch day but the last, only
  * the forecast days no later fetch revises. A single backfill batch then
  * holds one revision per key, so its MERGE result is defined; the timed
  * cycles overlap the previous day's forecast as the live feed does.
  */
final class Etl(spark: SparkSession, o: Opts, r: Result, tracer: Option[Tracer]) extends Workload {
  private val cities = WeatherSchema.locationMap.map(_._1)
  private val historyDays = if (o.smoke) 20 else 365
  private val firstDay = LocalDate.of(2022, 1, 1).plusDays(o.seed % 365)
  private val root = o.root.resolve("etl")
  private val raw = root.resolve("raw")
  private val whDir = root.resolve("warehouse")
  private val shadowDir = root.resolve("shadow")
  private val ckDir = root.resolve("checkpoint")
  private val wh = new ParquetWarehouse(spark, whDir.toString)
  private val ymd = DateTimeFormatter.ofPattern("yyyyMMdd")
  private val facts = Seq(
    "fact_current_day_weather" -> "current_weather_id",
    "fact_forecast_day_weather" -> "forecast_day_weather_id",
    "fact_forecast_hour_weather" -> "forecast_hour_weather_id")
  private val tables = Seq("dim_location", "dim_condition") ++ facts.map(_._1)

  private def fetchDate: org.apache.spark.sql.Column =
    to_date(substring(col("current.last_updated"), 1, 10))

  /** Drop the forecast days a later fetch revises from rows fetched before `last`. */
  private def latestRevisions(rawDf: DataFrame, last: LocalDate): DataFrame =
    rawDf.withColumn("forecast",
      when(fetchDate < lit(java.sql.Date.valueOf(last)),
        struct(slice(col("forecast.forecastday"), 1, 2).as("forecastday")))
        .otherwise(col("forecast")))

  private def writeHistory(): Unit = {
    val days = (0 until historyDays).map(i => firstDay.plusDays(i.toLong))
    val hist = latestRevisions(Fixtures.rawForecast(spark, cities, days, seed = o.seed), days.last)
    val tmp = root.resolve("history_tmp")
    hist.select("location", "current", "forecast").coalesce(4)
      .write.mode(SaveMode.Overwrite).json(tmp.toString)
    Files.createDirectories(raw)
    Files.list(tmp).iterator().asScala.filter(_.getFileName.toString.endsWith(".json"))
      .zipWithIndex.foreach { case (p, i) => Files.move(p, raw.resolve(f"history_$i%02d.json")) }
    Proc.rm(tmp)
  }

  private def drain(): Unit =
    StreamingPipeline.run(spark, raw.toString, whDir.toString, ckDir.toString,
      Trigger.AvailableNow()).awaitTermination()

  private def cycleFiles(day: LocalDate): Seq[String] = {
    val suffix = s"_${day.format(ymd)}.json"
    Files.list(raw).iterator().asScala.map(_.toString).filter(_.endsWith(suffix)).toSeq.sorted
  }

  private def serve(): Unit = {
    val fact = wh.read("fact_current_day_weather")
    fact.join(broadcast(wh.read("dim_location")), "location_id")
      .join(broadcast(wh.read("dim_condition")), "condition_code")
      .select(col("name"), col("weather_date"), col("temperature_c"), col("condition_name"))
      .write.format("noop").mode("overwrite").save()
    wh.read("fact_forecast_hour_weather")
      .groupBy(col("location_id"), date_trunc("month", col("forecast_datetime")).as("month"))
      .agg(avg("temp_c").as("avg_temp_c"), max("wind_kph").as("max_wind_kph"), count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
  }

  /** Median of [[Stats.serveReps]] serve rounds: one round is too short
    * to time steadily. */
  private def serveMedian(): Double =
    Stats.median(Seq.fill(Stats.serveReps)(Proc.timed(serve())._2))

  /** Staged equals merged for every target the cycle's files feed, and
    * the star join loses no fact row. */
  private def verifyCycle(files: Seq[String]): Option[String] = {
    val batch = spark.read.schema(WeatherSchema.root).json(files: _*)
    val stages = Seq(
      ("dim_location", "location_id", Feeds.locationFeed(batch)),
      ("fact_current_day_weather", "current_weather_id", Feeds.currentWeatherFeed(batch)),
      ("fact_forecast_day_weather", "forecast_day_weather_id", Feeds.forecastDayFeed(batch)),
      ("fact_forecast_hour_weather", "forecast_hour_weather_id", Feeds.forecastHourFeed(batch)))
    val bad = par(stages.map { case (t, key, stage) => () =>
      val (staged, merged) = Merge.verifyCounts(wh.read(t), stage, key)
      if (staged == merged && staged > 0) None else Some(s"$t staged=$staged merged=$merged")
    }).flatten
    val fact = wh.read("fact_current_day_weather")
    val joined = fact.join(wh.read("dim_location"), "location_id")
      .join(wh.read("dim_condition"), "condition_code").count()
    val factRows = fact.count()
    val all = bad ++ (if (joined == factRows) Nil else Seq(s"star join rows $joined != facts $factRows"))
    if (all.isEmpty) None else Some(all.mkString("; "))
  }

  /** The incrementally loaded warehouse equals a one-shot load of every
    * landed file in which the latest fetch of each key wins. */
  private def verifyOneShot(last: LocalDate): Option[String] = {
    val all = spark.read.schema(WeatherSchema.root).json(raw.toString).cache()
    val latest = latestRevisions(all, last)
    val one = new ParquetWarehouse(spark, root.resolve("oneshot").toString)
    par(Seq(
      () => one.mergeInto("dim_location",
        Feeds.locationFeed(all.filter(fetchDate === lit(java.sql.Date.valueOf(last)))), Seq("location_id")),
      () => one.mergeInto("fact_current_day_weather", Feeds.currentWeatherFeed(latest), Seq("current_weather_id")),
      () => one.mergeInto("fact_forecast_day_weather", Feeds.forecastDayFeed(latest), Seq("forecast_day_weather_id")),
      () => one.mergeInto("fact_forecast_hour_weather", Feeds.forecastHourFeed(latest),
        Seq("forecast_hour_weather_id")),
      () => one.insertNewInto("dim_condition", Feeds.conditionFeed(all)
        .withColumn("condition_name", Feeds.normalizeConditionName(col("condition_code"), col("condition_name")))
        .select("condition_code", "condition_name"), Seq("condition_code"))))
    all.unpersist()
    val diffs = par(tables.map { t => () =>
      val a = wh.read(t)
      val b = one.read(t).select(a.columns.map(col).toSeq: _*)
      val (na, nb) = (a.count(), b.count())
      val missing = b.exceptAll(a).count()
      val extra = a.exceptAll(b).count()
      if (na == nb && missing == 0 && extra == 0) None
      else Some(s"$t rows=$na one-shot=$nb missing=$missing extra=$extra")
    }).flatten
    if (diffs.isEmpty) None else Some(diffs.mkString("; "))
  }

  /** Run independent checks concurrently; Spark schedules their jobs side by side. */
  private def par[A](jobs: Seq[() => A]): Seq[A] = {
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.traverse(jobs)(j => Future(j())), Duration.Inf)
  }

  /** Layer probes on one landed cycle, outside its timed window: parse,
    * the five feeds, and the merges over pre-materialised feeds into a
    * shadow warehouse that receives the same cycles as the real one. */
  private def probe(files: Seq[String]): Map[String, Double] = {
    val noop = (df: DataFrame) => df.write.format("noop").mode("overwrite").save()
    val (_, parseS) = Proc.timed(noop(spark.read.schema(WeatherSchema.root).json(files: _*)))
    val parsed = spark.read.schema(WeatherSchema.root).json(files: _*).cache()
    parsed.count()
    def feeds(raw: DataFrame): Seq[DataFrame] = Seq(Feeds.locationFeed(raw),
      Feeds.currentWeatherFeed(raw), Feeds.forecastDayFeed(raw), Feeds.forecastHourFeed(raw),
      Feeds.conditionFeed(raw).drop("file_id"))
    val (_, feedsS) = Proc.timed(feeds(parsed).foreach(noop))
    val staged = feeds(parsed).map(_.localCheckpoint())
    val rowsOut = staged.map(_.count()).sum
    parsed.unpersist()
    val shadow = new ParquetWarehouse(spark, shadowDir.toString)
    val (_, mergeS) = Proc.timed {
      shadow.mergeInto("dim_location", staged(0), Seq("location_id"))
      shadow.mergeInto("fact_current_day_weather", staged(1), Seq("current_weather_id"))
      shadow.mergeInto("fact_forecast_day_weather", staged(2), Seq("forecast_day_weather_id"))
      shadow.mergeInto("fact_forecast_hour_weather", staged(3), Seq("forecast_hour_weather_id"))
      shadow.insertNewInto("dim_condition", staged(4)
        .withColumn("condition_name", Feeds.normalizeConditionName(col("condition_code"), col("condition_name")))
        .select("condition_code", "condition_name"), Seq("condition_code"))
    }
    Map("sources.parse_s" -> parseS, "transform.feeds_s" -> feedsS,
      "transform.rows_out" -> rowsOut.toDouble, "warehouse.merge_s" -> mergeS,
      "warehouse.bytes_written" -> tables.map(t => Proc.dirBytes(shadowDir.resolve(t))).sum.toDouble)
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally s.close()
  }

  def run(sessionS: Double): Unit = {
    Files.createDirectories(root)
    val (_, genS) = Proc.timed(writeHistory())
    val (_, backfillS) = Proc.timed(drain())
    if (tracer.isDefined) copyTree(whDir, shadowDir)
    var day = firstDay.plusDays(historyDays.toLong)
    def land(): Seq[String] = {
      Fixtures.writeRawJsonFiles(spark, raw.toString, cities, Seq(day), seed = o.seed)
      val files = cycleFiles(day)
      day = day.plusDays(1)
      files
    }
    val warmCycles = if (o.smoke) 0 else 1
    val (_, warmS) = Proc.timed((0 until warmCycles).foreach { _ =>
      val files = land(); drain(); serve()
      if (tracer.isDefined) probe(files)
    })
    r.put("setup_s", sessionS + genS + backfillS + warmS, "s")
    r.note("setup_parts_s", Map("jvm_and_session" -> sessionS, "history_gen" -> genS,
      "backfill" -> backfillS, "warmup_cycles" -> warmS))

    val loads = mutable.ArrayBuffer.empty[Double]
    val serves = mutable.ArrayBuffer.empty[Double]
    val cycles = mutable.ArrayBuffer.empty[Double]
    val layer = mutable.ArrayBuffer.empty[Map[String, Double]]
    val counts = mutable.ArrayBuffer.empty[Map[String, (Int, Int, Int)]]
    var spent = 0.0 // timed cycle wall; the checks between cycles do not count
    var verifyS = 0.0
    var i = 0
    // at least two cycles, so the median and the tail have two samples
    while (i < 2 || (!o.smoke && spent < o.seconds)) {
      val c0 = System.nanoTime()
      val files = land()
      val outcome = try {
        val (_, loadS) = Proc.timed(tracer.fold(drain())(_.segment("load")(drain())))
        val serveS = tracer.fold(serveMedian())(_.segment("serve")(serveMedian()))
        val wall = (System.nanoTime() - c0) / 1e9
        spent += wall
        cycles += wall
        loads += loadS
        serves += serveS
        tracer.foreach { tr =>
          val st = tr.take()
          counts += st.map(s => s.op -> (s.jobs, s.stages, s.tasks)).toMap
          layer += Layers.engine(st, spark.sparkContext.defaultParallelism) ++
            Layers.streaming(st) ++ Layers.phases(st) ++ Map("warehouse.read_s" -> serveS) ++
            probe(files)
        }
        val (bad, vS) = Proc.timed(verifyCycle(files))
        verifyS += vS
        bad
      } catch {
        case e: Exception =>
          spent += (System.nanoTime() - c0) / 1e9
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      r.outcome(s"cycle $i", outcome)
      i += 1
    }
    val (oneShot, oneShotS) = Proc.timed(try verifyOneShot(day.minusDays(1))
      catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") })
    r.outcome("one-shot equality", oneShot)
    r.note("check_s", Map("per_cycle" -> verifyS, "one_shot" -> oneShotS))

    r.note("cycles", loads.size)
    r.note("load_samples_s", loads.toSeq)
    r.note("load_tail_percentile", 90)
    r.note("inputs", Map(
      "history_fetch_days" -> historyDays, "cities" -> cities.size,
      "cycles_landed" -> (warmCycles + i),
      "raw_json_files" -> Files.list(raw).count(),
      "raw_json_bytes" -> Proc.dirBytes(raw),
      "warehouse_rows" -> tables.map(t => t -> wh.read(t).count()).toMap))
    r.put("pass_s", Stats.median(cycles.toSeq), "s")
    r.put("load_s", Stats.median(loads.toSeq), "s")
    r.put("load_tail_s", Stats.percentile(loads.toSeq, 90), "s")
    r.put("serve_s", Stats.median(serves.toSeq), "s")
    r.put("warehouse_bytes_ratio", Proc.dirBytes(whDir).toDouble / Proc.dirBytes(raw), "ratio")
    if (tracer.isDefined) {
      Layers.putMedians(r, layer.toSeq)
      r.note("op_counts", Layers.countsByOp(counts.toSeq))
    }
  }
}
