package graft.streaming

import graft.SparkSpec
import graft.schema.Fixtures
import graft.warehouse.ParquetWarehouse
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryException

import java.io.File
import java.nio.file.Files
import java.time.LocalDate
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import scala.jdk.CollectionConverters._

class StreamingPipelineSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val cities = Seq("New Delhi", "Mumbai", "Chennai")
  private val day0 = LocalDate.of(2024, 12, 22)
  private val tables = Seq("dim_location", "dim_condition", "fact_current_day_weather",
    "fact_forecast_day_weather", "fact_forecast_hour_weather")
  private val aqeKey = "spark.sql.adaptive.enabled"
  private val partsKey = "spark.sql.shuffle.partitions"

  /** Raw dir, warehouse dir and checkpoint dir of one pipeline. */
  private final case class Pipe(raw: String, wh: String, ck: String) {
    def land(day: LocalDate): Unit = Fixtures.writeRawJsonFiles(spark, raw, cities, Seq(day))
    def drain(): Unit = StreamingPipeline.run(spark, raw, wh, ck).awaitTermination()
  }
  private def pipe(): Pipe = Pipe(tmp("graft_stream_raw"), tmp("graft_stream_wh"),
    tmp("graft_stream_ck"))

  private def partFiles(wh: String, table: String): Int =
    new File(wh, table).listFiles.count(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  private def sameRows(a: ParquetWarehouse, b: ParquetWarehouse, table: String): Boolean = {
    val (x, y) = (a.read(table), b.read(table))
    x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
  }

  /** Records job groups, and the session conf of every SQL execution
    * that writes under `wh`.
    */
  private final class Recorder(wh: String) extends SparkListener {
    val groups = new ConcurrentLinkedQueue[String]()
    val writeConfs = new ConcurrentLinkedQueue[(Option[String], Option[String])]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(groups.add)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart
          if x.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") &&
            x.physicalPlanDescription.contains(wh) =>
        writeConfs.add(x.modifiedConfigs.get(aqeKey) -> x.modifiedConfigs.get(partsKey))
      case _ =>
    }
    /** Jobs run under `group`, once every event posted so far was seen. */
    def jobsIn(group: String): Int = {
      val sc = spark.sparkContext
      val sentinel = s"$group sentinel"
      sc.setJobGroup(sentinel, sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      while (!groups.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(sentinel), "listener bus did not catch up")
      groups.asScala.count(_ == group)
    }
  }

  private def recording[A](wh: String)(f: Recorder => A): A = {
    val r = new Recorder(wh)
    spark.sparkContext.addSparkListener(r)
    try f(r) finally spark.sparkContext.removeSparkListener(r)
  }

  test("file-arrival stream: drains pending files, merges exactly once, resumes incrementally") {
    val rawDir = tmp("graft_stream_raw")
    val whDir = tmp("graft_stream_wh")
    val ckDir = tmp("graft_stream_ck")
    val cities = Seq("New Delhi", "Mumbai", "Chennai")

    // batch 1: three cities, one fetch day
    Fixtures.writeRawJsonFiles(spark, rawDir, cities, Seq(LocalDate.of(2024, 12, 22)))
    StreamingPipeline.run(spark, rawDir, whDir, ckDir).awaitTermination()

    val wh = new ParquetWarehouse(spark, whDir)
    assert(wh.read("dim_location").count() == 3)
    assert(wh.read("fact_current_day_weather").count() == 3)
    assert(wh.read("fact_forecast_day_weather").count() == 6)
    assert(wh.read("fact_forecast_hour_weather").count() == 18)

    // restart with no new files: checkpoint prevents re-processing
    StreamingPipeline.run(spark, rawDir, whDir, ckDir).awaitTermination()
    assert(wh.read("fact_current_day_weather").count() == 3)

    // batch 2: next-day fetch for one city — overlapping forecast day is
    // an update (6 per-city days total -> +1 new day for New Delhi only)
    Fixtures.writeRawJsonFiles(spark, rawDir, Seq("New Delhi"), Seq(LocalDate.of(2024, 12, 23)))
    StreamingPipeline.run(spark, rawDir, whDir, ckDir).awaitTermination()
    assert(wh.read("fact_current_day_weather").count() == 4) // new day key
    assert(wh.read("fact_forecast_day_weather").count() == 7) // 6 + day 12-25, 12-24 merged
    val delDays = wh.read("fact_forecast_day_weather")
      .filter(org.apache.spark.sql.functions.col("location_id") === "DEL").count()
    assert(delDays == 3) // 23, 24 (revised), 25
  }

  test("incremental drains rewrite every table as one part file") {
    val p = pipe()
    p.land(day0)
    p.drain()
    for (i <- 1 to 4) {
      p.land(day0.plusDays(i.toLong))
      p.drain()
      val counts = tables.map(t => t -> partFiles(p.wh, t))
      assert(counts.forall(_._2 == 1), s"after drain $i: $counts")
    }
  }

  test("reading a table written in this JVM runs no Spark job") {
    val p = pipe()
    p.land(day0)
    p.drain()
    val wh = new ParquetWarehouse(spark, p.wh)
    val jobs = recording(p.wh) { r =>
      val sc = spark.sparkContext
      sc.setJobGroup("warehouse read", "warehouse read")
      try tables.foreach(wh.read) finally sc.clearJobGroup()
      r.jobsIn("warehouse read")
    }
    assert(jobs == 0)
    // the remembered schema is the one inference reads back
    tables.foreach(t => assert(wh.read(t).schema == spark.read.parquet(wh.path(t)).schema, t))
  }

  test("a failed merge: the other four settle, the batch is not committed, the replay is idempotent") {
    val (a, b) = (pipe(), pipe())
    val (whA, whB) = (new ParquetWarehouse(spark, a.wh), new ParquetWarehouse(spark, b.wh))
    Seq(a, b).foreach { p => p.land(day0); p.drain(); p.land(day0.plusDays(1)) }
    // a plain file where one target's dir should be
    val broken = "fact_forecast_day_weather"
    val dir = new File(a.wh, broken).toPath
    val saved = new File(tmp("graft_stream_saved"), broken).toPath
    Files.move(dir, saved)
    Files.write(dir, "not parquet".getBytes("UTF-8"))
    intercept[StreamingQueryException](a.drain())
    b.drain()
    assert(!new File(a.ck, "commits/1").exists(), "the failed batch was committed")
    for (t <- tables if t != broken) {
      assert(!new File(a.wh, s".${t}_tmp").exists(), s"$t still writing")
      assert(sameRows(whA, whB, t), s"$t did not settle with the batch merged")
    }
    Files.delete(dir)
    Files.move(saved, dir)
    a.drain()
    assert(new File(a.ck, "commits/1").exists())
    tables.foreach(t => assert(sameRows(whA, whB, t), t))
  }

  test("the merge conf pin reaches the merges, never the root session") {
    val p = pipe()
    p.land(day0)
    p.drain()
    p.land(day0.plusDays(1))
    val root = (spark.conf.get(aqeKey), spark.conf.get(partsKey))
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
    @volatile var draining = true
    val poller = new Thread(() =>
      while (draining) {
        seen.add(spark.conf.get(aqeKey) -> spark.conf.get(partsKey))
        Thread.sleep(1)
      })
    val writes = recording(p.wh) { r =>
      poller.start()
      try p.drain() finally { draining = false; poller.join() }
      r.jobsIn("pin sync")
      r.writeConfs.asScala.toSeq
    }
    assert(seen.asScala == Set(root), seen)
    assert(writes.size == tables.size, writes)
    assert(writes.forall(_ == (Some("false") -> Some("1"))), writes)
  }
}
