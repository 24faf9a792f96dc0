package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.Files
import scala.collection.mutable

/** `store_loops` and `corpus_batch`: closed-loop passes over a fixed list
  * of `SparkEntry.queries` operations on a seeded copy of the corpus, which
  * the launcher generates into `--data` before the JVM starts.
  *
  * Set-up runs one warm-up pass whose results are written as parquet for
  * the DuckDB oracle check. Each timed pass then
  * calls every operation once (`eager`: the call, which runs the loop or
  * materialises the eager body) and writes its result to the `noop`
  * sink (`plan`).
  */
final class Ops(spark: SparkSession, o: Opts, r: Result, tracer: Option[Tracer], spec: Ops.Spec)
    extends Workload {
  private val input = o.data
  private val results = o.root.resolve("results")
  private val ops = if (o.smoke) spec.smokeOps else spec.ops

  private def call(op: String): DataFrame = SparkEntry.queries(op)(spark, input.toString)

  /** One op, timed: (eager seconds, plan seconds) or the failure. The
    * plan time is the median of [[Stats.serveReps]] `noop` writes of the
    * returned result: one read is too short to time steadily. */
  private def once(op: String, seg: Option[Tracer]): Either[String, (Double, Double)] =
    try {
      def body = {
        val (df, eager) = Proc.timed(call(op))
        val plan = Stats.median(Seq.fill(Stats.serveReps)(
          Proc.timed(df.write.format("noop").mode("overwrite").save())._2))
        (eager, plan)
      }
      Right(seg.fold(body)(_.segment(op)(body)))
    } catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    finally spark.catalog.clearCache()

  def run(sessionS: Double): Unit = {
    Files.createDirectories(results)
    val sqlTmp = results.resolve("oracle_sql.json.tmp")
    Files.write(sqlTmp, Json.value(
      ops.flatMap(op => SparkEntry.oracleSql.get(op).map(op -> _)).toMap).getBytes("UTF-8"))
    Files.move(sqlTmp, results.resolve("oracle_sql.json"))
    val (_, warmS) = Proc.timed(ops.foreach { op =>
      try call(op).coalesce(1).write.mode("overwrite").parquet(results.resolve(op).toString)
      catch { case e: Exception => System.err.println(s"[perfbench] warm-up $op failed: $e") }
      finally spark.catalog.clearCache()
    })
    r.put("setup_s", sessionS + warmS, "s")
    r.note("setup_parts_s", Map("inputs_jvm_and_session" -> sessionS, "warmup_pass" -> warmS))
    r.note("ops", ops)
    // The oracle checker computes its answers from the inputs while the
    // warm-up pass runs; the timed window starts once it is done.
    val (_, waitS) = Proc.timed(o.await.foreach { f =>
      val deadline = System.nanoTime() + 150e9.toLong
      while (!Files.exists(f) && System.nanoTime() < deadline) Thread.sleep(100)
    })
    r.note("oracle_wait_s", waitS)

    val passes = mutable.ArrayBuffer.empty[Double]
    val eagers = mutable.ArrayBuffer.empty[Double]
    val plans = mutable.ArrayBuffer.empty[Double]
    val layer = mutable.ArrayBuffer.empty[Map[String, Double]]
    val counts = mutable.ArrayBuffer.empty[Map[String, (Int, Int, Int)]]
    val opSamples = mutable.LinkedHashMap(ops.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    def elapsed = passes.sum
    var i = 0
    while (if (o.smoke) i < 1 else elapsed < o.seconds) {
      val p0 = System.nanoTime()
      val times = ops.map { op =>
        val t = once(op, tracer)
        r.outcome(s"pass $i $op", t.left.toOption)
        t.foreach { case (e, p) => opSamples(op) += e + p }
        op -> t.toOption
      }
      val wall = (System.nanoTime() - p0) / 1e9
      passes += wall
      eagers += times.flatMap(_._2).map(_._1).sum
      plans += times.flatMap(_._2).map(_._2).sum
      tracer.foreach { tr =>
        val st = tr.take()
        counts += st.map(s => s.op -> (s.jobs, s.stages, s.tasks)).toMap
        val perOp = times.collect { case (op, Some((e, p))) => s"queries.${op}_s" -> (e + p) }
        layer += Layers.engine(st, spark.sparkContext.defaultParallelism) ++
          Layers.streaming(st) ++ Layers.phases(st) ++ perOp ++ Map(
            "queries.eager_s" -> eagers.last, "queries.plan_s" -> plans.last)
      }
      i += 1
    }

    r.note("passes", passes.size)
    r.note("pass_samples_s", passes.toSeq)
    r.note("op_samples_s", opSamples.map { case (op, xs) => op -> xs.toSeq }.toMap)
    r.note("load_tail_percentile", 90)
    r.put("pass_s", Stats.median(passes.toSeq), "s")
    r.put("load_s", Stats.median(eagers.toSeq), "s")
    r.put("load_tail_s", Stats.percentile(eagers.toSeq, 90), "s")
    r.put("serve_s", Stats.median(plans.toSeq), "s")
    r.put("warehouse_bytes_ratio",
      Proc.dirBytes(o.root.resolve("tmp")).toDouble / Proc.dirBytes(input), "ratio")
    if (tracer.isDefined) {
      Layers.putMedians(r, layer.toSeq)
      r.note("op_counts", Layers.countsByOp(counts.toSeq))
    }
  }
}

object Ops {
  final case class Spec(ops: Seq[String], smokeOps: Seq[String])

  val storeLoops: Spec = Spec(
    Seq("q117_stream_incr_dedup", "q140_stored_dedup_index", "q204_bucketed_dedup_index",
      "q203_stream_crawl_curate", "q206_stream_media_crawl", "q138_stream_lm_gate"),
    Seq("q117_stream_incr_dedup", "q138_stream_lm_gate"))

  val corpusBatch: Spec = Spec(
    Seq("q169_residual_recall", "q156_pq_recall", "q112_ann_recall", "q111_keep_best",
      "q176_minhash_recall", "q165_bpe_encode", "q113_incremental_index"),
    Seq("q176_minhash_recall", "q113_incremental_index"))
}
