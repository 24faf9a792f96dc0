package perfbench

import perfbench.Tracer.SegStats

/** Per-layer metrics derived from traced segments. Each map holds one
  * sample (one cycle or one pass); `putMedians` reports the median over
  * the traced samples of a run. */
object Layers {

  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("bytes") || name.endsWith("bytes_written")) "bytes"
    else if (name.endsWith("_frac") || name.endsWith("skew")) "ratio"
    else "count"

  /** `engine.*` over the segments of one sample. */
  def engine(st: Seq[SegStats], cores: Int): Map[String, Double] = {
    val wall = st.map(_.wallS).sum
    val skews = st.flatMap(_.stageSkews)
    Map(
      "engine.jobs" -> st.map(_.jobs).sum.toDouble,
      "engine.stages" -> st.map(_.stages).sum.toDouble,
      "engine.tasks" -> st.map(_.tasks).sum.toDouble,
      "engine.busy_frac" -> (if (wall > 0) st.map(_.runTimeS).sum / (wall * cores) else 0.0),
      "engine.driver_gap_s" -> st.map(s => math.max(0.0, s.wallS - s.jobBusyS)).sum,
      "engine.shuffle_write_bytes" -> st.map(_.shuffleWriteBytes).sum.toDouble,
      "engine.spill_bytes" -> st.map(_.spillBytes).sum.toDouble,
      "engine.gc_s" -> st.map(_.gcS).sum,
      "engine.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)))
  }

  /** `streaming.*` from the `StreamingQueryProgress` of one sample:
    * `engine_s` is trigger execution minus `addBatch` (offsets, WAL,
    * commit and planning). */
  def streaming(st: Seq[SegStats]): Map[String, Double] = Map(
    "streaming.add_batch_s" -> st.map(_.addBatchS).sum,
    "streaming.engine_s" -> st.map(s => s.triggerS - s.addBatchS).sum,
    "streaming.batches" -> st.map(_.batches).sum.toDouble)

  /** `queries.phase.*` of one sample: phase-label time of the running
    * op, plus time under another op's label or under none. */
  def phases(st: Seq[SegStats]): Map[String, Double] = {
    val labelled = st.flatMap(_.phases.toSeq).groupBy(_._1).map { case (label, xs) =>
      s"queries.phase.${Tracer.phaseName(label)}_s" -> xs.map(_._2).sum
    }
    labelled ++ Map(
      "queries.phase_unattributed_s" -> st.map(_.unattributedS).sum,
      "queries.phase_unlabeled_s" -> st.map(_.unlabeledS).sum)
  }

  /** Per-op (jobs, stages, tasks) of each traced sample, op by op. */
  def countsByOp(samples: Seq[Map[String, (Int, Int, Int)]]): Map[String, Seq[Seq[Int]]] =
    samples.flatMap(_.keys).distinct.map { op =>
      op -> samples.flatMap(_.get(op)).map { case (j, s, t) => Seq(j, s, t) }
    }.toMap

  def putMedians(r: Result, samples: Seq[Map[String, Double]]): Unit =
    samples.flatMap(_.keys).distinct.sorted.foreach { k =>
      r.put(k, Stats.median(samples.map(_.getOrElse(k, 0.0))), unit(k))
    }
}
