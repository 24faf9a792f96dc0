package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark as seen from listeners the benchmark registers itself (on
  * construction; the untraced run creates no tracer).
  *
  * Records jobs (with their `spark.job.description` label), completed
  * stages, finished tasks and streaming progress. Records are
  * attributed to the benchmark's segments by their timestamps: the
  * benchmark runs one operation at a time, so a job that starts inside
  * a segment's wall interval belongs to that segment, whatever thread
  * submitted it or whatever label it carries.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobStarts = new ConcurrentHashMap[Int, (Long, String)]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val segments = mutable.ArrayBuffer.empty[Segment]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val label = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
      jobStarts.put(e.jobId, (e.time, label))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(e.jobId)
      if (s != null) jobs.add(JobRec(s._1, e.time, s._2))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.add(StageRec(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      tasks.add(TaskRec(e.stageId, e.stageAttemptId, info.finishTime, info.duration,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      batches.add(BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
        d.getOrElse("triggerExecution", 0L), d.getOrElse("addBatch", 0L)))
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(streamListener)

  /** Run `body` as one attributed segment of operation `op`. */
  def segment[A](op: String)(body: => A): A = {
    val gc0 = gcMillis()
    val t0 = System.currentTimeMillis()
    try body
    finally segments += Segment(op, t0, System.currentTimeMillis(), gcMillis() - gc0)
  }

  /** Segments recorded since the last call, summarised. Drains the bus
    * first so every event of those segments has been recorded. */
  def take(): Seq[SegStats] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val segs = segments.toList
    segments.clear()
    val js = jobs.asScala.toList
    val ss = stages.asScala.toList
    val ts = tasks.asScala.toList
    val bs = batches.asScala.toList
    segs.map(stats(_, js, ss, ts, bs))
  }

  private def stats(seg: Segment, js: List[JobRec], ss: List[StageRec],
      ts: List[TaskRec], bs: List[BatchRec]): SegStats = {
    def in(t: Long) = t >= seg.t0 && t <= seg.t1
    val segJobs = js.filter(j => in(j.start))
    val segTasks = ts.filter(t => in(t.finish))
    val tag = opTag(seg.op)
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var unattributed = 0.0
    var unlabeled = 0.0
    segJobs.groupBy(j => Option(j.label).getOrElse("")).foreach { case (label, group) =>
      val secs = unionMillis(group.map(j => (j.start, math.min(j.end, seg.t1)))) / 1e3
      phaseTag(label) match {
        case Some(t) if t == tag => phases(label) = secs
        case Some(_) => unattributed += secs
        case None => unlabeled += secs
      }
    }
    val skews = segTasks.groupBy(t => (t.stage, t.attempt)).values.toList
      .filter(_.size >= 2).map { g =>
        val d = g.map(_.duration.toDouble).sorted
        val med = Stats.median(d)
        if (med > 0) d.last / med else 1.0
      }
    val segBatches = bs.filter(b => in(b.start))
    SegStats(
      op = seg.op,
      wallS = (seg.t1 - seg.t0) / 1e3,
      jobs = segJobs.size,
      stages = ss.count(s => in(s.completed)),
      tasks = segTasks.size,
      runTimeS = segTasks.map(_.runTime).sum / 1e3,
      jobBusyS = unionMillis(segJobs.map(j => (j.start, math.min(j.end, seg.t1)))) / 1e3,
      shuffleWriteBytes = segTasks.map(_.shuffleWrite).sum,
      spillBytes = segTasks.map(_.spill).sum,
      gcS = seg.gcMillis / 1e3,
      stageSkews = skews,
      phases = phases.toMap,
      unattributedS = unattributed,
      unlabeledS = unlabeled,
      batches = segBatches.size,
      triggerS = segBatches.map(_.trigger).sum / 1e3,
      addBatchS = segBatches.map(_.addBatch).sum / 1e3)
  }
}

object Tracer {
  final case class JobRec(start: Long, end: Long, label: String)
  final case class StageRec(completed: Long)
  final case class TaskRec(stage: Int, attempt: Int, finish: Long, duration: Long,
      runTime: Long, shuffleWrite: Long, spill: Long)
  final case class BatchRec(start: Long, trigger: Long, addBatch: Long)
  final case class Segment(op: String, t0: Long, t1: Long, gcMillis: Long)

  final case class SegStats(op: String, wallS: Double, jobs: Int, stages: Int, tasks: Int,
      runTimeS: Double, jobBusyS: Double, shuffleWriteBytes: Long, spillBytes: Long,
      gcS: Double, stageSkews: List[Double], phases: Map[String, Double],
      unattributedS: Double, unlabeledS: Double, batches: Int, triggerS: Double,
      addBatchS: Double)

  /** `q203_stream_crawl_curate` -> `q203`. */
  def opTag(op: String): String = op.takeWhile(_ != '_')

  /** The op tag of a phase label such as `q203: fold bm25`, if it is one. */
  def phaseTag(label: String): Option[String] = {
    val i = label.indexOf(':')
    if (i > 1 && label.charAt(0) == 'q' && label.substring(1, i).forall(_.isDigit))
      Some(label.substring(0, i))
    else None
  }

  /** Metric-name form of a phase label: `q203: fold bm25` -> `q203_fold_bm25`. */
  def phaseName(label: String): String =
    label.toLowerCase.map(c => if (c.isLetterOrDigit) c else '_')
      .replaceAll("_+", "_").stripPrefix("_").stripSuffix("_")

  def unionMillis(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}
