package graft.ops

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

/** Independent Spark actions submitted side by side (guide §2.6:
  * overlap independent jobs so each one's stage tail back-fills the
  * others' idle cores).
  */
object ConcurrentJobs {

  private val descKey = "spark.job.description"

  /** Run `thunks` concurrently and return their results in order.
    *
    *  - Every future runs under the SUBMITTING thread's
    *    `spark.job.description`. Pool threads otherwise keep the label
    *    that was set when they were created, so one loop's jobs would be
    *    reported under whichever loop first grew the pool.
    *  - Every future settles before the first failure is rethrown: a
    *    failed job must not leave siblings racing the caller's cleanup.
    */
  def settleAll[A](spark: SparkSession)(thunks: (() => A)*): Seq[A] = {
    val sc = spark.sparkContext
    val label = sc.getLocalProperty(descKey)
    val futures = thunks.map(t => Future {
      val prev = sc.getLocalProperty(descKey)
      sc.setLocalProperty(descKey, label)
      try t() finally sc.setLocalProperty(descKey, prev)
    })
    futures.map(f => scala.util.Try(Await.result(f, Duration.Inf))).map(_.get)
  }
}
