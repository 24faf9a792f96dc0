package graft.queries

import org.apache.spark.sql.SparkSession

/** Input-derived shuffle-partition pin for EAGER operator bodies —
  * guide §2.2 ("size shuffle partitions to the data") applied to the
  * judged batch operators the same way [[MicroBatchLoop.derivedParts]]
  * applies it to the micro-batch loops.
  *
  * Motivation (measured, round 19): the recall-contract operators
  * (q156/q169 and family) materialize their result EAGERLY inside the
  * query function (persist + localCheckpoint — the [[graft.ops
  * .CacheLifecycle]] contract), so every internal exchange runs at the
  * SESSION partition count. On a corpus whose whole working set is a
  * few scan splits that is core-count partitions of near-empty data
  * per exchange — pure task-launch latency across the operator's ~15
  * exchanges (q169 A/B at sf0.1/32 cores: 9.0 s at session 32 vs
  * 6.6 s pinned to the derived 8; job count unchanged, so the delta is
  * per-task scheduling, not plan shape). AQE stays ON — its coalescing
  * still collapses the pinned count further when bytes warrant, and
  * unlike the streaming loops there is no per-micro-batch re-planning
  * tax to avoid.
  *
  * The count is a FORMULA of the operator's input bytes, not a
  * constant: max(inputBytes / maxPartitionBytes, cores/4) clamped to
  * [1, cores] — the loops' own formula, [[MicroBatchLoop.derivedParts]]
  * (bytes term dominates at scale: a 100 TB corpus divides out to far
  * past the core count, so the pin is the SAME count the session would
  * want; the cores/4 floor keeps test-scale CPU work — hashing, codegen
  * joins — parallel).
  *
  * Session-conf note: the pin mutates the shared session's conf for
  * the duration of the body and restores it in a finally — the same
  * plan-shape-only hazard [[MicroBatchLoop.withConf]] documents for
  * concurrent suites (results are partition-count-independent;
  * the oracle pins that).
  */
object PinnedExec {

  /** Total bytes under the given paths (files or directories) — a
    * driver-side metadata stat, same cost class as the schema reads
    * the query functions already do.
    */
  def inputBytes(spark: SparkSession, paths: String*): Long =
    paths.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(hp)) fs.getContentSummary(hp).getLength else 0L
    }.sum

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to the
    * input-derived count ([[MicroBatchLoop.derivedParts]]); restore the
    * previous value afterwards.
    */
  def withDerivedParts[A](spark: SparkSession, inputPaths: String*)(
      body: => A): A =
    MicroBatchLoop.withConf(spark, "spark.sql.shuffle.partitions" ->
      MicroBatchLoop.derivedParts(spark, inputBytes(spark, inputPaths: _*)))(body)
}
