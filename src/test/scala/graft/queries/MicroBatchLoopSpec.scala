package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** [[MicroBatchLoop.run]] — the one loop kernel every at-rest
  * maintenance loop runs on: replay order and batch ids, cleanup and
  * conf restore on a failing body, and per-run checkpoint isolation.
  */
class MicroBatchLoopSpec extends SparkSpec {

  private val loopKeys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.sources.parallelPartitionDiscovery.threshold")

  // 12 rows; batch k holds the ids with 2 - id % 3 = k, so replay order
  // is NOT id order
  private def src: DataFrame =
    spark.range(12).select(col("id"), col("id").cast("string").as("text"))

  private def ids(batch: DataFrame): Seq[Long] =
    batch.select("id").collect().map(_.getLong(0)).toSeq.sorted

  test("batches arrive in staged order with their batch ids") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    MicroBatchLoop.run(spark, "spec_order", src, col("id") % 3 * -1 + 2, 3) { _ =>
      (batch, bid) => seen += bid -> ids(batch)
    }
    assert(seen.toSeq === Seq(
      0L -> Seq(2L, 5L, 8L, 11L),
      1L -> Seq(1L, 4L, 7L, 10L),
      2L -> Seq(0L, 3L, 6L, 9L)))
  }

  /** Runs a loop whose body throws on batch 1; returns its scratch root,
    * whether the checkpoint lived inside it, and the conf the body saw.
    */
  private def failingRun(): (java.io.File, Boolean, Seq[String]) = {
    var root: java.io.File = null
    var ckInside = false
    var pinned = Seq.empty[String]
    val e = intercept[Exception] {
      MicroBatchLoop.run(spark, "spec_fail", src, col("id") % 3, 3) { r =>
        root = r
        (_, bid) => {
          ckInside = new java.io.File(r, "checkpoint").isDirectory
          pinned = loopKeys.map(k => spark.conf.get(k))
          if (bid == 1) throw new IllegalStateException("boom on batch 1")
        }
      }
    }
    def causes(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage).exists(_.contains("boom on batch 1"))))
    (root, ckInside, pinned)
  }

  test("a body that throws leaves no scratch or checkpoint dir behind") {
    val (root, ckInside, _) = failingRun()
    assert(root != null)
    assert(ckInside, "the checkpoint lives inside the run's scratch dir")
    assert(!root.exists, s"$root survived the failed run")
    assert(!new java.io.File(root, "checkpoint").exists)
  }

  test("a body that throws restores all three loop conf keys") {
    val before = loopKeys.map(k => spark.conf.get(k))
    val (_, _, pinned) = failingRun()
    // batch-sized partitions (a few hundred bytes per batch: the
    // parallelism floor), AQE off, listing threshold raised
    assert(pinned === Seq(MicroBatchLoop.derivedParts(spark, 1L), "false", "8192"))
    assert(loopKeys.map(k => spark.conf.get(k)) === before)
  }

  test("two concurrent runs with the same tag get distinct checkpoint dirs") {
    val before = loopKeys.map(k => k -> spark.conf.get(k))
    def oneRun(): (String, Int) = {
      var ck = ""
      var batches = 0
      MicroBatchLoop.run(spark, "spec_same", src, col("id") % 3, 3) { r =>
        ck = new java.io.File(r, "checkpoint").getCanonicalPath
        (batch, _) => { batches += 1; assert(ids(batch).size === 4) }
      }
      (ck, batches)
    }
    // two loops pinning the shared session at once can restore each
    // other's pinned values (the documented conf bleed) — this case is
    // about checkpoint isolation, so put the session back afterwards
    val runs =
      try graft.ops.ConcurrentJobs.settleAll(spark)(() => oneRun(), () => oneRun())
      finally before.foreach { case (k, v) => spark.conf.set(k, v) }
    assert(runs.map(_._2) === Seq(3, 3), "each run replays all its batches")
    assert(runs.map(_._1).distinct.size === 2, s"shared checkpoint: $runs")
  }
}
