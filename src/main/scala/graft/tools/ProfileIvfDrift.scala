package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Diagnostic: MEASURE what [[graft.ops.IvfIndex.rebuild]] buys after
  * frozen-quantizer ingest, instead of asserting it. The drift
  * scenario: the index is built on a NON-representative slice (here the
  * upper half of the id space, so the seeded centroids are NOT the ones
  * a full-corpus build would pick), then the rest of the corpus is
  * folded in against the frozen quantizer — the realistic long-running-
  * ingest shape. The report compares, for the frozen index vs the
  * rebuilt one:
  *   - per-cell row balance (max/median/min rows per cell — drift shows
  *     up as bloated cells, which at 100 TB means probes scan more
  *     bytes per cell than the layout promised);
  *   - mean recall@k of the nprobe-pruned probe against brute-force
  *     cosine ground truth over a deterministic probe set (every
  *     `probeEvery`-th vector, offset 7 — the annRecallContract probe
  *     convention).
  *
  * Usage: sbt "runMain graft.tools.ProfileIvfDrift <sfDir> [probeEvery] [k] [nprobe]"
  */
object ProfileIvfDrift {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val probeEvery = args.lift(1).map(_.toLong).getOrElse(100L)
    val k = args.lift(2).map(_.toInt).getOrElse(5)
    val nprobe = args.lift(3).map(_.toInt).getOrElse(2)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.ops.{IvfIndex, Similarity}

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    val path = s"${sys.props("java.io.tmpdir")}/graft_ivf_drift_" +
      s"${ProcessHandle.current().pid()}"
    graft.queries.MicroBatchLoop.rmTree(new java.io.File(path))

    // drift setup: seed the quantizer on the UPPER half (centroids
    // n/2 .. n/2+7), fold the lower half in frozen
    IvfIndex.write(emb.filter(col("vec_id") >= n / 2), "vec_id",
      "embedding", path, numCentroids = 8)
    IvfIndex.append(spark, emb.filter(col("vec_id") < n / 2), "vec_id",
      "embedding", path)

    def cellBalance(tag: String): Unit =
      spark.read.parquet(path).groupBy("cell")
        .agg(count(lit(1)).as("rows"))
        .agg(count(lit(1)).as("cells"), min("rows").as("min_rows"),
          expr("percentile(rows, 0.5)").as("median_rows"),
          max("rows").as("max_rows"))
        .collect().foreach(r => println(s"[balance] $tag $r"))

    // deterministic probe set + brute ground truth (exact cosine, the
    // knnBrute convention: zero-norm excluded, (sim desc, id) order)
    val probes = emb.filter(col("vec_id") % probeEvery === 7L)
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    println(s"[setup] n=$n probes=${probes.length} k=$k nprobe=$nprobe dir=$dir")

    def bruteTop(id: Long): Set[Long] =
      Similarity.knnBrute(emb, "vec_id", "embedding", id, k)
        .collect().map(_.getLong(0)).toSet
    val truth = probes.map { case (id, _) => id -> bruteTop(id) }.toMap

    def meanRecall(tag: String): Double = {
      val rs = probes.map { case (id, v) =>
        val got = IvfIndex.probe(spark, path, "vec_id", v, k, nprobe,
          excludeId = Some(id)).collect().map(_.getLong(0)).toSet
        (got & truth(id)).size.toDouble / k
      }
      val m = rs.sum / rs.length
      println(f"[recall] $tag mean_recall@$k = $m%.4f over ${rs.length} probes")
      m
    }

    cellBalance("frozen ")
    val frozenRecall = meanRecall("frozen ")
    val t0 = System.nanoTime()
    IvfIndex.rebuild(spark, path, "vec_id", numCentroids = 8)
    println(f"[time] rebuild ${(System.nanoTime() - t0) / 1e9}%.2f s")
    cellBalance("rebuilt")
    val rebuiltRecall = meanRecall("rebuilt")
    println(f"[drift] recall delta (rebuilt - frozen) = ${rebuiltRecall - frozenRecall}%.4f")

    // the SEEDING comparison (round 14): rebuild the same at-rest corpus
    // with the Lloyd-refined quantizer and report what geometry-aware
    // seeding buys over the lowest-id layout just measured
    IvfIndex.rebuild(spark, path, "vec_id", numCentroids = 8,
      kmeansIters = 1)
    cellBalance("kmeans ")
    val kmeansRecall = meanRecall("kmeans ")
    println(f"[seed] recall delta (kmeans - lowest-id) = ${kmeansRecall - rebuiltRecall}%.4f")
    graft.queries.MicroBatchLoop.rmTree(new java.io.File(path))
    spark.stop()
  }
}
