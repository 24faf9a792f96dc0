package graft.queries

import graft.SparkSpec

/** [[PinnedExec]] — the input-derived shuffle-partition pin the eager
  * contract operators run under (round 19). Pins the formula's three
  * regimes (bytes-dominant at scale, parallelism floor at test scale,
  * core cap) and the restore-always contract of the scope.
  */
class PinnedExecSpec extends SparkSpec {

  private def parts(bytes: Long): Long =
    MicroBatchLoop.derivedParts(spark, bytes).toLong

  test("derivedParts: floor, bytes dominance, and core cap") {
    val cores = spark.sparkContext.defaultParallelism.toLong
    val split = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    // tiny input → the cores/4 parallelism floor (at least 1)
    assert(parts(1L) === math.max(1L, cores / 4))
    // bytes term grows with input until the core cap binds
    assert(parts(split * cores * 10) === cores)
    // mid-range: exactly the ceil(bytes / split) term once past the floor
    val mid = split * math.max(2L, cores / 2)
    assert(parts(mid) === math.min(cores, math.max(mid / split, cores / 4)))
  }

  test("withDerivedParts pins inside the scope and restores after") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val seen = PinnedExec.withDerivedParts(spark, "/nonexistent/input") {
      spark.conf.get(key)
    }
    // nonexistent input → 0 bytes → the floor
    assert(seen.toLong === math.max(1L, spark.sparkContext.defaultParallelism / 4L))
    assert(spark.conf.get(key) === before)
  }

  test("withDerivedParts restores on exception") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    intercept[RuntimeException] {
      PinnedExec.withDerivedParts(spark, "/nonexistent/input") {
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.get(key) === before)
  }

  test("inputBytes sums real file sizes and ignores missing paths") {
    val f = java.io.File.createTempFile("pinned_exec_spec", ".bin")
    try {
      java.nio.file.Files.write(f.toPath, new Array[Byte](4096))
      val b = PinnedExec.inputBytes(spark, f.getAbsolutePath, "/no/such/path")
      assert(b === 4096L)
    } finally { f.delete(); () }
  }
}
