package graft.queries

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The one micro-batch loop shape every at-rest maintenance loop runs:
  * a corpus staged as `n` mtime-ordered parquet batch files, replayed
  * by a checkpointed file source (`maxFilesPerTrigger = 1`,
  * `Trigger.AvailableNow`) into an idempotent `foreachBatch` body — the
  * Structured Streaming replay-into-idempotent-sink shape, owned here
  * once. [[run]] owns the scratch dir (checkpoint inside it), staging,
  * the loop conf and cleanup; [[builtOnce]] owns the per-JVM registry
  * of stores that outlive their loop.
  */
object MicroBatchLoop {

  /** Ephemeral scratch base: tmpfs when the host has one — loop scratch
    * (staged batch files, checkpoints, per-run stores) is written and
    * read back within one query invocation, so disk persistence buys
    * nothing. The per-file cost of the partitioned-store fan-out
    * (hundreds of small files per append) was not the filesystem's
    * metadata ops: profiled on a 4-core host without `libhadoop`, it was
    * Hadoop's local filesystem forking `chmod` for every file it created
    * and `readlink` twice per checkpoint-log rename (~3,700 processes per
    * pass of the six store loops), which [[graft.io.LocalFs]] removes. A
    * durable deployment writes its stores and checkpoints to real
    * storage — layout, not location, is the operator contract.
    */
  private val scratchBase: java.io.File =
    if (new java.io.File("/dev/shm").isDirectory) new java.io.File("/dev/shm")
    else new java.io.File(System.getProperty("java.io.tmpdir"))

  /** A fresh, uniquely named dir under [[scratchBase]]. */
  def scratchDir(tag: String): java.io.File =
    java.nio.file.Files
      .createTempDirectory(scratchBase.toPath, s"graft_${tag}_").toFile

  /** Recursive delete. `listFiles` is null when a dir vanishes between
    * the check and the listing (a concurrent cleanup, JVM exit).
    */
  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles match {
      case null => ()
      case kids => kids.foreach(rmTree)
    }
    f.delete(); ()
  }

  /** Label one phase's jobs in the UI/listeners (optimization guide
    * §1.5). Thread-local; concurrently submitted phases go through
    * [[graft.ops.ConcurrentJobs.settleAll]], which carries the label.
    */
  def labeled[A](s: SparkSession, label: String)(f: => A): A = {
    // restore the PREVIOUS description, not null: inside foreachBatch
    // the streaming engine owns the thread's description, and nested
    // labeled scopes must not erase their outer label (r18 ADVICE)
    val prev = s.sparkContext.getLocalProperty("spark.job.description")
    s.sparkContext.setJobDescription(label)
    try f finally s.sparkContext.setJobDescription(prev)
  }

  /** Run `body` with each `key -> value` pinned on the session conf and
    * restore the previous values afterwards, also on failure. The pin
    * mutates the SHARED session: a concurrent query sees it for the
    * scope's duration. That changes plan shape only (results are
    * partition-count-independent; the oracle pins that).
    */
  def withConf[A](s: SparkSession, pins: (String, String)*)(body: => A): A = {
    val prev = pins.map { case (k, _) => k -> s.conf.get(k) }
    pins.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach { case (k, v) => s.conf.set(k, v) }
  }

  /** Input-derived shuffle-partition count — a FORMULA, not a constant
    * (the r18 rounds pinned "8", an sf0.1-tuned magic number), shared
    * by the loops' batches and [[PinnedExec]]'s eager bodies: max of
    *
    *  - the BYTES term, input bytes / scan split size
    *    (`spark.sql.files.maxPartitionBytes` — shuffle partitions track
    *    scan partitions), which dominates at scale (a 100 TB
    *    deployment's quarter-corpus batch divides out far past the
    *    floor), and
    *  - a PARALLELISM floor of defaultParallelism/4 — per-batch shuffle
    *    stages do CPU work (shingle/md5 hashing, codegen joins) that a
    *    bytes-only count would serialize at test scale; A/B-measured at
    *    sf0.1/32 cores: floor 8 beats bytes-derived 1 on q117/q140/q204
    *    (e.g. q204 7.0 s vs 9.1 s) while 16+ re-enters task-launch
    *    swamping (the r18 lesson), so a quarter of the cores is the
    *    measured knee,
    *
    * clamped to [1, defaultParallelism].
    */
  def derivedParts(s: SparkSession, bytes: Long): String = {
    val split = math.max(1L,
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        s.conf.get("spark.sql.files.maxPartitionBytes", "128m")))
    val cores = s.sparkContext.defaultParallelism.toLong
    val byBytes = (bytes + split - 1) / split
    math.max(1L, math.min(cores, math.max(byBytes, cores / 4))).toString
  }

  /** The execution shape of a micro-batch loop's bodies:
    *
    *  - batch-sized shuffle partitions (`parts`) — every per-batch job
    *    is over one micro-batch, and session-sized partition counts
    *    made the replay task-launch-bound (the
    *    [[StreamingQueries]] `runToCompletion` state-partition lesson);
    *  - adaptive query execution OFF. AQE re-plans after every
    *    exchange, which turns each per-batch action into a chain of
    *    stage-jobs (measured on q203: 302 jobs → 134, 13.6 s → 11.1 s
    *    at sf0.1 with everything else fixed). Its two payoffs are
    *    partition coalescing and skew splitting — both already decided
    *    here by the pinned batch-sized partition count, exactly why
    *    Spark itself runs streaming plans with AQE off. Per-batch
    *    re-planning is pure scheduling latency PER MICRO-BATCH at any
    *    scale;
    *  - a raised parallel-listing threshold: a store probe lists its
    *    partition dirs per read; the loops' store dir counts are
    *    LAYOUT-bounded (≤ bands·sigBuckets = 64 here), yet past the
    *    default threshold (32) each listing becomes a cluster JOB —
    *    measured ~0.2 s of pure scheduling per probe on a local FS
    *    where the driver lists 64 dirs in microseconds. Deployments on
    *    object stores with thousands of dirs re-lower this per loop.
    */
  def loopConf(parts: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> parts,
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "8192")

  /** Stage `df` as `n` mtime-ordered single-file parquet batches
    * (`batch0..batch{n-1}.parquet` under `in`) in ONE pass over the
    * input (guide §1.2/§2.4: the previous per-batch filter+coalesce
    * loop scanned and wrote the source n times — n jobs where one
    * suffices): `key` (an integral column in [0, n)) picks each row's
    * batch, `repartition(n, key)` lands every batch wholly inside one
    * task, and `partitionBy` writes all n files in one job. The moved
    * files' mtimes encode replay order for the file source (oldest
    * first). Returns the largest staged file's bytes — the batch size
    * [[derivedParts]] sizes the loop from.
    */
  private def stageMtimeBatches(df: DataFrame, key: Column, n: Int,
      in: java.io.File): Long = {
    val base = System.currentTimeMillis() - 3600L * 1000
    val tmp = new java.io.File(in.getParentFile, "stage")
    df.withColumn("__b", key.cast("int"))
      .repartition(n, col("__b"))
      .write.partitionBy("__b").parquet(tmp.toString)
    var maxBytes = 1L
    for (k <- 0 until n) {
      val dst = new java.io.File(in, s"batch$k.parquet")
      val dirK = new java.io.File(tmp, s"__b=$k")
      Option(dirK.listFiles)
          .flatMap(_.find(_.getName.endsWith(".parquet"))) match {
        case Some(part) =>
          java.nio.file.Files.move(part.toPath, dst.toPath); ()
        case None =>
          // an all-rows-elsewhere key writes no partition dir — stage an
          // empty single-file batch so the replay still sees n batches
          val e = new java.io.File(tmp, s"empty$k")
          df.limit(0).coalesce(1).write.parquet(e.toString)
          java.nio.file.Files.move(
            e.listFiles.find(_.getName.endsWith(".parquet")).get.toPath,
            dst.toPath)
          ()
      }
      dst.setLastModified(base + k * 2000L)
      maxBytes = math.max(maxBytes, dst.length)
    }
    rmTree(tmp)
    maxBytes
  }

  /** Replay `src` through one micro-batch loop: batch `k` holds the rows
    * whose `key` is `k` (an integral column in [0, n)), delivered in
    * order with micro-batch id `k`.
    *
    *  - A fresh [[scratchDir]] holds the staged batches (`in/`) and the
    *    checkpoint (`checkpoint/`); it is removed in a finally, so a
    *    failed run leaves nothing behind and cannot resume from another
    *    run's offsets.
    *  - Staging runs under the `<tag>: stage batches` label, outside
    *    the loop conf.
    *  - `loop(root)` runs under the loop conf ([[loopConf]], sized by
    *    [[derivedParts]] from the largest staged batch) before the
    *    stream starts — the place for state that must exist before the
    *    first batch (a frozen model, a benchmark index), and for paths
    *    under `root` that die with the run. It returns the per-batch
    *    body.
    *  - The conf is restored before `run` returns, so the caller's
    *    final union/sort runs under the session's own conf.
    */
  def run(s: SparkSession, tag: String, src: DataFrame, key: Column, n: Int)(
      loop: java.io.File => (DataFrame, Long) => Unit): Unit = {
    val root = scratchDir(tag)
    try {
      val in = new java.io.File(root, "in"); in.mkdirs()
      val batchBytes = labeled(s, s"$tag: stage batches") {
        stageMtimeBatches(src, key, n, in)
      }
      withConf(s, loopConf(derivedParts(s, batchBytes)): _*) {
        val body = loop(root)
        s.readStream.schema(src.schema)
          .option("maxFilesPerTrigger", "1")
          .option("latestFirst", "false")
          .parquet(in.toString)
          .writeStream
          .option("checkpointLocation", new java.io.File(root, "checkpoint").toString)
          .foreachBatch(body)
          .trigger(Trigger.AvailableNow()).start()
          .awaitTermination()
      }
    } finally rmTree(root)
  }

  /** Stores that outlive their loop, built ONCE per (tag, source dir)
    * per JVM, so benched iterations measure the serve/probe rather than
    * re-paying the commit-bound replay. One shutdown hook reclaims them
    * all.
    */
  private val built =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    built.values().forEach(p => rmTree(new java.io.File(p)))))

  /** The path of store `tag` built from `dir`: `build(path)` runs on
    * the first call for (tag, dir); later calls return the same path.
    */
  def builtOnce(tag: String, dir: String)(build: String => Unit): String =
    built.computeIfAbsent((tag, dir), _ => {
      val path = s"$scratchBase/graft_stream_${tag}_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      build(path)
      path
    })
}
