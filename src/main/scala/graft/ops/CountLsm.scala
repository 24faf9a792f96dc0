package graft.ops

import graft.io.Swap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The shared mechanics of a COUNT-DELTA LSM at rest — the store shape
  * both trained curation models use ([[NaiveBayes]]'s label/token
  * counts, [[LanguageModel]]'s bigram/token counts), because both
  * models' sufficient statistics are ADDITIVE counts: ingest = append
  * a per-batch delta partition, unlearn = append the same counts
  * negated, serve = sum + smooth, OPTIMIZE = fold into one
  * `bid=__compacted` partition.
  *
  * What lives here is the lifecycle plumbing those stores share
  * verbatim, not the model arithmetic:
  *  - [[healedRoot]]: the `counts/` root, healed on every access;
  *  - [[foldedBids]]: the ledger of batch ids ever folded into
  *    `__compacted`, so a crash-RETRY of an already-compacted batch is
  *    a no-op instead of a double count;
  *  - [[compactSwap]]: the compaction's swap of a freshly folded
  *    `counts/` root.
  * Both swap and heal are [[graft.io.Swap]]'s, with one store-specific
  * drop ([[retireAndDrop]]): the old root's original deltas are
  * retired, not deleted, so a heal after a cut compaction finishes the
  * retirement and no folded batch vanishes from the snapshot set.
  */
private[ops] object CountLsm {

  /** The store's `counts/` root, after [[graft.io.Swap.heal]]. */
  def healedRoot(spark: SparkSession, path: String): String = {
    val live = new Path(s"$path/counts")
    Swap.heal(Swap.fs(spark, path), live, retireAndDrop(path))
    live.toString
  }

  /** Move every ORIGINAL `bid=` delta partition under `oldRoot` into
    * `$path/retired/<sub>/` (the compaction-superseded file set, kept
    * for [[writeSnapshot]] reproducibility until [[vacuumRetired]]),
    * then drop `oldRoot`. `bid=__compacted` partitions are derived
    * sums, not originals — their constituent bids were retired by the
    * compaction that folded them — so they are skipped; non-partition
    * children (the `folded` ledger's files) are skipped the same way.
    * Idempotent across crash-retries: an already-retired bid's stale
    * copy is simply dropped with the old root.
    */
  private def retireAndDrop(path: String): Swap.Drop = (fs, oldRoot) => {
    for {
      sub <- fs.listStatus(oldRoot).toSeq if sub.isDirectory
      part <- fs.listStatus(sub.getPath).toSeq
      if part.isDirectory && part.getPath.getName.startsWith("bid=") &&
        part.getPath.getName != "bid=__compacted"
    } {
      val dest = new Path(
        s"$path/retired/${sub.getPath.getName}/${part.getPath.getName}")
      if (!fs.exists(dest)) {
        fs.mkdirs(dest.getParent)
        fs.rename(part.getPath, dest)
      }
    }
    fs.delete(oldRoot, true); ()
  }

  /** The bids ever folded into `bid=__compacted` — persisted by
    * [[compactSwap]] with the compacted partition so write/delete
    * retries of a folded batchId stay no-ops. Driver-side by design:
    * one short string per batch ever compacted (ingest-cadence-
    * proportional, never data-proportional).
    */
  def foldedBids(spark: SparkSession, root: String): Set[String] = {
    val p = new Path(s"$root/folded")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else spark.read.parquet(p.toString).collect().map(_.getString(0)).toSet
  }

  /** Filter a partitioned delta relation down to NON-folded bids (the
    * belt-and-braces read-side guard: a bid= partition re-appended
    * after its counts were compacted reads as the compacted copy only).
    */
  def dropFolded(df: org.apache.spark.sql.DataFrame,
      folded: Set[String]): org.apache.spark.sql.DataFrame =
    df.filter(!col("bid").isin(folded.toSeq.map(x => x: Any): _*))

  /** Read a `bid=`-partitioned delta relation with the partition column
    * pinned back to STRING: batch ids are string tokens by contract,
    * but Spark's partition-type inference re-types an all-digit
    * directory name ("bid=2024") as int, which would break every
    * string-keyed ledger comparison and `getString` collect downstream.
    * Every store read goes through here so the bid column's type is a
    * property of the contract, not of which batch ids happen to exist.
    */
  def readDeltas(spark: SparkSession, root: String,
      sub: String): org.apache.spark.sql.DataFrame = {
    val df = spark.read.parquet(s"$root/$sub")
    df.withColumn("bid", col("bid").cast("string"))
  }

  /** The compaction swap: `writeTmp` populates a fresh root (the
    * caller writes its folded `bid=__compacted` relations there), this
    * persists the accumulated folded-bid ledger beside them, then swaps
    * it in for `counts/` ([[graft.io.Swap.replace]]).
    *
    * SINGLE-WRITER CONTRACT ([[graft.io.Swap]]'s): compaction must not
    * race an ingest — a `writeCountBatch` interleaving with this swap
    * could land its delta partitions in the root being renamed aside
    * while its commit marker lands in the new root, leaving a marker
    * with no counts. Ingest batches may interleave with each other
    * (each owns its `bid=` partition). The [[foldedBids]] ledger covers
    * sequential retries only.
    */
  def compactSwap(spark: SparkSession, path: String, root: String,
      foldedNow: Seq[String])(writeTmp: String => Unit): Unit = {
    import spark.implicits._
    Swap.replace(Swap.fs(spark, path), new Path(root), retireAndDrop(path)) { tmp =>
      writeTmp(tmp.toString)
      foldedNow.toDF("bid").coalesce(1).write.parquet(s"$tmp/folded")
    }
  }

  // ---- snapshots: generation-pinned serving over the delta LSM ----
  //
  // The reproducibility half of the count-store lifecycle: a training
  // run records WHICH batches its gate decisions were served from
  // (writeSnapshot — a manifest of logical batch ids, never data), and
  // replays those decisions bit-exactly at any later time
  // (deltasAtSnapshot), across arbitrary subsequent ingest, unlearning
  // and compaction. Compaction makes this possible by RETIRING the
  // delta partitions it folds (retireAndDrop) instead of destroying
  // them — the Delta/Iceberg vacuum discipline re-expressed over the
  // bid= layout: superseded files stay until no live snapshot needs
  // them, then vacuumRetired reclaims. Manifests and retired deltas
  // live OUTSIDE the swapped counts/ root, so compactions never touch
  // them.

  /** Record the store's current logical batch set as snapshot `snapId`
    * — every bid ever folded plus every COMMITTED live bid
    * (`commitSub` is the store's commit-marker relation: a batch
    * exists iff its marker partition landed). Driver-side bid list by
    * construction (ingest-cadence-proportional). Overwrites an
    * existing manifest of the same id (retry-idempotent).
    */
  def writeSnapshot(spark: SparkSession, path: String, snapId: String,
      commitSub: String): Unit = {
    import spark.implicits._
    require(snapId.matches("[A-Za-z0-9_-]+"),
      s"snapshot id '$snapId' must be a plain partition token")
    val root = healedRoot(spark, path)
    val committed = readDeltas(spark, root, commitSub)
      .select(col("bid")).distinct()
      .collect().map(_.getString(0)).toSet - "__compacted"
    val bids = (foldedBids(spark, root) ++ committed).toSeq.sorted
    require(bids.nonEmpty, s"writeSnapshot: store at $path has no batches")
    bids.toDF("bid").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/snapshots/snap=$snapId")
  }

  /** The manifest of snapshot `snapId` — its logical batch-id set.
    * A missing manifest (never written, or dropped) fails loudly: a
    * pinned training run asking for a snapshot that no longer exists
    * must hear that, not a raw path error.
    */
  def snapshotBids(spark: SparkSession, path: String,
      snapId: String): Set[String] = {
    require(snapId.matches("[A-Za-z0-9_-]+"),
      s"snapshot id '$snapId' must be a plain partition token")
    val p = new Path(s"$path/snapshots/snap=$snapId")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"unknown snapshot '$snapId' at $path (never written, or dropped)")
    spark.read.parquet(p.toString)
      .select(col("bid").cast("string"))
      .collect().map(_.getString(0)).toSet
  }

  /** Ids of every live snapshot manifest under the store. */
  def liveSnapshotIds(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(s"$path/snapshots")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("snap=")).map(_.stripPrefix("snap=")).sorted
  }

  /** Drop snapshot `snapId`'s manifest — its pinned deltas become
    * reclaimable by the next [[vacuumRetired]] unless another live
    * snapshot still needs them.
    */
  def dropSnapshot(spark: SparkSession, path: String,
      snapId: String): Unit = {
    require(snapId.matches("[A-Za-z0-9_-]+"),
      s"snapshot id '$snapId' must be a plain partition token")
    val p = new Path(s"$path/snapshots/snap=$snapId")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true); ()
  }

  /** Reclaim every retired delta partition no live snapshot pins —
    * the store's VACUUM. Cost is a directory walk plus the manifests'
    * driver-side bid sets; data files are never read.
    */
  def vacuumRetired(spark: SparkSession, path: String): Unit = {
    val needed = liveSnapshotIds(spark, path)
      .flatMap(snapshotBids(spark, path, _)).toSet
    val ret = new Path(s"$path/retired")
    val fs = ret.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(ret)) return
    for {
      sub <- fs.listStatus(ret).toSeq if sub.isDirectory
      part <- fs.listStatus(sub.getPath).toSeq
      if part.getPath.getName.startsWith("bid=")
      if !needed.contains(part.getPath.getName.stripPrefix("bid="))
    } fs.delete(part.getPath, true)
  }

  /** The `sub` delta relation snapshot `manifest` serves: retired
    * deltas for its folded bids ∪ live deltas for the rest, restricted
    * to the manifest. Fails loudly if a manifest bid survives in
    * NEITHER (vacuumed past the snapshot, or a foreign manifest) —
    * a silent partial sum would be a wrong model, not a stale one.
    */
  def deltasAtSnapshot(spark: SparkSession, path: String, sub: String,
      manifest: Set[String]): org.apache.spark.sql.DataFrame = {
    val root = healedRoot(spark, path)
    val folded = foldedBids(spark, root)
    val live = readDeltas(spark, root, sub)
      .filter(col("bid") =!= "__compacted")
      .filter(!col("bid").isin(folded.toSeq.map(x => x: Any): _*))
    val retPath = new Path(s"$path/retired/$sub")
    val fs = retPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasRetired = fs.exists(retPath) &&
      fs.listStatus(retPath).exists(_.getPath.getName.startsWith("bid="))
    val all =
      if (hasRetired)
        live.unionByName(readDeltas(spark, s"$path/retired", sub))
      else live
    val avail = all.select(col("bid")).distinct()
      .collect().map(_.getString(0)).toSet
    val missing = manifest -- avail
    require(missing.isEmpty,
      s"snapshot serve: bids ${missing.toSeq.sorted.mkString(", ")} " +
        s"missing from $path/$sub — vacuumed past the snapshot?")
    all.filter(col("bid").isin(manifest.toSeq.map(x => x: Any): _*))
  }
}
