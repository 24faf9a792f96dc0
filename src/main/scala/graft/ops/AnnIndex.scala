package graft.ops

import graft.functions.GraftFunctions
import graft.io.Swap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The serving half of similarity search: the LSH-bucketed embedding
  * index AT REST. [[Similarity.annQuery]] recomputes buckets per query —
  * right for ad-hoc analysis, wrong for a serving path that probes the
  * same corpus thousands of times. Here the bucket becomes a PARTITION
  * column of a parquet table written once; a probe computes the query's
  * bucket driver-side (a |planes|·dim dot product — microseconds) and
  * filters on the partition column, so partition pruning reduces the
  * scan to ONE bucket's files out of 2^numPlanes directories. At 100 TB
  * that is the difference between a full corpus scan per query and
  * reading ~corpus/2^numPlanes bytes; `PlanGuardSpec` pins the
  * `PartitionFilters` entry in the executed probe plan.
  *
  * Determinism contract: buckets use the same md5-derived hyperplanes
  * as [[Similarity.lshPlanes]], and the driver-side bucket computation
  * accumulates the dot product sequentially left-to-right in double —
  * bit-identical to the codegen'd `graft_dot`, so a vector's stored
  * bucket always equals the bucket any in-plan computation would
  * assign. Index layout cannot change results: q116 is judged against
  * q27's oracle SQL verbatim.
  *
  * Partition values are prefixed with 'b' ("b01101001") so partition
  * type inference can never strip the leading zeros of a bucket string
  * by parsing it as an integer.
  */
object AnnIndex {

  /** Deterministic driver-side bucket of one query vector (sequential
    * left-to-right double accumulation — the `graft_dot` semantics).
    */
  def bucketOf(vec: Array[Double], numPlanes: Int): String = {
    val planes = Similarity.lshPlanes(numPlanes, vec.length)
    val bits = planes.map { p =>
      var s = 0.0
      var i = 0
      val n = math.min(vec.length, p.length)
      while (i < n) { s += vec(i) * p(i); i += 1 }
      if (s >= 0.0) '1' else '0'
    }
    "b" + new String(bits)
  }

  /** The multi-probe partition set of one query vector: its own bucket
    * plus every bucket at Hamming distance 1 (one plane bit flipped) —
    * numPlanes + 1 values out of 2^numPlanes. The at-rest analogue of
    * [[Similarity.multiProbeKeys]]: near-boundary neighbors land one
    * sign flip away, so probing the 1-ball recovers most of the recall
    * a single bucket loses (q112's judged multiprobe contract measures
    * 0.92–0.99 vs the single-bucket 0.7 bound) while the scan still
    * prunes to (numPlanes+1)/2^numPlanes of the index directories.
    */
  def probeBucketsOf(queryVec: Array[Double], numPlanes: Int): Seq[String] = {
    val b0 = bucketOf(queryVec, numPlanes)
    val bits = b0.substring(1).toCharArray
    b0 +: (0 until numPlanes).map { j =>
      val c = bits.clone()
      c(j) = if (c(j) == '0') '1' else '0'
      "b" + new String(c)
    }
  }

  /** Write the bucket-partitioned index: one directory per LSH bucket,
    * each row carrying the normalized-precision vector and its
    * precomputed norm (so a probe never re-derives per-row norms).
    */
  def write(embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, numPlanes: Int = 8, dim: Int = 0,
      saltBuckets: Int = 1): Unit =
    store(embeddings, idCol, vecCol, path, numPlanes, dim,
      org.apache.spark.sql.SaveMode.Overwrite, saltBuckets)

  /** Fold a batch of new vectors INTO an existing index: the bucket
    * layout makes ingest a pure partition APPEND (each batch adds files
    * under the bucket directories it hashes into; existing files are
    * never rewritten) — the maintenance path that keeps the at-rest
    * index current as a corpus grows, streaming or batch. Probes are
    * layout-agnostic, so append-built ≡ write-built, exactly
    * (`AnnIndexSpec` pins it; q118 judges the streaming loop).
    */
  def append(embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, numPlanes: Int = 8, dim: Int = 0,
      saltBuckets: Int = 1): Unit =
    store(embeddings, idCol, vecCol, path, numPlanes, dim,
      org.apache.spark.sql.SaveMode.Append, saltBuckets)

  private def store(embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, numPlanes: Int, dim: Int,
      mode: org.apache.spark.sql.SaveMode, saltBuckets: Int = 1): Unit = {
    Swap.healed(embeddings.sparkSession, path)
    GraftFunctions.register(embeddings.sparkSession)
    val d =
      if (dim > 0) dim
      else embeddings.select(size(col(vecCol))).head().getInt(0)
    val planes = Similarity.lshPlanes(numPlanes, d)
    val v = Similarity.toDoubleVec(col(vecCol))
    val rows = embeddings
      .select(col(idCol), v.as("v"),
        concat(lit("b"), Similarity.lshBucket(v, planes)).as("bucket"))
      .withColumn("nrm", sqrt(GraftFunctions.dotNative(col("v"), col("v"))))
    // shuffle by the partition column before the partitioned write:
    // each task then owns whole buckets (ONE file per bucket dir per
    // store) instead of every task writing into up to 2^numPlanes
    // dirs — the standard dynamic-partition write shape. At test
    // scale the store cost is writer/commit fixed overhead (~10 ms ×
    // 2^numPlanes files, measured invariant to committer version and
    // this shuffle); at real scale, where bucket files are large,
    // the bounded-writers-per-task shape is what matters.
    // saltBuckets > 1 splits each bucket across up to that many writer
    // tasks (keyed on a stable hash of the id): with repartition(bucket)
    // alone a HOT bucket serializes on one task at ingest scale; the
    // salt trades that for ≤saltBuckets files per bucket dir — exactly
    // the fragmentation [[compactBuckets]] exists to clean up. Probes
    // are layout-agnostic, so salted ≡ unsalted (AnnIndexSpec pins it).
    val parted =
      if (saltBuckets <= 1) rows.repartition(col("bucket"))
      else rows.repartition(col("bucket"),
        pmod(xxhash64(col(idCol)), lit(saltBuckets.toLong)))
    parted.write.mode(mode).partitionBy("bucket").parquet(path)
  }

  /** The assembled 100 TB serving layout: bucket-PARTITIONED and int8
    * QUANTIZED at once — a probe partition-prunes to one bucket's files
    * ([[write]]'s pruning) and then scans only the 4×-smaller
    * `array<tinyint>` form ([[Quantize]]'s IO cut). The float vectors
    * are not stored here at all: this is the candidate tier; an exact
    * re-rank ([[Quantize.topKTwoTier]]'s tier 2) fetches floats from
    * the primary table by id. Buckets are assigned on the ORIGINAL
    * float vector (the same md5 planes as [[write]]), so the layout's
    * recall is exactly [[write]]'s — quantization changes similarity
    * values, never candidate membership.
    */
  def writeQuantized(embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, numPlanes: Int = 8, dim: Int = 0): Unit =
    storeQuantized(embeddings, idCol, vecCol, path, numPlanes, dim,
      org.apache.spark.sql.SaveMode.Overwrite)

  /** Fold a batch into the quantized index — the [[append]] maintenance
    * path for the int8 layout: per-vector quantization scales and md5
    * buckets are batch-local-stateless (no frozen side table to
    * consult, unlike [[IvfIndex.append]]), so ingest is a pure
    * partition append and append-built ≡ write-built exactly
    * (`AnnIndexSpec` pins it; q130 judges the fragmented replay
    * against q122's oracle verbatim).
    */
  def appendQuantized(embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, numPlanes: Int = 8, dim: Int = 0): Unit =
    storeQuantized(embeddings, idCol, vecCol, path, numPlanes, dim,
      org.apache.spark.sql.SaveMode.Append)

  private def storeQuantized(embeddings: DataFrame, idCol: String,
      vecCol: String, path: String, numPlanes: Int, dim: Int,
      mode: org.apache.spark.sql.SaveMode): Unit = {
    Swap.healed(embeddings.sparkSession, path)
    GraftFunctions.register(embeddings.sparkSession)
    val d =
      if (dim > 0) dim
      else embeddings.select(size(col(vecCol))).head().getInt(0)
    val planes = Similarity.lshPlanes(numPlanes, d)
    val v = Similarity.toDoubleVec(col(vecCol))
    Quantize.quantize(embeddings, idCol, vecCol)
      .join(embeddings.select(col(idCol),
        concat(lit("b"), Similarity.lshBucket(v, planes)).as("bucket")), idCol)
      .withColumn("qd", transform(col("qv"), x => x.cast("double")))
      .withColumn("qnrm", sqrt(GraftFunctions.dotNative(col("qd"), col("qd"))))
      .drop("qd")
      .repartition(col("bucket"))
      .write.mode(mode)
      .partitionBy("bucket").parquet(path)
  }

  /** Probe the quantized index: partition-prune to the query's bucket
    * (bucket of the FLOAT query vector), then rank by quantized cosine —
    * the query vector is quantized driver-side with the same max-abs
    * scheme, so the similarity is an exact integer dot product in any
    * engine. Same 6-decimal round + (sim desc, id) tie-break as every
    * top-k here.
    */
  def probeQuantized(spark: SparkSession, path: String, idCol: String,
      queryVec: Array[Double], k: Int = 5, numPlanes: Int = 8,
      excludeId: Option[Long] = None): DataFrame =
    rankQuantized(spark,
      tombstoneMask(spark, path, idCol, rows(spark, path)
        .filter(col("bucket") === lit(bucketOf(queryVec, numPlanes)))),
      idCol, queryVec, k, excludeId)

  /** Multi-probe the quantized index: q122's int8 scan over q123's
    * Hamming-1 bucket union — the cheapest-bytes AND highest-recall
    * candidate tier the at-rest layouts compose ((numPlanes+1)/2^
    * numPlanes of the directories, each 4× smaller than floats). The
    * `isin` stays a PARTITION filter exactly as in [[probeMulti]].
    * Judged as q126 (oracle = quantization CTEs × the Hamming ≤ 1
    * predicate, both halves already pinned by q122/q123).
    */
  def probeQuantizedMulti(spark: SparkSession, path: String, idCol: String,
      queryVec: Array[Double], k: Int = 5, numPlanes: Int = 8,
      excludeId: Option[Long] = None): DataFrame =
    rankQuantized(spark,
      tombstoneMask(spark, path, idCol, rows(spark, path)
        .filter(col("bucket").isin(probeBucketsOf(queryVec, numPlanes): _*))),
      idCol, queryVec, k, excludeId)

  /** The shared quantized ranking tail: query quantized driver-side
    * with the same max-abs scheme, integer dot products exact in any
    * engine, 6-decimal round + (sim desc, id) tie-break. `private[ops]`
    * so [[IvfIndex.probeQuantized]] ranks its cell-pruned scan with the
    * exact same semantics (one implementation, two layouts).
    */
  private[ops] def rankQuantized(spark: SparkSession, base: DataFrame,
      idCol: String, queryVec: Array[Double], k: Int,
      excludeId: Option[Long]): DataFrame = {
    GraftFunctions.register(spark)
    val m = queryVec.map(math.abs).foldLeft(0.0)(math.max)
    val qq = queryVec.map(x =>
      if (m == 0.0) 0.0 else BigDecimal(x * 127.0 / m)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val qv = typedlit(qq.toSeq)
    val probed = excludeId.fold(base)(id => base.filter(col(idCol) =!= id))
    probed
      // zero-norm rows never rank (cross-engine 0/0 divergence guard —
      // see [[Quantize.topKQuantized]]); the oracle filters identically.
      // qnrm is a STORED parquet column, so this costs a column read,
      // not a re-derivation.
      .filter(col("qnrm") > 0)
      .withColumn("qd", transform(col("qv"), x => x.cast("double")))
      .select(col(idCol),
        round(GraftFunctions.dotNative(col("qd"), qv) /
          (col("qnrm") * sqrt(GraftFunctions.dotNative(qv, qv))), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** The index's rows, read after healing its bucket swaps
    * ([[graft.io.Swap]]) — every read of the index goes through here.
    */
  private[ops] def rows(spark: SparkSession, path: String): DataFrame = {
    Swap.healed(spark, path)
    spark.read.parquet(path)
  }

  // ------------------------------------------------ delete / tombstones

  /** The index's tombstone relation (`_tombstones/` — underscore-hidden
    * from the data scan, the `_centroids` convention), normalized to
    * one `idCol` column. None when nothing was ever deleted.
    */
  private[ops] def tombstonesOf(spark: SparkSession, path: String,
      idCol: String): Option[DataFrame] = {
    val p = new Path(s"$path/_tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(p.toString).toDF(idCol))
    else None
  }

  /** Anti-join `base` against the index's tombstones (no-op when none
    * exist) — applied by every probe right after its partition-pruned
    * read, so a deleted vector can never rank. The mask costs one
    * anti-join against a delete-batch-proportional relation, never a
    * second index read.
    */
  private[ops] def tombstoneMask(spark: SparkSession, path: String,
      idCol: String, base: DataFrame): DataFrame =
    tombstonesOf(spark, path, idCol).foldLeft(base)(
      (df, ts) => df.join(ts, Seq(idCol), "left_anti"))

  /** Cross-batch EMBEDDING dedup against the at-rest index — the
    * [[graft.ops.Dedup.dedupAgainstSignatureStore]] question asked of
    * the vector store (text has the q109/q140 loop, images q170; this
    * closes the modality triangle): pair every batch vector with every
    * STORED vector in its LSH bucket at exact cosine ≥ `threshold`.
    * The batch is bucketed with the index's frozen md5 planes, its
    * distinct bucket values become a PARTITION IN-list (driver
    * exchange bounded by 2^numPlanes — layout-bounded, never
    * batch-bounded), the store scan prunes to those directories under
    * the tombstone mask, and the equi-join + exact-cosine filter run
    * on the pruned slice: pair space ∝ batch bucket collisions, never
    * |batch|×|store|. Arithmetic mirrors [[graft.ops.Similarity
    * .nearDupPairs]] exactly (same planes family, round-6 cosine), so
    * the cross relation is that detector's odd×even restriction.
    * Returns (new_id, corpus_id, sim).
    */
  def crossDedupAgainstIndex(batch: DataFrame, idCol: String,
      vecCol: String, path: String, threshold: Double,
      numPlanes: Int = 8, dim: Int = 0): DataFrame = {
    val spark = batch.sparkSession
    GraftFunctions.register(spark)
    val d =
      if (dim > 0) dim
      else batch.select(size(col(vecCol))).head().getInt(0)
    val planes = Similarity.lshPlanes(numPlanes, d)
    val v = Similarity.toDoubleVec(col(vecCol))
    val a = batch
      .select(col(idCol).as("new_id"), v.as("v_a"),
        concat(lit("b"), Similarity.lshBucket(v, planes)).as("bucket"))
      .withColumn("nrm_a",
        sqrt(GraftFunctions.dotNative(col("v_a"), col("v_a"))))
      // probed twice: the bucket collect and the join
      .localCheckpoint()
    val buckets = a.select(col("bucket")).distinct()
      .collect().map(_.getString(0)).toSeq
    val store = tombstoneMask(spark, path, idCol,
        rows(spark, path)
          .filter(col("bucket").isin(buckets.map(x => x: Any): _*)))
      .select(col(idCol).as("corpus_id"), col("v").as("v_b"),
        col("nrm").as("nrm_b"), col("bucket"))
    a.join(store, Seq("bucket"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select(col("new_id"), col("corpus_id"),
        round(GraftFunctions.dotNative(col("v_a"), col("v_b")) /
          (col("nrm_a") * col("nrm_b")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Full-store within-bucket cosine pair sweep — the MAINTENANCE
    * pass's pair source for the vector index ([[graft.ops.Dedup
    * .hammingPairsFromSignatureStore]]'s question asked of the
    * bucket-partitioned embedding store): every ordered pair of STORED
    * vectors sharing an LSH bucket at exact round-6 cosine ≥
    * `threshold`, computed ENTIRELY from the at-rest `bucket=`
    * partitions — the primary embedding table is never read. At 100 TB
    * of vectors a periodic canonicalization pass costs an index scan
    * (the vectors and norms are already materialized per bucket, and
    * the pair join's equi-key is the partition value the files are
    * already laid out by) instead of a corpus re-embed/re-bucket.
    * Pairs are IDENTICAL to [[graft.ops.Similarity.nearDupPairs]]'s
    * under the same plane family by construction — buckets were
    * assigned at write time with the same md5 planes and the verify is
    * the same round-6 cosine — so where the vectors live cannot change
    * a pair. Tombstoned (deleted, un-purged) ids are masked out first:
    * a decision must not see evicted vectors. Returns
    * (id_a, id_b, sim) with id_a < id_b.
    */
  def cosinePairsFromIndex(spark: SparkSession, path: String, idCol: String,
      threshold: Double): DataFrame = {
    GraftFunctions.register(spark)
    val store = tombstoneMask(spark, path, idCol, rows(spark, path))
      .select(col(idCol).as("id"), col("v"), col("nrm"), col("bucket"))
    val a = store.toDF("id_a", "v_a", "nrm_a", "bucket")
    val b = store.toDF("id_b", "v_b", "nrm_b", "bucket")
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(GraftFunctions.dotNative(col("v_a"), col("v_b")) /
          (col("nrm_a") * col("nrm_b")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  // ---------------------------------------------------- drift monitoring

  /** [[graft.ops.IvfIndex.writeDriftProfile]]'s build-time balance
    * profile for the LSH layout (`_drift/`, one row: build_max,
    * build_total — integer max-bucket and total row counts). Bucket
    * balance is the same serving-cost contract cell balance is: a
    * probe reads ~1/2^numPlanes of the corpus only while buckets hold
    * comparable populations, and the md5 plane family is as frozen as
    * any quantizer — ingest never re-derives it, so a shifted
    * distribution piles new rows into few sign patterns and erodes
    * exactly that ratio, silently.
    */
  def writeDriftProfile(spark: SparkSession, path: String): Unit = {
    rows(spark, path)
      .groupBy(col("bucket")).agg(count(lit(1)).as("nr"))
      .agg(max(col("nr")).as("build_max"), sum(col("nr")).as("build_total"))
      .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/_drift")
  }

  /** JUDGED drift verdict for a candidate ingest batch against the
    * frozen plane family — [[graft.ops.IvfIndex.driftCheck]]'s
    * integer-product law for the LSH index (the THIRD frozen geometry
    * monitored: IVF cells, the PQ codebook, and now the sign-pattern
    * buckets): the batch is bucketed with [[append]]'s exact
    * arithmetic (the same memoized md5 planes — `sign(v·p)` per
    * plane), per-bucket counts fold to (batch_max, batch_total), and
    * the verdict fires when the batch's max-bucket fraction exceeds
    * `fireNum/fireDen` × the build's, compared as exact integer
    * products. Sign patterns are SCALE-invariant (`sign(3v·p) =
    * sign(v·p)`), so a re-embedded-by-rescale corpus provably cannot
    * fire this monitor — that drift belongs to [[graft.ops
    * .ProductQuantize.quantizationDrift]]; a directional collapse
    * (the |x| fold) concentrates the sign patterns and does. Returns
    * one row: (build_max, build_total, batch_max, batch_total,
    * rebuild_fired).
    */
  def driftCheck(batch: DataFrame, idCol: String, vecCol: String,
      path: String, numPlanes: Int = 8, fireNum: Long = 3,
      fireDen: Long = 2): DataFrame = {
    val spark = batch.sparkSession
    GraftFunctions.register(spark)
    val v = Similarity.toDoubleVec(col(vecCol))
    val dim = batch.select(size(col(vecCol))).head().getInt(0)
    val planes = Similarity.lshPlanes(numPlanes, dim)
    batch
      .select(col(idCol), Similarity.lshBucket(v, planes).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("nr"))
      .agg(max(col("nr")).as("batch_max"), sum(col("nr")).as("batch_total"))
      .crossJoin(broadcast(spark.read.parquet(s"$path/_drift")))
      .select(col("build_max"), col("build_total"),
        col("batch_max"), col("batch_total"),
        (col("batch_max") * col("build_total") * lit(fireDen) >
          col("build_max") * col("batch_total") * lit(fireNum))
          .as("rebuild_fired"))
  }

  /** DELETE vectors from a bucket/cell-partitioned at-rest index — the
    * eviction the ANN family needs once a dedup loop starts dropping
    * keep-best losers (the [[graft.ops.Retrieval.deleteFromBm25Index]]
    * story, for vectors). LSM semantics: ONE append of the new ids
    * under `_tombstones/`; nothing existing is rewritten, no side
    * statistics exist to adjust (unlike BM25/shingle stores, an ANN
    * probe carries no global aggregates — and the FROZEN quantizer
    * geometry deliberately does NOT change on delete, exactly as it
    * does not change on append). Probes mask against the tombstones;
    * physical removal is [[purgeIndex]]. Double deletes and unknown
    * ids are no-ops by construction (the mask is a set anti-join; the
    * guard below just keeps the relation from growing).
    */
  def deleteFromIndex(ids: DataFrame, idCol: String, path: String): Unit = {
    val spark = ids.sparkSession
    require(Swap.healed(spark, path).exists(new Path(path)),
      s"deleteFromIndex: no index at $path")
    val doomed = tombstonesOf(spark, path, idCol)
      .foldLeft(ids.select(col(idCol)).distinct())(
        (d, ts) => d.join(ts, Seq(idCol), "left_anti"))
      // freeze before writing into the relation the guard just read
      .localCheckpoint()
    doomed.write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"$path/_tombstones")
    ()
  }

  /** Physically remove tombstoned vectors — the major-compaction half
    * of [[deleteFromIndex]]. Cost scales with AFFECTED partitions, not
    * the index: one column-pruned (id, partition) scan finds the
    * buckets/cells that hold doomed rows, ONE distributed job rewrites
    * exactly those directories without the tombstoned ids (the
    * [[compactBuckets]] read-flagged-leaves/swap-per-dir shape; a
    * directory whose every row was doomed is swapped for an empty
    * one), and `_tombstones/` is dropped LAST so the mask stays in
    * place across a mid-purge crash (a re-run finishes the job). Same
    * maintenance-lock caveat as [[compactBuckets]].
    */
  def purgeIndex(spark: SparkSession, path: String, idCol: String,
      partCol: String = "bucket"): Unit = {
    val root = new Path(path)
    val fs = Swap.healed(spark, path)
    val tsPath = new Path(s"$path/_tombstones")
    if (!fs.exists(tsPath)) return
    val ts = spark.read.parquet(tsPath.toString).toDF(idCol)
      .distinct().localCheckpoint()
    if (ts.head(1).nonEmpty) {
      val affected = spark.read.parquet(path)
        .join(ts, Seq(idCol), "leftsemi")
        .select(col(partCol)).distinct()
        .collect().map(_.getString(0)).sorted // bounded by the partition count
      if (affected.nonEmpty) {
        val dirs = affected.map(v => new Path(root, s"$partCol=$v"))
        val tmp = new Path(root, ".purge_tmp")
        fs.delete(tmp, true)
        spark.read.option("basePath", path)
          .parquet(dirs.map(_.toString).toIndexedSeq: _*)
          .join(ts, Seq(idCol), "left_anti")
          .repartition(col(partCol))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy(partCol).parquet(tmp.toString)
        dirs.foreach { dir =>
          val next = new Path(tmp, dir.getName)
          if (!fs.exists(next)) fs.mkdirs(next)
          Swap.swapIn(fs, dir, next)
        }
        fs.delete(tmp, true)
      }
    }
    fs.delete(tsPath, true)
    ()
  }

  /** Compact an append-fragmented index into ONE file per bucket.
    * Streaming ingest ([[append]], q118) adds a file per bucket per
    * micro-batch; after B batches every probe opens B files where one
    * would do, and at 100 TB the file-listing + footer reads dominate
    * probe latency long before the data does — the classic streaming
    * small-file problem. Compaction is the maintenance half of the
    * at-rest layout: read back, shuffle by the partition column so one
    * task owns whole buckets (the [[store]] write shape), rewrite.
    * Layout-only by construction — probes are layout-agnostic, so
    * compacted ≡ fragmented, exactly (`AnnIndexSpec` pins it; q120 is
    * judged against q27's oracle verbatim). At real scale this runs as
    * a background job on buckets whose file count crossed a threshold
    * (per-partition OPTIMIZE), not the whole index at once.
    */
  def compact(spark: SparkSession, srcPath: String, dstPath: String): Unit = {
    // the copy is also a purge: tombstoned rows (column name read from
    // the tombstone relation itself) must not travel to a destination
    // that carries no _tombstones dir — that would silently resurrect
    // every deleted vector
    val tsPath = new Path(s"$srcPath/_tombstones")
    val fs = Swap.healed(spark, srcPath)
    val src = spark.read.parquet(srcPath)
    val live =
      if (fs.exists(tsPath)) {
        val ts = spark.read.parquet(tsPath.toString)
        src.join(ts, Seq(ts.columns.head), "left_anti")
      } else src
    live
      .repartition(col("bucket"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("bucket").parquet(dstPath)
  }

  /** Threshold-triggered per-bucket OPTIMIZE — the incremental form of
    * [[compact]] that a background maintenance job actually runs: only
    * buckets whose part-file count EXCEEDS `maxFilesPerBucket` are
    * rewritten (in place, to one file); every other bucket's files are
    * left byte-identical, so steady-state maintenance cost scales with
    * the ingest-hot buckets, never the index size. Layout-only by the
    * same argument as [[compact]] — probes are layout-agnostic
    * (`AnnIndexSpec` pins probe equality and the untouched-bucket file
    * lists). Each flagged bucket dir is swapped in whole, under
    * [[graft.io.Swap]]'s single-maintenance-writer contract. Returns
    * the compacted bucket values, sorted.
    */
  def compactBuckets(spark: SparkSession, path: String,
      maxFilesPerBucket: Int = 4, partCol: String = "bucket"): Seq[String] = {
    val root = new Path(path)
    val fs = Swap.healed(spark, path)
    def partFiles(dir: Path) = fs.listStatus(dir)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
    val over = fs.listStatus(root)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith(s"$partCol="))
      .map(_.getPath)
      .filter(d => partFiles(d).length > maxFilesPerBucket)
      .sortBy(_.getName)
    if (over.nonEmpty) {
      // ONE job rewrites every flagged bucket: read just the flagged
      // leaf dirs (basePath keeps the partition column), shuffle by the
      // partition column so one task owns whole buckets (ONE file per
      // bucket dir — the [[store]] write shape), land in a dot-prefixed
      // tmp the data scan can't see, then swap per bucket. A
      // per-bucket-sequential rewrite would be driver-bound at hundreds
      // of flagged buckets (q118's post-ingest pass flags ~256) — the
      // distributed single job is what a real OPTIMIZE runs.
      // `partCol` generalizes the pass to any bucket-partitioned
      // at-rest relation ([[Retrieval.compactBm25Index]]'s `tb`).
      val tmp = new Path(root, ".compact_tmp")
      spark.read.option("basePath", path)
        .parquet(over.map(_.toString).toIndexedSeq: _*)
        .repartition(col(partCol))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy(partCol).parquet(tmp.toString)
      over.foreach(dir => Swap.swapIn(fs, dir, new Path(tmp, dir.getName)))
      fs.delete(tmp, true)
    }
    over.map(_.getName.stripPrefix(s"$partCol=")).toSeq
  }

  /** Probe the at-rest index for the cosine top-k around `queryVec`.
    * The bucket filter is a PARTITION filter — the scan prunes to the
    * query bucket's files; everything after is the same 6-decimal
    * rounded re-rank with (sim desc, id asc) tie-break as
    * [[Similarity.annQuery]].
    */
  def probe(spark: SparkSession, path: String, idCol: String,
      queryVec: Array[Double], k: Int = 5, numPlanes: Int = 8,
      excludeId: Option[Long] = None): DataFrame = {
    GraftFunctions.register(spark)
    val qv = typedlit(queryVec.toSeq)
    val base = tombstoneMask(spark, path, idCol, rows(spark, path)
      .filter(col("bucket") === lit(bucketOf(queryVec, numPlanes))))
    val probed = excludeId.fold(base)(id => base.filter(col(idCol) =!= id))
    probed
      // zero-norm exclusion: same cross-engine 0/0 guard as every
      // ranked cosine here (oracle carries the matching WHERE)
      .filter(col("nrm") > 0)
      .select(col(idCol),
        round(GraftFunctions.dotNative(col("v"), qv) /
          (col("nrm") * sqrt(GraftFunctions.dotNative(qv, qv))), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Multi-probe the at-rest index: scan the query's bucket PLUS its
    * Hamming-1 neighbors ([[probeBucketsOf]]) and re-rank the union by
    * exact cosine. The `isin` over numPlanes+1 bucket values stays a
    * PARTITION filter (`PartitionFilters: bucket IN (...)` —
    * PlanGuardSpec pins it), so the scan reads
    * (numPlanes+1)/2^numPlanes of the index instead of 1/2^numPlanes —
    * the served counterpart of the in-memory multiprobe recall contract
    * (q112): without this, the serving path's recall regime is strictly
    * weaker than the one the engine judges. Judged as q123 (the oracle
    * enumerates the same 1-ball via a Hamming-distance ≤ 1 predicate
    * over recomputed bucket strings); AnnIndexSpec pins union ≡
    * in-memory 1-ball and candidate-superset-of-single-bucket.
    */
  def probeMulti(spark: SparkSession, path: String, idCol: String,
      queryVec: Array[Double], k: Int = 5, numPlanes: Int = 8,
      excludeId: Option[Long] = None): DataFrame = {
    GraftFunctions.register(spark)
    val qv = typedlit(queryVec.toSeq)
    val buckets = probeBucketsOf(queryVec, numPlanes)
    val base = tombstoneMask(spark, path, idCol, rows(spark, path)
      .filter(col("bucket").isin(buckets: _*)))
    val probed = excludeId.fold(base)(id => base.filter(col(idCol) =!= id))
    probed
      .filter(col("nrm") > 0)
      .select(col(idCol),
        round(GraftFunctions.dotNative(col("v"), qv) /
          (col("nrm") * sqrt(GraftFunctions.dotNative(qv, qv))), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** The END-TO-END serving path the quantized layout exists for,
    * composed against storage: tier 1 is [[probeQuantized]] — the
    * partition-pruned int8 scan of the at-rest index (no floats stored
    * there at all) cut to the quantized top-(k·overfetch); tier 2
    * fetches ONLY those candidates' float vectors from the PRIMARY
    * table (a broadcast LEFT SEMI lookup — |candidates| rows against
    * the corpus) and re-ranks them by exact cosine. At 100 TB the
    * per-query read is one bucket directory of int8 bytes plus
    * k·overfetch primary rows — the cheapest complete (approximate-cut,
    * exact-answer) probe any layout here offers. Deterministic tier by
    * tier ((sim desc, id) total order at both cuts), so the judged
    * oracle composes q122's CTEs with q121's re-rank tier exactly —
    * judged as q124; AnnIndexSpec pins the composition against the
    * tier-1 op's cut re-ranked in-plan.
    *
    * `multiProbe = true` swaps tier 1 for [[probeQuantizedMulti]] — the
    * Hamming-1 bucket union instead of the single bucket — giving the
    * best-recall complete path the layouts compose (q126's candidate
    * tier under q124's exact answer; judged as q129 with the
    * correspondingly-composed oracle).
    */
  def probeTwoTier(spark: SparkSession, quantPath: String,
      primary: DataFrame, idCol: String, vecCol: String,
      queryVec: Array[Double], k: Int = 10, overfetch: Int = 4,
      numPlanes: Int = 8, excludeId: Option[Long] = None,
      multiProbe: Boolean = false): DataFrame = {
    GraftFunctions.register(spark)
    val tier1 =
      if (multiProbe) probeQuantizedMulti(spark, quantPath, idCol, queryVec,
        k * overfetch, numPlanes, excludeId)
      else probeQuantized(spark, quantPath, idCol, queryVec,
        k * overfetch, numPlanes, excludeId)
    rerankExact(primary, idCol, vecCol, tier1.select(col(idCol)), queryVec, k)
  }

  /** The shared tier-2 exact re-rank: fetch ONLY the candidate ids'
    * float vectors from the primary table (a broadcast LEFT SEMI
    * lookup — |candidates| rows against the corpus) and rank by exact
    * cosine. `private[ops]` so [[IvfIndex.probeTwoTier]] composes the
    * identical tail over its cell-pruned tier 1 (one implementation,
    * two candidate layouts). Zero-norm exclusion on the RAW column
    * (same excluded set as the `nrm > 0` guard every ranked cosine
    * carries, without the pushed-down norm re-evaluation): tier 1's
    * qnrm > 0 already implies it while index and primary agree, but a
    * drifted primary row with an all-zero vector would otherwise rank
    * as 0/0 — NULL here, NaN-sorts-first in the oracle, the exact
    * cross-engine flip.
    */
  private[ops] def rerankExact(primary: DataFrame, idCol: String,
      vecCol: String, cand: DataFrame, queryVec: Array[Double],
      k: Int): DataFrame = {
    GraftFunctions.register(primary.sparkSession)
    val qv = typedlit(queryVec.toSeq)
    primary
      .filter(exists(col(vecCol), x => x =!= 0.0))
      .select(col(idCol), Similarity.toDoubleVec(col(vecCol)).as("v"))
      .join(broadcast(cand), Seq(idCol), "left_semi")
      .withColumn("nrm", sqrt(GraftFunctions.dotNative(col("v"), col("v"))))
      .select(col(idCol),
        round(GraftFunctions.dotNative(col("v"), qv) /
          (col("nrm") * sqrt(GraftFunctions.dotNative(qv, qv))), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }
}
