package graft.ops

import graft.functions.GraftFunctions
import graft.io.Swap
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The IVF serving layout AT REST — [[Similarity.ivfQuery]]'s coarse
  * quantizer made a PARTITION column, the cell-probed counterpart of
  * [[AnnIndex]]'s LSH buckets (ivfQuery's own scaladoc promises this
  * shape: "at rest the cell id becomes a partition column so a probe
  * prunes to nprobe cells' files").
  *
  * Layout: one directory per coarse cell (`cell=<centroid id>`), rows
  * carrying the double vector and its precomputed norm; the centroid
  * table (numCentroids rows: cid, cv, cnrm) is stored UNDER the index
  * at `_centroids/` — the underscore prefix keeps it invisible to the
  * data scan (the same convention that hides `_SUCCESS`), so
  * `spark.read.parquet(path)` sees only cells.
  *
  * A probe reads the centroid table (numCentroids rows — the bounded
  * driver-side read is the index's point, exactly like
  * [[AnnIndex.bucketOf]]'s plane table), ranks cells against the query
  * driver-side with the same sequential-double accumulation and
  * 6-decimal round as the in-plan expressions, and scans ONLY the top
  * `nprobe` cells' files via partition pruning. At 100 TB that is
  * nprobe/numCentroids of the corpus bytes per query, with the cell
  * choice costing numCentroids·dim driver flops — microseconds.
  *
  * Determinism contract: cells are assigned by the exact argmax
  * [[Similarity.ivfQuery]] computes (6-decimal rounded cosine,
  * smaller-cid tie-break), and the driver-side cell ranking reproduces
  * the in-plan `round(..., 6)` bit-for-bit (BigDecimal HALF_UP over
  * the sequential dot) — so the probe answers EXACTLY what ivfQuery
  * answers and q125 is judged against q37's oracle VERBATIM: index
  * layout cannot change results (`IvfIndexSpec` pins probe ≡ ivfQuery
  * and per-vector stored-cell equality; PlanGuardSpec pins the
  * `cell IN (...)` PartitionFilters entry).
  */
object IvfIndex {

  /** Heal the index root's own swap ([[rebuild]]) and its cell swaps
    * ([[purge]]) — the first step of every entry point ([[graft.io.Swap]]).
    */
  private def heal(spark: SparkSession, path: String): Unit =
    Swap.healAll(healRoot(spark, path), new Path(path))

  /** Heal only the root's own swap, where an [[AnnIndex]] entry point
    * that heals the cells follows; returns the filesystem.
    */
  private def healRoot(spark: SparkSession, path: String): FileSystem = {
    val fs = Swap.fs(spark, path)
    Swap.heal(fs, new Path(path))
    fs
  }

  /** The coarse quantizer's centroid table for a build:
    *  - `kmeansIters = 0`: the `numCentroids` lowest-id VECTORS
    *    ([[Similarity.ivfQuery]]'s convention — deterministic but
    *    geometry-blind: the seeds are arbitrary corpus rows, so cell
    *    populations skew with the data's shape);
    *  - `kmeansIters > 0`: [[Similarity.kmeansCentroids]] — the same
    *    lowest-id seeds REFINED by Lloyd rounds into cluster centers
    *    (decimal-exact means, 6-decimal rounds, smaller-cid
    *    tie-break: equally deterministic, equally oracle-replayable).
    * Cell balance is the index's 100 TB argument — a probe reads
    * nprobe/numCentroids of the corpus only if cells hold comparable
    * populations, and a fat cell erodes exactly that ratio — so the
    * refined quantizer is what a production build wants;
    * `IvfIndexSpec` pins the measured balance improvement.
    */
  private def centroidsFor(embeddings: DataFrame, idCol: String,
      vecCol: String, numCentroids: Int, kmeansIters: Int): DataFrame =
    if (kmeansIters > 0)
      Similarity.kmeansCentroids(embeddings, idCol, vecCol,
        numCentroids, kmeansIters)
    else {
      val ndot = GraftFunctions.dotNative _
      embeddings.select(col(idCol), Similarity.toDoubleVec(col(vecCol)).as("v"))
        .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
        .orderBy(col(idCol)).limit(numCentroids)
        .select(col(idCol).as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    }

  /** Rows (id, v, nrm, cell) with ivfQuery's assignment — shared by
    * [[write]] and the assignment-equality spec.
    */
  private def assigned(embeddings: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int, kmeansIters: Int = 0): (DataFrame, DataFrame) = {
    GraftFunctions.register(embeddings.sparkSession)
    val ndot = GraftFunctions.dotNative _
    val e = embeddings.select(col(idCol), Similarity.toDoubleVec(col(vecCol)).as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val cents = centroidsFor(embeddings, idCol, vecCol, numCentroids, kmeansIters)
    val simToCent = round(ndot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6)
    val rows = e.crossJoin(broadcast(cents))
      .select(col(idCol), col("v"), col("nrm"), col("cid"), simToCent.as("csim"))
      .groupBy(col(idCol), col("v"), col("nrm"))
      .agg(max_by(col("cid"), struct(col("csim"), -col("cid"))).as("cell"))
    (rows, cents)
  }

  /** Write the cell-partitioned index plus its `_centroids` table.
    * The pre-write `repartition(cell)` gives the bounded-writers-per-
    * task dynamic-partition shape ([[AnnIndex.store]]'s argument).
    * `kmeansIters > 0` seeds the coarse quantizer from the Lloyd-
    * refined k-means ([[centroidsFor]]) — the geometry-aware build;
    * everything downstream (probe, append, rebuild) reads the STORED
    * `_centroids` table, so the seeding choice is made once here and
    * every maintenance path inherits it automatically.
    */
  def write(embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, numCentroids: Int = 8, kmeansIters: Int = 0): Unit = {
    val (rows, cents) =
      assigned(embeddings, idCol, vecCol, numCentroids, kmeansIters)
    // partition values are 'c'-prefixed strings ("c3"), the [[AnnIndex]]
    // convention: partition type inference then can never re-type the
    // column, so the probe's isin literals always match the column type
    // exactly and pruning never hides behind a cast
    rows.withColumn("cell", concat(lit("c"), col("cell")))
      .repartition(col("cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(path)
    cents.coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/_centroids")
  }

  /** Fold a batch of new vectors INTO an existing index. Cells are
    * assigned against the STORED `_centroids` table — the coarse
    * quantizer is FROZEN at build time, which is the semantically
    * required maintenance contract: recomputing centroids per batch
    * would silently re-shard history (rows already written would sit in
    * cells a fresh quantizer no longer assigns them to), breaking the
    * probe's layout-cannot-change-results guarantee. With the frozen
    * quantizer, ingest is a pure partition APPEND (files added under
    * the cell directories the batch hashes into; existing files and
    * the centroid table never rewritten) — the same maintenance shape
    * as [[AnnIndex.append]], and at 100 TB the same argument: bounded
    * writers per task, append-built ≡ write-built probes whenever the
    * build corpus would seed the same centroids (`IvfIndexSpec` pins
    * it; q128 judges the ingest replay against q37's oracle verbatim).
    */
  def append(spark: SparkSession, batch: DataFrame, idCol: String,
      vecCol: String, path: String): Unit = {
    heal(spark, path)
    GraftFunctions.register(spark)
    val ndot = GraftFunctions.dotNative _
    val cents = spark.read.parquet(s"$path/_centroids")
    val e = batch.select(col(idCol), Similarity.toDoubleVec(col(vecCol)).as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val simToCent = round(ndot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6)
    e.crossJoin(broadcast(cents))
      .select(col(idCol), col("v"), col("nrm"), col("cid"), simToCent.as("csim"))
      .groupBy(col(idCol), col("v"), col("nrm"))
      .agg(max_by(col("cid"), struct(col("csim"), -col("cid"))).as("cell"))
      .withColumn("cell", concat(lit("c"), col("cell")))
      .repartition(col("cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("cell").parquet(path)
  }

  /** The cell-partitioned layout with int8 STORAGE — [[write]]'s
    * partition pruning × [[Quantize]]'s 4× byte cut, composed on the
    * IVF side exactly as [[AnnIndex.writeQuantized]] composes it on the
    * LSH side: cells are assigned on the ORIGINAL float vector (the
    * frozen coarse quantizer — so the layout's candidate membership is
    * exactly [[write]]'s; int8 changes similarity values, never which
    * cell a row lives in), but only the `array<tinyint>` form + scale +
    * its precomputed norm are stored. The float vectors are not stored
    * here at all — an exact re-rank fetches them from the primary table
    * by id ([[AnnIndex.probeTwoTier]]'s tier 2). `_centroids` stays
    * float: it is numCentroids rows and the probe's cell ranking wants
    * the exact geometry.
    */
  def writeQuantized(embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, numCentroids: Int = 8): Unit = {
    val (rows, cents) = assigned(embeddings, idCol, vecCol, numCentroids)
    quantizedRows(embeddings, idCol, vecCol,
        rows.select(col(idCol), concat(lit("c"), col("cell")).as("cell")))
      .repartition(col("cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(path)
    cents.coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/_centroids")
  }

  /** Fold a batch into the quantized IVF index — [[append]]'s frozen-
    * quantizer contract (cells from the STORED `_centroids`, pure
    * partition append) over the int8 storage form. Per-vector
    * quantization is batch-local-stateless, so append-built ≡
    * write-built whenever the build corpus would seed the same
    * centroids (`IvfIndexSpec` pins it; the judged ingest replay runs
    * against the write-path oracle verbatim).
    */
  def appendQuantized(spark: SparkSession, batch: DataFrame, idCol: String,
      vecCol: String, path: String): Unit = {
    heal(spark, path)
    GraftFunctions.register(spark)
    val ndot = GraftFunctions.dotNative _
    val cents = spark.read.parquet(s"$path/_centroids")
    val e = batch.select(col(idCol), Similarity.toDoubleVec(col(vecCol)).as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val simToCent = round(ndot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6)
    val cells = e.crossJoin(broadcast(cents))
      .select(col(idCol), col("v"), col("nrm"), col("cid"), simToCent.as("csim"))
      .groupBy(col(idCol), col("v"), col("nrm"))
      .agg(max_by(col("cid"), struct(col("csim"), -col("cid"))).as("cell"))
      .withColumn("cell", concat(lit("c"), col("cell")))
      .select(col(idCol), col("cell"))
    quantizedRows(batch, idCol, vecCol, cells)
      .repartition(col("cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("cell").parquet(path)
  }

  /** (id, qv, scale, qnrm, cell): [[Quantize.quantize]]'s int8 form
    * joined onto a float-assigned cell relation — the stored row shape
    * of the quantized layout (same columns [[AnnIndex.storeQuantized]]
    * stores, `cell` in place of `bucket`).
    */
  private def quantizedRows(embeddings: DataFrame, idCol: String,
      vecCol: String, cells: DataFrame): DataFrame =
    Quantize.quantize(embeddings, idCol, vecCol)
      .join(cells, idCol)
      .withColumn("qd", transform(col("qv"), x => x.cast("double")))
      .withColumn("qnrm",
        sqrt(GraftFunctions.dotNative(col("qd"), col("qd"))))
      .drop("qd")

  /** Probe the quantized IVF index: partition-prune to the `nprobe`
    * best cells (float centroid geometry, [[probeCellsOf]]) and rank by
    * QUANTIZED cosine — [[AnnIndex.rankQuantized]]'s exact semantics
    * (driver-quantized query, integer dot products, 6-decimal round,
    * (sim desc, id) tie-break) over the cell-pruned tinyint scan.
    */
  def probeQuantized(spark: SparkSession, path: String, idCol: String,
      queryVec: Array[Double], k: Int = 5, nprobe: Int = 2,
      excludeId: Option[Long] = None): DataFrame = {
    val cells = probeCellsOf(spark, path, queryVec, nprobe)
    AnnIndex.rankQuantized(spark,
      AnnIndex.tombstoneMask(spark, path, idCol,
        spark.read.parquet(path).filter(col("cell").isin(cells: _*))),
      idCol, queryVec, k, excludeId)
  }

  /** The complete IVF serving path against storage — [[AnnIndex
    * .probeTwoTier]]'s composition over the CELL-pruned candidate tier:
    * tier 1 is [[probeQuantized]] (nprobe cells' int8 bytes, no floats
    * stored) cut to the quantized top-(k·overfetch); tier 2 fetches
    * ONLY those candidates' float vectors from the primary table and
    * re-ranks by exact cosine ([[AnnIndex.rerankExact]] — the identical
    * tail, shared). Per-query read at 100 TB: nprobe/numCentroids of
    * the corpus in int8 (4× smaller), plus k·overfetch primary rows.
    * Deterministic tier by tier, so the judged oracle composes the
    * quantized-IVF cut CTEs with the exact re-rank tier exactly.
    */
  def probeTwoTier(spark: SparkSession, quantPath: String,
      primary: DataFrame, idCol: String, vecCol: String,
      queryVec: Array[Double], k: Int = 10, overfetch: Int = 4,
      nprobe: Int = 2, excludeId: Option[Long] = None): DataFrame = {
    val tier1 = probeQuantized(spark, quantPath, idCol, queryVec,
      k * overfetch, nprobe, excludeId)
    AnnIndex.rerankExact(primary, idCol, vecCol,
      tier1.select(col(idCol)), queryVec, k)
  }

  /** The IVF-PQ layout — the FAISS-lineage composition, at rest: cell
    * partitioning from the FLOAT coarse quantizer (candidate membership
    * ≡ [[write]]'s, the same frozen-geometry rule as [[writeQuantized]])
    * with PRODUCT-QUANTIZED storage — each row is its id plus `m`
    * codebook codes, nothing else. Per-query read at 100 TB:
    * nprobe/numCentroids of a corpus that is now a CODES column (m
    * small integers per vector vs dim floats — the 16–64× tier), and
    * scoring inside the probed cells is [[ProductQuantize.adcTopK]]'s
    * lookup-table assembly: m table hits per row, no vector math. Two
    * side tables live under the index: `_centroids/` (float geometry
    * for the cell ranking) and `_codebook/` (the m·k PQ codewords) —
    * both underscore-hidden from the data scan.
    */
  def writePq(embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, numCentroids: Int = 8, m: Int = 4, k: Int = 8,
      pqIters: Int = 1, kmeansIters: Int = 0): Unit = {
    val (rows, cents) =
      assigned(embeddings, idCol, vecCol, numCentroids, kmeansIters)
    val codebook = ProductQuantize.train(embeddings, idCol, vecCol,
      m, k, pqIters)
    ProductQuantize.encode(embeddings, idCol, vecCol, codebook, m)
      .join(rows.select(col(idCol),
        concat(lit("c"), col("cell")).as("cell")), idCol)
      .repartition(col("cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(path)
    cents.coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/_centroids")
    codebook.coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/_codebook")
  }

  /** Fold a batch into the IVF-PQ index: cells from the STORED
    * `_centroids`, codes from the STORED `_codebook` — BOTH quantizers
    * frozen at build time (the [[append]] maintenance rule, applied
    * twice: re-deriving either would re-shard or re-code history), so
    * ingest is a pure partition append and append-built ≡ write-built
    * whenever the build corpus would seed the same quantizers
    * (`IvfIndexSpec` pins it; the judged ingest replay runs against the
    * write-path oracle verbatim).
    */
  def appendPq(spark: SparkSession, batch: DataFrame, idCol: String,
      vecCol: String, path: String): Unit = {
    heal(spark, path)
    GraftFunctions.register(spark)
    val ndot = GraftFunctions.dotNative _
    val cents = spark.read.parquet(s"$path/_centroids")
    val codebook = spark.read.parquet(s"$path/_codebook")
    val m = codebook.select(max(col("sub"))).head().getInt(0) + 1
    val e = batch.select(col(idCol), Similarity.toDoubleVec(col(vecCol)).as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val simToCent = round(ndot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6)
    val cells = e.crossJoin(broadcast(cents))
      .select(col(idCol), col("v"), col("nrm"), col("cid"), simToCent.as("csim"))
      .groupBy(col(idCol), col("v"), col("nrm"))
      .agg(max_by(col("cid"), struct(col("csim"), -col("cid"))).as("cell"))
      .select(col(idCol), concat(lit("c"), col("cell")).as("cell"))
    ProductQuantize.encode(batch, idCol, vecCol, codebook, m)
      .join(cells, idCol)
      .repartition(col("cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("cell").parquet(path)
  }

  /** Probe the IVF-PQ index: partition-prune to the `nprobe` best
    * cells (float centroid geometry, [[probeCellsOf]]) and rank the
    * survivors by ADC cosine ([[ProductQuantize.adcTopK]] over the
    * stored codebook — decimal-exact lookup sums, (sim desc, id)
    * ties).
    */
  def probePq(spark: SparkSession, path: String, idCol: String,
      queryVec: Array[Double], k: Int = 5, nprobe: Int = 2,
      excludeId: Option[Long] = None): DataFrame = {
    val cells = probeCellsOf(spark, path, queryVec, nprobe)
    ProductQuantize.adcTopK(
      AnnIndex.tombstoneMask(spark, path, idCol,
        spark.read.parquet(path).filter(col("cell").isin(cells: _*))),
      spark.read.parquet(s"$path/_codebook"),
      idCol, queryVec, k, excludeId)
  }

  /** The complete IVF-PQ serving path: tier 1 is [[probePq]]'s
    * cell-pruned ADC cut to the top-(k·overfetch); tier 2 fetches only
    * those candidates' float vectors from the primary table and
    * re-ranks by exact cosine — the shared [[AnnIndex.rerankExact]]
    * tail, for the cheapest candidate tier any layout here offers.
    */
  def probeTwoTierPq(spark: SparkSession, path: String,
      primary: DataFrame, idCol: String, vecCol: String,
      queryVec: Array[Double], k: Int = 10, overfetch: Int = 4,
      nprobe: Int = 2, excludeId: Option[Long] = None): DataFrame = {
    val tier1 = probePq(spark, path, idCol, queryVec,
      k * overfetch, nprobe, excludeId)
    AnnIndex.rerankExact(primary, idCol, vecCol,
      tier1.select(col(idCol)), queryVec, k)
  }

  /** The RESIDUAL IVF-PQ layout — the FAISS-standard accuracy lever at
    * equal m·k: instead of product-quantizing the raw vector, each row
    * stores codes for its RESIDUAL `v − centroid(cell)`. Subtracting
    * the cell centroid concentrates the codebook's dynamic range on
    * the within-cell geometry (the coarse quantizer already explains
    * the between-cell part), so the same m·k codebook reconstructs
    * strictly better — `IvfIndexSpec` pins the measured
    * reconstruction-MSE win vs [[writePq]] at identical parameters.
    * CAVEAT the spec also pins: the lever pays only when the
    * centroids are cluster CENTERS (`kmeansIters ≥ 1`) — under raw
    * lowest-id seeds the subtraction of a near-orthogonal vector ADDS
    * energy (measured MSE 1.49 vs raw PQ's 0.84), so a residual build
    * should always pass the Lloyd-refined quantizer.
    * Serving reconstructs implicitly: cos(q, c + r̂) assembles from
    * FOUR lookup relations (per-codeword query dots, per-codeword
    * norms², per-(cell, codeword) cross terms, per-cell query
    * dot/norm² — numCentroids·m·k rows total, all broadcast), still m
    * table hits + O(1) per row, no vector math. The residual subtract
    * is exact IEEE on identical operands, so the oracle replays it
    * verbatim.
    */
  def writePqResidual(embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, numCentroids: Int = 8, m: Int = 4, k: Int = 8,
      pqIters: Int = 1, kmeansIters: Int = 0): Unit = {
    val (rows, cents) =
      assigned(embeddings, idCol, vecCol, numCentroids, kmeansIters)
    val res = residualsOf(rows, cents, idCol)
    val codebook = ProductQuantize.train(res, idCol, "rv", m, k, pqIters)
    ProductQuantize.encode(res, idCol, "rv", codebook, m)
      .join(res.select(col(idCol), concat(lit("c"), col("cell")).as("cell")),
        idCol)
      .repartition(col("cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(path)
    cents.coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/_centroids")
    codebook.coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/_codebook")
  }

  /** (id, rv = v − centroid(cell), cell) — the residual relation both
    * training and encoding read. `cents` broadcast; the subtraction is
    * one `zip_with` inside the scan's codegen span.
    */
  private def residualsOf(rows: DataFrame, cents: DataFrame,
      idCol: String): DataFrame =
    rows.join(broadcast(cents), rows("cell") === cents("cid"))
      .select(col(idCol),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("rv"),
        col("cell"))

  /** Fold a batch into the residual IVF-PQ index: cells from the STORED
    * `_centroids`, residuals against those SAME frozen centroids, codes
    * from the STORED `_codebook` — the [[appendPq]] double-frozen rule
    * with the residual subtract inserted between the two quantizers
    * (re-deriving either would re-shard, re-base, or re-code history).
    */
  def appendPqResidual(spark: SparkSession, batch: DataFrame, idCol: String,
      vecCol: String, path: String): Unit = {
    heal(spark, path)
    GraftFunctions.register(spark)
    val ndot = GraftFunctions.dotNative _
    val cents = spark.read.parquet(s"$path/_centroids")
    val codebook = spark.read.parquet(s"$path/_codebook")
    val m = codebook.select(max(col("sub"))).head().getInt(0) + 1
    val e = batch.select(col(idCol), Similarity.toDoubleVec(col(vecCol)).as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val simToCent = round(ndot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6)
    val rows = e.crossJoin(broadcast(cents))
      .select(col(idCol), col("v"), col("nrm"), col("cid"), simToCent.as("csim"))
      .groupBy(col(idCol), col("v"), col("nrm"))
      .agg(max_by(col("cid"), struct(col("csim"), -col("cid"))).as("cell"))
    val res = residualsOf(rows, cents, idCol)
    ProductQuantize.encode(res, idCol, "rv", codebook, m)
      .join(res.select(col(idCol), concat(lit("c"), col("cell")).as("cell")),
        idCol)
      .repartition(col("cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("cell").parquet(path)
  }

  /** Probe the residual IVF-PQ index: partition-prune to the `nprobe`
    * best cells and rank by the residual-ADC cosine
    * cos(q, c + r̂) = (q·c + Σ lut) / (√(|c|² + 2·Σ cross + Σ |cw|²)·|q|)
    * — every lookup round-9, every per-row sum DECIMAL-exact, final
    * round-6 with (sim desc, id) ties: the [[ProductQuantize.adcTopK]]
    * discipline extended with the two centroid terms.
    */
  def probePqResidual(spark: SparkSession, path: String, idCol: String,
      queryVec: Array[Double], k: Int = 5, nprobe: Int = 2,
      excludeId: Option[Long] = None): DataFrame = {
    GraftFunctions.register(spark)
    val ndot = GraftFunctions.dotNative _
    val cells = probeCellsOf(spark, path, queryVec, nprobe)
    val codes = AnnIndex.tombstoneMask(spark, path, idCol,
      spark.read.parquet(path).filter(col("cell").isin(cells: _*)))
    val cents = spark.read.parquet(s"$path/_centroids")
      .select(concat(lit("c"), col("cid")).as("ccell"),
        col("cv").as("centv"))
    val codebook = spark.read.parquet(s"$path/_codebook")
    val shape = codebook
      .agg(max(col("sub")).as("maxSub"), max(size(col("cv"))).as("d"),
        min(size(col("cv"))).as("dMin")).head()
    val m = shape.getInt(0) + 1
    val d = shape.getInt(1)
    // the adcTopK consistency guard: a corrupted codebook with mixed
    // codeword widths would otherwise mis-slice the query SILENTLY
    // (slice() just reads short/overlapping windows)
    require(d == shape.getInt(2),
      s"probePqResidual: ragged codebook (codeword widths ${shape.getInt(2)}..$d)")
    require(queryVec.length == m * d,
      s"probePqResidual: query dimension ${queryVec.length} != m*d = ${m * d}")
    val qv = typedlit(queryVec.toSeq)
    val qnrm = math.sqrt(seqDot(queryVec, queryVec))
    val lut = codebook.select(col("sub"), col("cid"),
      round(ndot(slice(qv, col("sub") * d + 1, lit(d)), col("cv")), 9).as("lutv"),
      round(ndot(col("cv"), col("cv")), 9).as("cvn2"))
    // per-(cell, sub, codeword) cross term: centroid slice · codeword —
    // numCentroids·m·k rows, broadcast. Key columns renamed so the
    // second codebook-derived join is never an ambiguous self-join.
    val clut = cents.crossJoin(codebook)
      .select(col("ccell"), col("sub").as("clsub"), col("cid").as("clcid"),
        round(ndot(slice(col("centv"), col("sub") * d + 1, lit(d)),
          col("cv")), 9).as("ccv"))
    val cstats = cents.select(col("ccell"),
      round(ndot(col("centv"), qv), 9).as("qc"),
      round(ndot(col("centv"), col("centv")), 9).as("cn2"))
    import org.apache.spark.sql.types.DecimalType
    val base = codes
      .join(broadcast(lut),
        codes("sub") === lut("sub") && codes("code") === lut("cid"))
      .join(broadcast(clut),
        codes("cell") === clut("ccell") && codes("sub") === clut("clsub") &&
          codes("code") === clut("clcid"))
      .groupBy(codes(idCol), codes("cell"))
      .agg(sum(col("lutv").cast(DecimalType(28, 12))).cast("double").as("adot"),
        sum(col("cvn2").cast(DecimalType(28, 12))).cast("double").as("rn2"),
        sum(col("ccv").cast(DecimalType(28, 12))).cast("double").as("crs"))
      .join(broadcast(cstats), col("cell") === cstats("ccell"))
      .withColumn("den2",
        col("cn2") + lit(2.0) * col("crs") + col("rn2"))
      .filter(col("den2") > 0)
    excludeId.fold(base)(id => base.filter(col(idCol) =!= id))
      .select(col(idCol),
        round((col("qc") + col("adot")) /
          (sqrt(col("den2")) * lit(qnrm)), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** The complete residual-IVF-PQ serving path: tier 1 is
    * [[probePqResidual]]'s cell-pruned residual-ADC cut; tier 2 the
    * shared [[AnnIndex.rerankExact]] tail.
    */
  def probeTwoTierPqResidual(spark: SparkSession, path: String,
      primary: DataFrame, idCol: String, vecCol: String,
      queryVec: Array[Double], k: Int = 10, overfetch: Int = 4,
      nprobe: Int = 2, excludeId: Option[Long] = None): DataFrame = {
    val tier1 = probePqResidual(spark, path, idCol, queryVec,
      k * overfetch, nprobe, excludeId)
    AnnIndex.rerankExact(primary, idCol, vecCol,
      tier1.select(col(idCol)), queryVec, k)
  }

  /** REBUILD the index from its own stored rows: recompute the coarse
    * quantizer over the FULL at-rest corpus, re-assign every row, and
    * atomically swap the layout — the refresh half of the maintenance
    * story that [[append]]'s frozen quantizer deliberately forgoes.
    * Long-running ingest degrades cell balance (new data lands in
    * whatever cells the build-time centroids induce, however badly they
    * fit it); rebuild is the remediation: because the quantizer seeds
    * deterministically from the corpus (lowest `numCentroids` ids —
    * [[Similarity.ivfQuery]]'s convention), rebuild-after-appends ≡
    * fresh-write on the union corpus EXACTLY (`IvfIndexSpec` pins probe
    * equality; the judged replay runs against the fresh-build oracle
    * verbatim), so a refresh can never change answers, only layout.
    * The rebuilt root is swapped in for the old one as one directory
    * ([[graft.io.Swap]]) — at real scale under the table's maintenance
    * lock exactly like [[AnnIndex.compactBuckets]]'s in-place OPTIMIZE.
    * `kmeansIters` picks the quantizer seeding for the refreshed layout
    * exactly as in [[write]] (pass the build's value to preserve its
    * geometry mode). Refuses the QUANTIZED layout loudly:
    * [[writeQuantized]] stores no float `v` column, so a rebuild must
    * re-quantize from the primary float table, not from the index's
    * own lossy rows.
    */
  def rebuild(spark: SparkSession, path: String, idCol: String,
      numCentroids: Int = 8, kmeansIters: Int = 0): Unit = {
    heal(spark, path)
    // tombstone-masked read: a rebuild is the delete family's terminal
    // compaction — deleted rows don't enter the refreshed layout, and
    // `_tombstones` is dropped with the rest of the old root
    val live = AnnIndex.tombstoneMask(spark, path, idCol,
      spark.read.parquet(path))
    require(live.schema.fieldNames.contains("v"),
      s"IvfIndex.rebuild: $path stores no float 'v' column — this is the " +
        "quantized layout (writeQuantized), whose rows are lossy; rebuild " +
        "it by re-running writeQuantized from the primary float table")
    // the stored rows carry the float vector — rebuild IS a fresh write
    // over the read-back corpus (readers never see `_centroids` or the
    // partition column as data; `v` is already array<double>, so the
    // assignment's toDoubleVec is a no-op on it)
    Swap.replace(Swap.fs(spark, path), new Path(path)) { tmp =>
      write(live.select(col(idCol), col("v")),
        idCol, "v", tmp.toString, numCentroids, kmeansIters)
    }
  }

  // ---------------------------------------------------- drift monitoring

  /** Persist the BUILD-TIME cell-balance profile beside `_centroids`
    * (`_drift/`, one row: build_max, build_total — the max per-cell
    * row count and the total). Cell balance IS the serving-cost
    * contract the frozen quantizer can silently lose: a probe reads
    * nprobe/numCentroids of the corpus only while cells hold
    * comparable populations, and as the ingest distribution shifts
    * away from the build's, new rows pile into few cells and erode
    * exactly that ratio. The profile freezes what "balanced" meant at
    * build time so [[driftCheck]] has a denominator; a [[rebuild]]
    * drops it with the rest of the old root — re-profile after
    * rebuilding (the refreshed quantizer defines a new baseline).
    * Integer counts only: the verdict arithmetic must replay exactly
    * in any engine (no float means, no summation-order anywhere).
    */
  def writeDriftProfile(spark: SparkSession, path: String): Unit = {
    heal(spark, path)
    spark.read.parquet(path)
      .groupBy(col("cell")).agg(count(lit(1)).as("nr"))
      .agg(max(col("nr")).as("build_max"), sum(col("nr")).as("build_total"))
      .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/_drift")
  }

  /** JUDGED drift verdict for a candidate ingest batch — the DECISION
    * half of the frozen-quantizer lifecycle ([[append]] freezes the
    * geometry by contract; [[rebuild]] refreshes it; this is the
    * monitor that says WHEN): the batch is assigned against the STORED
    * `_centroids` (the exact arithmetic [[append]] would use — round-6
    * cosine argmax, smaller-cid tie-break), its per-cell counts are
    * folded to (batch_max, batch_total), and the verdict fires when
    * the batch's imbalance exceeds the build profile's by
    * `fireNum/fireDen`:
    *
    *   batch_max/batch_total > (fireNum/fireDen)·build_max/build_total
    *   ⟺  batch_max·build_total·fireDen > build_max·batch_total·fireNum
    *
    * — compared as exact integer products, so the boolean is
    * deterministic and the oracle recomputes it relationally (the
    * assignment is the q37 SQL, the counts are GROUP BYs). A batch
    * drawn from the build distribution keeps the ratio ≈ 1 and does
    * not fire; a shifted batch concentrates into few cells and does —
    * `IvfIndexSpec` pins both, plus recovery (after rebuild +
    * re-profile the same batch stops firing). Returns one row:
    * (build_max, build_total, batch_max, batch_total, rebuild_fired).
    */
  def driftCheck(batch: DataFrame, idCol: String, vecCol: String,
      path: String, fireNum: Long = 3, fireDen: Long = 2): DataFrame = {
    val spark = batch.sparkSession
    heal(spark, path)
    GraftFunctions.register(spark)
    val ndot = GraftFunctions.dotNative _
    val cents = spark.read.parquet(s"$path/_centroids")
    val e = batch.select(col(idCol),
        Similarity.toDoubleVec(col(vecCol)).as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val simToCent = round(ndot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6)
    val counts = e.crossJoin(broadcast(cents))
      .select(col(idCol), col("cid"), simToCent.as("csim"))
      .groupBy(col(idCol))
      .agg(max_by(col("cid"), struct(col("csim"), -col("cid"))).as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("nr"))
    counts
      .agg(max(col("nr")).as("batch_max"), sum(col("nr")).as("batch_total"))
      .crossJoin(broadcast(spark.read.parquet(s"$path/_drift")))
      .select(col("build_max"), col("build_total"),
        col("batch_max"), col("batch_total"),
        (col("batch_max") * col("build_total") * lit(fireDen) >
          col("build_max") * col("batch_total") * lit(fireNum))
          .as("rebuild_fired"))
  }

  /** DELETE vectors from the cell-partitioned index — [[AnnIndex
    * .deleteFromIndex]] verbatim (one `_tombstones/` append; probes
    * mask; the frozen coarse quantizer deliberately does NOT change,
    * exactly as it does not change on [[append]]).
    */
  def delete(ids: DataFrame, idCol: String, path: String): Unit = {
    healRoot(ids.sparkSession, path)
    AnnIndex.deleteFromIndex(ids, idCol, path)
  }

  /** Physically remove tombstoned vectors — [[AnnIndex.purgeIndex]]
    * over the `cell=` partition layout (only cells holding doomed rows
    * are rewritten; `_centroids`/`_codebook` untouched — geometry is
    * frozen, rows are gone).
    */
  def purge(spark: SparkSession, path: String, idCol: String): Unit = {
    healRoot(spark, path)
    AnnIndex.purgeIndex(spark, path, idCol, partCol = "cell")
  }

  /** In-plan cell assignment for equality checks — (id, cell). */
  private[graft] def assignmentOf(embeddings: DataFrame, idCol: String,
      vecCol: String, numCentroids: Int = 8,
      kmeansIters: Int = 0): DataFrame =
    assigned(embeddings, idCol, vecCol, numCentroids, kmeansIters)._1
      .select(col(idCol), col("cell"))

  /** Spark's `round(double, 6)` semantics, reproduced driver-side —
    * BigDecimal HALF_UP over the canonical decimal form.
    */
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Sequential left-to-right double dot — [[GraftFunctions.dotNative]]
    * bit-for-bit, on the driver.
    */
  private def seqDot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** The query's `nprobe` cells, ranked driver-side from the stored
    * centroid table with the exact in-plan semantics (6-decimal rounded
    * cosine desc, cid asc).
    */
  def probeCellsOf(spark: SparkSession, path: String, queryVec: Array[Double],
      nprobe: Int): Seq[String] = {
    heal(spark, path)
    val qnrm = math.sqrt(seqDot(queryVec, queryVec))
    spark.read.parquet(s"$path/_centroids")
      .collect()
      .map { r =>
        val cv = r.getSeq[Double](r.fieldIndex("cv")).toArray
        val cnrm = r.getDouble(r.fieldIndex("cnrm"))
        // a zero-norm (or otherwise NaN-producing) query degrades to
        // "every cell ranks last" instead of BigDecimal(NaN) throwing —
        // the same graceful-NULL behavior [[Similarity.ivfQuery]] has
        // for degenerate inputs (nprobe cells still returned, by cid)
        val raw = seqDot(cv, queryVec) / (cnrm * qnrm)
        val qsim = if (java.lang.Double.isFinite(raw)) round6(raw)
          else Double.NegativeInfinity
        (r.getLong(r.fieldIndex("cid")), qsim)
      }
      .sortBy { case (cid, qsim) => (-qsim, cid) }
      .take(nprobe).map(c => s"c${c._1}").toSeq
  }

  /** Probe the at-rest index for the cosine top-k around `queryVec`:
    * partition-prune to the `nprobe` best cells, exact re-rank within
    * them — [[Similarity.ivfQuery]]'s answer from storage.
    */
  def probe(spark: SparkSession, path: String, idCol: String,
      queryVec: Array[Double], k: Int = 5, nprobe: Int = 2,
      excludeId: Option[Long] = None): DataFrame = {
    GraftFunctions.register(spark)
    val cells = probeCellsOf(spark, path, queryVec, nprobe)
    val qv = typedlit(queryVec.toSeq)
    val qnrm = math.sqrt(seqDot(queryVec, queryVec))
    val base = AnnIndex.tombstoneMask(spark, path, idCol,
      spark.read.parquet(path).filter(col("cell").isin(cells: _*)))
    val probed = excludeId.fold(base)(id => base.filter(col(idCol) =!= id))
    probed
      .select(col(idCol),
        round(GraftFunctions.dotNative(col("v"), qv) /
          (col("nrm") * lit(qnrm)), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }
}
