package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SCALE EVIDENCE for the at-rest serving family beyond the driver's
  * scale factors (round-17 verdict, missing item #4): materialize ONLY
  * THE STORES at sf1-class (10× sf0.1) and sf10-class (100× sf0.1)
  * corpus sizes and MEASURE the probe/ingest paths at both, so the
  * "file pruning doesn't see corpus growth" argument's first decade is
  * a measurement instead of an extrapolation.
  *
  * Corpus scaling (deterministic, duplication-free — the point is to
  * measure INDEX-SCAN cost at scale, not duplicate density):
  *  - documents: copy k re-ids by +k·10⁷ and interleaves a copy token
  *    between every pair of words (`" " → " cp<k> "`), so every 3/5-gram
  *    shingle and every bigram of copy k differs from every other
  *    copy's — posting lists stay short while the store grows;
  *  - embeddings: copy k re-ids and ROTATES the vector left by k mod 64
  *    positions — rotations of the corpus spread across LSH buckets and
  *    IVF cells like fresh data (sign patterns of dot products against
  *    fixed planes are effectively independent under rotation);
  *  - image signatures: synthesized directly as xxhash64-spread 48-bit
  *    longs (the store is signature-agnostic; probe cost depends on
  *    banded-row count and bucket layout only).
  *
  * Measured per scale (1 warm-up + 3 timed, min reported): the
  * bucket-pruned ANN probe + multiprobe, the quantized multiprobe, the
  * IVF cell probe, a BM25 top-20 query, a 100-signature batch probe of
  * the signature store, a 100-doc batch dedup against the stored
  * shingle index, a 100-doc decontamination probe of the frozen bench
  * index, and a 100-doc score against the LM count store. Writes
  * `bench_sf10_probes.json`.
  *
  * Usage: sbt "runMain graft.tools.ProfileAtRestSf10 [sfDir] [outPath]"
  */
object ProfileAtRestSf10 {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outPath = args.lift(1).getOrElse("bench_sf10_probes.json")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.ops.{AnnIndex, Decontamination, Dedup, IvfIndex, LanguageModel, Retrieval, Similarity}

    val root = s"${sys.props("java.io.tmpdir")}/graft_sf10_" +
      s"${ProcessHandle.current().pid()}"
    graft.queries.MicroBatchLoop.rmTree(new java.io.File(root))

    val docs0 = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val dim = emb0.select(size(col("embedding"))).head().getInt(0)

    def scaledDocs(copies: Int): DataFrame =
      spark.range(copies).select(col("id").as("k")).crossJoin(docs0)
        .select((col("doc_id") + col("k") * 10000000L).as("doc_id"),
          regexp_replace(col("text"), lit(" "),
            concat(lit(" cp"), col("k"), lit(" "))).as("text"))

    def scaledEmb(copies: Int): DataFrame = {
      val rot = pmod(col("k"), lit(dim.toLong)).cast("int")
      spark.range(copies).select(col("id").as("k")).crossJoin(emb0)
        .select((col("vec_id") + col("k") * 10000000L).as("vec_id"),
          concat(slice(col("embedding"), rot + 1, lit(dim) - rot),
            slice(col("embedding"), lit(1), rot)).as("embedding"))
    }

    def scaledSigs(n: Long): DataFrame =
      spark.range(n).select(col("id").as("media_id"),
        pmod(xxhash64(col("id")), lit(1L << 48)).as("ahash"))

    // one query vector, shared across scales (vec_id 0 of the base)
    val qvec = emb0.filter(col("vec_id") === 0L)
      .select(Similarity.toDoubleVec(col("embedding")))
      .head().getSeq[Double](0).toArray

    def timed(fn: () => Unit): Double = {
      fn() // warm-up
      (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        fn()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    def force(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def measureScale(tag: String, copies: Int): Seq[(String, Double)] = {
      val base = s"$root/$tag"
      val docs = scaledDocs(copies).localCheckpoint()
      val emb = scaledEmb(copies).localCheckpoint()
      val nDocs = docs.count(); val nVecs = emb.count()
      System.err.println(s"[$tag] docs=$nDocs vecs=$nVecs — building stores")
      val tBuild0 = System.nanoTime()
      AnnIndex.write(emb, "vec_id", "embedding", s"$base/ann",
        numPlanes = 8, dim = dim)
      AnnIndex.writeQuantized(emb, "vec_id", "embedding", s"$base/annq",
        numPlanes = 8, dim = dim)
      IvfIndex.write(emb, "vec_id", "embedding", s"$base/ivf", numCentroids = 8)
      IvfIndex.writePq(emb, "vec_id", "embedding", s"$base/ivfpq",
        numCentroids = 8, m = 4, k = 8, pqIters = 1)
      graft.ops.ProductQuantize.writeQuantizationDriftProfile(emb,
        "vec_id", "embedding", s"$base/ivfpq", tau = 2.0)
      Retrieval.writeBm25Index(docs, "doc_id", "text", s"$base/bm25",
        termBuckets = 16)
      Dedup.writeSignatureStore(scaledSigs(nDocs), "media_id", "ahash",
        s"$base/sig", bits = 48, bands = 4, sigBuckets = 16)
      val shIx = Dedup.buildShingleIndex(docs, "doc_id", "text", 3)
      Dedup.writeStoredIndex(shIx, "doc_id", s"$base/shingle")
      Dedup.writeStoredIndex(shIx, "doc_id", s"$base/shingle_b",
        shBuckets = 64)
      Dedup.writeStoredIndex(shIx, "doc_id", s"$base/shingle_b1k",
        shBuckets = 1024)
      Decontamination.writeBenchIndex(docs0.limit(200), "doc_id", "text",
        s"$base/bench", k = 5)
      LanguageModel.writeCountBatch(docs, "doc_id", "text", s"$base/lm", "b0")
      val buildSec = (System.nanoTime() - tBuild0) / 1e9
      System.err.println(f"[$tag] stores built in $buildSec%.1f s")

      // fresh 100-row probe batches, DISTINCT from every stored copy
      val probeDocs = docs0.limit(100)
        .select(col("doc_id"),
          regexp_replace(col("text"), " ", " probe ").as("text"))
        .localCheckpoint()
      val probeSigs = spark.range(100)
        .select((col("id") + 900000000L).as("media_id"),
          pmod(xxhash64(col("id") + 12345L), lit(1L << 48)).as("ahash"))
        .localCheckpoint()

      // snapshot-serve path (q209): pin the b0-only model, ingest a
      // second batch, compact (b0's deltas retire) — the measured serve
      // then re-assembles the pinned model from retired partitions
      LanguageModel.snapshotCountModel(spark, s"$base/lm", "s1")
      LanguageModel.writeCountBatch(probeDocs, "doc_id", "text",
        s"$base/lm", "b1")
      LanguageModel.compactCountModel(spark, s"$base/lm")

      val out = Seq(
        "ann_probe" -> timed(() => force(
          AnnIndex.probe(spark, s"$base/ann", "vec_id", qvec, k = 5,
            numPlanes = 8))),
        "ann_multiprobe" -> timed(() => force(
          AnnIndex.probeMulti(spark, s"$base/ann", "vec_id", qvec, k = 5,
            numPlanes = 8))),
        "quant_multiprobe" -> timed(() => force(
          AnnIndex.probeQuantizedMulti(spark, s"$base/annq", "vec_id", qvec,
            k = 5, numPlanes = 8))),
        "ivf_probe" -> timed(() => force(
          IvfIndex.probe(spark, s"$base/ivf", "vec_id", qvec, k = 5,
            nprobe = 2))),
        // round-18 serving paths: the IVF-PQ codes-column probe, the
        // codebook-drift monitor on a 100-vector batch (q207's shape),
        // and — honestly store-sized by design — the q197 maintenance
        // pair sweep over the at-rest bucket partitions
        "ivfpq_probe" -> timed(() => force(
          IvfIndex.probePq(spark, s"$base/ivfpq", "vec_id", qvec, k = 5,
            nprobe = 2))),
        "pq_drift_check" -> timed(() => force(
          graft.ops.ProductQuantize.quantizationDrift(
            emb.limit(100), "vec_id", "embedding", s"$base/ivfpq"))),
        "ann_pair_sweep" -> timed(() => force(
          AnnIndex.cosinePairsFromIndex(spark, s"$base/ann", "vec_id",
            threshold = 0.95))),
        "bm25_top20" -> timed(() => force(
          Retrieval.bm25FromIndex(spark, s"$base/bm25", "doc_id",
            query = Seq("vector", "stream", "window"), k = 20))),
        "sig_batch_probe" -> timed(() => force(
          Dedup.dedupAgainstSignatureStore(probeSigs, "media_id", "ahash",
            s"$base/sig", maxHamming = 3))),
        "shingle_batch_dedup" -> timed(() => force(
          Dedup.dedupAgainstIndex(
            Dedup.shingleTable(probeDocs, "doc_id", "text", 3),
            Dedup.readStoredIndex(spark, "doc_id", s"$base/shingle"),
            "doc_id", threshold = 0.5, maxShingleDf = 1000))),
        "shingle_batch_dedup_bucketed" -> timed(() => force(
          Dedup.dedupAgainstStoredIndex(
            Dedup.shingleTable(probeDocs, "doc_id", "text", 3),
            "doc_id", s"$base/shingle_b",
            threshold = 0.5, maxShingleDf = 1000))),
        // the regime where pruning can pay: probe shingles << buckets
        // (a 2-doc containment-style lookup vs the 1024-bucket layout)
        "shingle_tiny_probe" -> timed(() => force(
          Dedup.dedupAgainstIndex(
            Dedup.shingleTable(probeDocs.limit(2), "doc_id", "text", 3),
            Dedup.readStoredIndex(spark, "doc_id", s"$base/shingle"),
            "doc_id", threshold = 0.5, maxShingleDf = 1000))),
        "shingle_tiny_probe_bucketed1k" -> timed(() => force(
          Dedup.dedupAgainstStoredIndex(
            Dedup.shingleTable(probeDocs.limit(2), "doc_id", "text", 3),
            "doc_id", s"$base/shingle_b1k",
            threshold = 0.5, maxShingleDf = 1000))),
        "bench_overlap_probe" -> timed(() => force(
          Decontamination.overlapFromIndex(probeDocs, "doc_id", "text",
            s"$base/bench", minOverlap = 3))),
        "lm_score_batch" -> timed(() => force(
          LanguageModel.scoreFromCounts(spark, s"$base/lm", probeDocs,
            "doc_id", "text"))),
        "lm_score_at_snapshot" -> timed(() => force(
          LanguageModel.scoreAtSnapshot(spark, s"$base/lm", "s1", probeDocs,
            "doc_id", "text"))),
        "store_build_total" -> buildSec,
        "n_docs" -> nDocs.toDouble,
        "n_vecs" -> nVecs.toDouble,
      )
      spark.catalog.clearCache()
      out
    }

    val x10 = measureScale("x10", 10)
    val x100 = measureScale("x100", 100)
    def obj(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + math.rint(v * 1000) / 1000 }
        .mkString("{", ",", "}")
    val json =
      s"""{"metric":"at_rest_probe_scaling","base_sf":"$dir","sf1_class":${obj(x10)},"sf10_class":${obj(x100)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    graft.queries.MicroBatchLoop.rmTree(new java.io.File(root))
    spark.stop()
  }
}
