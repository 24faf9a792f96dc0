package graft.queries

import graft.ops.{Decontamination, Dedup, Multimodal, Sampling, SequencePacking, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** North-star extension operators (training-data pipeline surface):
  * deduplication, similarity search, text analysis, multimodal metadata —
  * each over the driver's `documents`/`embeddings` tables with a DuckDB
  * oracle.
  *
  * Cross-engine determinism tactics specific to this file:
  *  - every hash is md5 (identical hex in any engine); no JVM hashCode;
  *  - LSH hyperplanes are md5-derived dyadic rationals computed once in
  *    Scala and *inlined as literals* into the oracle SQL, so both engines
  *    use bit-identical planes;
  *  - cosine similarities are rounded to 6 decimals before ranking /
  *    thresholding with an id tie-break.
  */
object ExtQueries {

  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // ---------------------------------------------------------------- queries

  /** Exact dedup: hash-groupBy, lexicographically-first keeper. */
  private val q20: Q = (s, dir) =>
    Dedup.exactDupGroups(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("text_hash")

  /** MinHash+LSH near-dup: 3-shingles → 8 md5 minhashes → 4 bands →
    * candidate pairs → exact Jaccard ≥ 0.5.
    */
  private val q21: Q = (s, dir) =>
    PinnedExec.withDerivedParts(s, s"$dir/documents.parquet") {
      Dedup.nearDuplicates(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.5, numHashes = 8, bands = 4, shingleK = 3)
        .orderBy("id_a", "id_b")
    }

  /** MinHash-LSH recall contract ([[graft.ops.Dedup
    * .minhashRecallContract]]): q112's judged-recall question asked of
    * the DEDUP index — what fraction of the exact Jaccard ≥ 0.5 pairs
    * does the banded detector (q21's pipeline) surface, per
    * (numHashes, bands) configuration? Floors from
    * `tools.MeasureMinhashRecall` with margin; the 16×8 row pins the
    * OR-construction lever (more bands at fixed rows-per-band buys
    * recall at linear index cost). The oracle recomputes n_true from
    * the exact pair SQL and emits literal TRUE.
    */
  private val q176: Q = (s, dir) =>
    PinnedExec.withDerivedParts(s, s"$dir/documents.parquet") {
      Dedup.minhashRecallContract(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.5, shingleK = 3)
        .orderBy("method")
    }

  /** Hamming-banding recall contract ([[graft.ops.Dedup
    * .hammingRecallContract]]) — q176's judged-recall question asked
    * of the MEDIA dedup family (q158/q164/q170/q177/q185 all stand on
    * bands > distance pigeonhole coverage): over the really-decoded
    * image fixture's 48-bit aHashes, the banded detector must surface
    * EVERY exact Hamming ≤ 3 pair of the probe slice (pigeonhole is
    * deterministic, so the judged bound is recall = 1.0 — for both the
    * production 4-band config and a 6-band one). The oracle recomputes
    * n_true from the exact pair SQL and emits literal TRUE; the
    * beyond-pigeonhole failure mode (a config whose banding cannot
    * cover its verify threshold) is caught in `SimhashNearDupSpec`.
    */
  private val q193: Q = (s, dir) =>
    Dedup.hammingRecallContract(
        imageFixtureSigs(t(s, dir, "documents")), "media_id", "ahash",
        bits = 48, probeMod = 50,
        configs = Seq((4, 3, 1.0), (6, 3, 1.0)))
      .orderBy("method")

  /** SimHash: 32-bit signature over unigram tokens (relation form — one
    * hash per token, single grouped aggregation). 32 bits is the
    * scale-safe default width ([[Dedup.simhashTable]]): the narrow
    * 16-bit signature's band buckets produce ~25x more candidate pairs
    * downstream (SCALE.md).
    */
  private val q22: Q = (s, dir) =>
    Dedup.simhashTable(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Text quality metrics: token counts, BPE-ish count, mean token
    * length, stopword ratio, composite score. Token aggregates come from
    * the explode-first token relation (codegen path); per-document
    * scalar metrics (regexp count) ride on the base table and join on
    * doc_id — a 5k-row broadcast join at sf0.1, never a shuffle of text.
    */
  private val q23: Q = (s, dir) => {
    val d = t(s, dir, "documents")
    val stop = TextAnalysis.defaultStopwords
    val tokAgg = TextAnalysis.tokenTable(d, "doc_id", "text")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        sum(length(col("tok"))).as("sum_tok_len"),
        count(when(col("tok").isin(stop.map(x => x: Any): _*), 1)).as("n_stop"))
    d.select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens"),
        (regexp_count(col("text"), lit("[.,;:!?]")).cast("double") /
          length(col("text")).cast("double")).as("punct_ratio"))
      .join(tokAgg, "doc_id")
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("n_bpe_tokens"),
        col("punct_ratio"),
        (col("sum_tok_len").cast("double") / col("n_tokens").cast("double"))
          .as("avg_token_len"),
        (col("n_stop").cast("double") / col("n_tokens").cast("double")).as("stop_ratio"),
        ((col("n_stop").cast("double") / col("n_tokens").cast("double")) * lit(0.5) +
          least(col("n_tokens").cast("double") / lit(100.0), lit(1.0)) * lit(0.5))
          .as("quality"),
      ).orderBy("doc_id")
  }

  /** Heuristic language ID (marker-word argmax) over the token relation. */
  private val q24: Q = (s, dir) => {
    val counts = TextAnalysis.langMarkers.map { case (lang, markers) =>
      lang -> count(when(col("tok").isin(markers.map(x => x: Any): _*), 1))
    }
    val agg = TextAnalysis.tokenTable(t(s, dir, "documents"), "doc_id", "text")
      .groupBy("doc_id")
      .agg(counts.head._2.as(s"c_${counts.head._1}"),
        counts.tail.map { case (l, c) => c.as(s"c_$l") }: _*)
    val maxC = greatest(counts.map { case (l, _) => col(s"c_$l") }: _*)
    val lang = counts.foldRight(lit("und")) { case ((l, _), acc) =>
      when(maxC > 0 && col(s"c_$l") === maxC, lit(l)).otherwise(acc)
    }
    agg.select(col("doc_id"), lang.as("lang_pred")).orderBy("doc_id")
  }

  /** Order-insensitive document fingerprint (sorted distinct token set),
    * assembled relationally: collect_set + sort_array is deterministic
    * regardless of collection order.
    */
  private val q25: Q = (s, dir) =>
    TextAnalysis.tokenTable(t(s, dir, "documents"), "doc_id", "text")
      .groupBy("doc_id")
      .agg(md5(concat_ws(" ", sort_array(collect_set(col("tok"))))).as("fp"))
      .orderBy("doc_id")

  /** Token-budget curation ([[graft.ops.Sampling.tokenBudgetSelect]]):
    * within each `source` domain, keep the best-quality documents whose
    * cumulative token count fits an 800-token budget — the materialized
    * form of a mixture spec ("≤ N tokens of domain X, best first"),
    * which count/fraction sampling cannot express because document
    * lengths vary. Ranking is (q23's quality score desc, doc_id) — a
    * total order both engines compute bit-identically; the running sum
    * is the bucketed two-phase DISTRIBUTED prefix sum (quality ∈ [0,1]
    * splits into ~21 width-0.05 score buckets per domain — no task ever
    * holds a whole domain; the result is width-invariant, SamplingSpec
    * pins it, and the oracle stays the plain windowed form).
    */
  private val q132: Q = (s, dir) => {
    val d = t(s, dir, "documents")
    Sampling.tokenBudgetSelect(
        d.select(col("doc_id"), col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
          TextAnalysis.qualityScore(col("text")).as("quality")),
        "source", "n_tokens", "quality", "doc_id", budget = 800L,
        orderBucketWidth = 0.05)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_weight"))
      .orderBy("doc_id")
  }

  /** Cross-document duplicated-span coverage
    * ([[graft.ops.TextAnalysis.dupSpanCoverage]]): per-doc fraction of
    * tokens covered by 5-token spans that also occur in another
    * document — the RefinedWeb/Dolma `dup_frac` curation signal, next
    * to q79's within-document repetition. Coverage is merged-interval
    * arithmetic (no ×k position blowup); integers until the final
    * 6-decimal ratio, so the oracle reproduces it exactly.
    */
  private val q133: Q = (s, dir) =>
    PinnedExec.withDerivedParts(s, s"$dir/documents.parquet") {
      TextAnalysis.dupSpanCoverage(t(s, dir, "documents"), "doc_id", "text",
          k = 5)
        .orderBy("doc_id")
    }

  /** Duplicated-span EXCISION
    * ([[graft.ops.TextAnalysis.exciseDupSpans]]): the TRANSFORM half of
    * q133's signal — every non-first occurrence of a duplicated 5-token
    * span is cut from the token stream and the surviving tokens are
    * re-joined, the relational form of exact-substring (suffix-array)
    * dedup. The keeper is the lexicographic (doc, pos) min per gram —
    * a grouped struct-min, never a per-gram window, so boilerplate
    * grams can't create skewed window partitions at 100 TB. Judged
    * output carries the full `clean_text`, so the oracle checks the
    * byte-exact surviving token sequence, not just counts.
    */
  private val q172: Q = (s, dir) =>
    PinnedExec.withDerivedParts(s, s"$dir/documents.parquet") {
      TextAnalysis.exciseDupSpans(t(s, dir, "documents"), "doc_id", "text",
          k = 5)
        .orderBy("doc_id")
    }

  /** Brute-force cosine top-10 around vec_id 0 — the exact ANN baseline. */
  private val q26: Q = (s, dir) =>
    Similarity.knnBrute(t(s, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10)

  /** LSH-bucketed ANN top-5 around vec_id 0 (8 planes) — the scale path. */
  private val q27: Q = (s, dir) =>
    Similarity.annQuery(t(s, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 5, numPlanes = 8, dim = embDim)

  /** IVF-cell ANN top-5 around vec_id 0 (8 deterministic centroids,
    * nprobe 2) — the coarse-quantizer scale path next to q27's LSH.
    */
  private val q37: Q = (s, dir) =>
    Similarity.ivfQuery(t(s, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 5, numCentroids = 8, nprobe = 2)

  /** The at-rest ANN index ([[graft.ops.AnnIndex]]): the embedding
    * corpus written ONCE as a bucket-PARTITIONED parquet table (one
    * directory per 8-plane LSH bucket), then probed for q27's exact
    * question — cosine top-5 around vec_id 0. The probe computes the
    * query's bucket driver-side and filters on the partition column,
    * so partition pruning cuts the scan to one bucket's files
    * (`PlanGuardSpec` pins the PartitionFilters entry) — the serving
    * path SCALE.md promised next to q27's per-query bucketing. Judged
    * against q27's oracle VERBATIM: index layout cannot change
    * results. The index is built once per (pid, source dir) and
    * reused (q62's amortization pattern), so benched iterations
    * measure the PROBE — which is the layout's point.
    */
  private val annIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** The cached per-(pid, dir) index copies live under java.io.tmpdir —
    * reclaim them at JVM exit so repeated bench/verify runs don't
    * accumulate orphaned index directories on disk (q120 already rm's
    * its fragmented scaffold eagerly; this covers the kept copies).
    */
  private def rmTreeAtExit(m: java.util.concurrent.ConcurrentHashMap[String, String]): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      m.values().forEach(p => MicroBatchLoop.rmTree(new java.io.File(p)))))
  rmTreeAtExit(annIndexes)
  /** vec_id 0's embedding as a driver-side array — the query vector
    * every at-rest probe (q116/q120/q122/q123/q124) takes.
    */
  private def queryVec0(s: SparkSession, dir: String): Array[Double] =
    t(s, dir, "embeddings").filter(col("vec_id") === 0L)
      .select(Similarity.toDoubleVec(col("embedding")))
      .head().getSeq[Double](0).toArray
  /** The per-(pid, dir) float index copy, built once and shared by
    * q116's single-bucket probe and q123's multi-probe.
    */
  private def annIndexPath(s: SparkSession, dir: String): String =
    annIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_ann_index_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      graft.ops.AnnIndex.write(t(s, dir, "embeddings"), "vec_id", "embedding",
        p, numPlanes = 8, dim = embDim)
      p
    })
  private val q116: Q = (s, dir) =>
    graft.ops.AnnIndex.probe(s, annIndexPath(s, dir), "vec_id",
      queryVec0(s, dir), k = 5, numPlanes = 8, excludeId = Some(0L))

  /** Cross-batch EMBEDDING dedup against the at-rest vector index
    * ([[graft.ops.AnnIndex.crossDedupAgainstIndex]]) — the modality
    * triangle closed: text dedups batch-vs-store via the shingle index
    * (q109/q140), images via the signature store (q170), and this is
    * the vector side — the even embeddings live in the bucket-
    * partitioned index (half written, half APPENDED — the ingest
    * replay), the odd embeddings arrive as a batch whose distinct
    * bucket values prune the store scan to its partitions, and pairs
    * are exact round-6 cosine ≥ 0.35 within shared buckets (q28's
    * arithmetic, sides split). Oracle = q28's bucket-pair SQL with the
    * odd×even restriction: where the corpus vectors live, and whether
    * they were written or appended, cannot change a pair.
    */
  private val crossAnnIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(crossAnnIndexes)
  private val q180: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val path = crossAnnIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_ann_cross_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      graft.ops.AnnIndex.write(emb.filter(col("vec_id") % 4 === 0),
        "vec_id", "embedding", p, numPlanes = 8, dim = embDim)
      graft.ops.AnnIndex.append(emb.filter(col("vec_id") % 4 === 2),
        "vec_id", "embedding", p, numPlanes = 8, dim = embDim)
      p
    })
    graft.ops.AnnIndex.crossDedupAgainstIndex(
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
        path, threshold = 0.35, numPlanes = 8, dim = embDim)
      .orderBy("new_id", "corpus_id")
  }

  /** q197: SemDeDup-style keep-best decisions FROM THE STORED VECTOR
    * INDEX — the q187/q144 pattern for embeddings, the one modality
    * that had cross-dedup at rest (q180) but no stored decision pass:
    * the full corpus lives in the bucket-partitioned index (half
    * written, half APPENDED — the ingest lineage), the pair relation
    * is [[graft.ops.AnnIndex.cosinePairsFromIndex]]'s at-rest
    * within-bucket sweep (vectors + norms read from the `bucket=`
    * partitions the crawl loop already paid for — the primary
    * embedding table is never touched), and one keeper per cosine
    * component is chosen by the deterministic lowest-id rule
    * (SemDeDup's keep-component-min, the q164 convention). Oracle =
    * q28's bucket-pair CTE + q164's recursive closure + keeper window
    * over ALL vectors: a keep decision is a property of the pair
    * relation, not of where the vectors lived.
    */
  private val annKeepBestIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(annKeepBestIndexes)
  private val q197: Q = (s, dir) => {
    val path = annKeepBestIndexes.computeIfAbsent(dir, _ => {
      val emb = t(s, dir, "embeddings")
      val p = s"${sys.props("java.io.tmpdir")}/graft_ann_kb_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      graft.ops.AnnIndex.write(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", p, numPlanes = 8, dim = embDim)
      graft.ops.AnnIndex.append(emb.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", p, numPlanes = 8, dim = embDim)
      p
    })
    PinnedExec.withDerivedParts(s, path) {
      val pairs = graft.ops.AnnIndex
        .cosinePairsFromIndex(s, path, "vec_id", threshold = 0.35)
        .select(col("id_a"), col("id_b"))
      Dedup.keepBest(
          s.read.parquet(path).select(col("vec_id"), lit(0L).as("score")),
          "vec_id", pairs, "score")
        .select(col("vec_id"), col("cluster_id"), col("is_keeper"))
        .orderBy("vec_id")
    }
  }

  /** q198: the vector index's MAINTENANCE PASS composed end to end —
    * q194's lifecycle law for the last modality missing it: the stored
    * corpus (evens; write + append) gets a keep-best decision pass
    * ENTIRELY from the index (q197's sweep — the embedding table is
    * never read), the losers are EVICTED ([[graft.ops.AnnIndex
    * .deleteFromIndex]] + [[graft.ops.AnnIndex.purgeIndex]]), and a
    * new batch (odds) probes the surviving index (q180's
    * [[graft.ops.AnnIndex.crossDedupAgainstIndex]]). After
    * maintenance, new vectors dedup only against surviving canonical
    * vectors — the oracle recomputes the evens' keep-best closure and
    * restricts the cross-pair corpus side to the keepers.
    */
  private val annMaintIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(annMaintIndexes)
  private val q198: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val path = annMaintIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_ann_maint_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      graft.ops.AnnIndex.write(emb.filter(col("vec_id") % 4 === 0),
        "vec_id", "embedding", p, numPlanes = 8, dim = embDim)
      graft.ops.AnnIndex.append(emb.filter(col("vec_id") % 4 === 2),
        "vec_id", "embedding", p, numPlanes = 8, dim = embDim)
      // decision pass from the index (q197), losers leave it (q168's
      // tombstone machinery + physical purge)
      val losers = Dedup.keepBest(
          s.read.parquet(p).select(col("vec_id"), lit(0L).as("score")),
          "vec_id",
          graft.ops.AnnIndex
            .cosinePairsFromIndex(s, p, "vec_id", threshold = 0.35)
            .select(col("id_a"), col("id_b")),
          "score")
        .filter(!col("is_keeper"))
        .select(col("vec_id"))
      graft.ops.AnnIndex.deleteFromIndex(losers, "vec_id", p)
      graft.ops.AnnIndex.purgeIndex(s, p, "vec_id")
      p
    })
    graft.ops.AnnIndex.crossDedupAgainstIndex(
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
        path, threshold = 0.35, numPlanes = 8, dim = embDim)
      .orderBy("new_id", "corpus_id")
  }

  /** Multi-probe of the at-rest index ([[graft.ops.AnnIndex.probeMulti]]):
    * q116's layout probed over the query's bucket PLUS its 8 Hamming-1
    * neighbors — the served counterpart of q112's judged multiprobe
    * recall regime (single bucket bounds recall near 0.7; the 1-ball
    * union reaches 0.92–0.99). The `isin` over the 9 bucket values stays
    * a PARTITION filter (PlanGuardSpec pins `bucket IN`), so the scan
    * reads 9/2^8 of the index directories, never the corpus. The oracle
    * enumerates the same 1-ball relationally: recompute every vector's
    * bucket string and keep rows within Hamming distance ≤ 1 of the
    * query's — bucket assignment is md5-deterministic, so both engines
    * agree on the union exactly.
    */
  private val q123: Q = (s, dir) =>
    graft.ops.AnnIndex.probeMulti(s, annIndexPath(s, dir), "vec_id",
      queryVec0(s, dir), k = 5, numPlanes = 8, excludeId = Some(0L))

  /** The at-rest IVF index ([[graft.ops.IvfIndex]]): the corpus written
    * ONCE partitioned by its coarse-quantizer cell (q37's deterministic
    * 8-centroid assignment), the centroid table stored under
    * `_centroids/`; a probe ranks cells driver-side from that table
    * (8 rows) and partition-prunes the scan to the 2 best cells' files
    * (`PlanGuardSpec` pins the `cell IN (...)` PartitionFilters entry).
    * Judged against q37's oracle VERBATIM: index layout cannot change
    * results — the cell-partitioned counterpart of q116's LSH-bucket
    * argument. Built once per (pid, dir); benched iterations measure
    * the pruned probe.
    */
  private val ivfIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(ivfIndexes)
  private def ivfIndexPath(s: SparkSession, dir: String): String =
    ivfIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_ivf_index_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      graft.ops.IvfIndex.write(t(s, dir, "embeddings"), "vec_id",
        "embedding", p, numCentroids = 8)
      p
    })
  private val q125: Q = (s, dir) =>
    graft.ops.IvfIndex.probe(s, ivfIndexPath(s, dir), "vec_id",
      queryVec0(s, dir), k = 5, nprobe = 2, excludeId = Some(0L))

  /** The k-means-SEEDED IVF index ([[graft.ops.IvfIndex.write]] with
    * `kmeansIters = 1`): the coarse quantizer is q82's Lloyd-refined
    * centroid table ([[graft.ops.Similarity.kmeansCentroids]]) instead
    * of the raw lowest-8-id vectors — the geometry-aware build. Raw
    * seed vectors are arbitrary corpus rows, so cell populations skew
    * with the data's shape, and a fat cell erodes the
    * nprobe/numCentroids scan-pruning ratio that is the index's whole
    * 100 TB argument; Lloyd means are cluster centers, so populations
    * track the corpus's actual geometry (`IvfIndexSpec` pins the
    * measured balance improvement: max-cell population strictly
    * smaller than the lowest-id layout's on the judged corpus).
    * Everything downstream is UNCHANGED — probe/append/rebuild read
    * the STORED `_centroids`, so the maintenance contracts (frozen-
    * quantizer ingest q128, atomic-swap rebuild q136) carry over to
    * this layout verbatim. Judged end to end: the oracle composes
    * q82's k-means CTEs (the refined centroid table + its assignment)
    * with q125's probe CTEs (nprobe-2 cell cut, exact in-cell
    * ranking) — both halves already pinned individually. Built once
    * per (pid, dir).
    */
  private val ivfKmeansIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(ivfKmeansIndexes)
  private val q141: Q = (s, dir) => {
    val path = ivfKmeansIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_ivf_kmeans_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      graft.ops.IvfIndex.write(t(s, dir, "embeddings"), "vec_id",
        "embedding", p, numCentroids = 8, kmeansIters = 1)
      p
    })
    graft.ops.IvfIndex.probe(s, path, "vec_id",
      queryVec0(s, dir), k = 5, nprobe = 2, excludeId = Some(0L))
  }

  /** IVF ingest replay ([[graft.ops.IvfIndex.append]]): the index is
    * built from the FIRST HALF of the corpus (vec_id < 250 — which
    * contains the 8 seed ids, so the frozen coarse quantizer equals the
    * full-corpus one) and the second half is folded in against the
    * STORED centroids — a pure partition append. Judged against q37's
    * oracle VERBATIM: with the frozen quantizer, neither the layout nor
    * the ingest path can change results (q118's argument, for the
    * cell-partitioned index). Built once per (pid, dir).
    */
  private val ivfIngestIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(ivfIngestIndexes)
  private val q128: Q = (s, dir) => {
    val path = ivfIngestIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_ivf_ingest_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      val emb = t(s, dir, "embeddings")
      graft.ops.IvfIndex.write(emb.filter(col("vec_id") < 250),
        "vec_id", "embedding", p, numCentroids = 8)
      graft.ops.IvfIndex.append(s, emb.filter(col("vec_id") >= 250),
        "vec_id", "embedding", p)
      p
    })
    graft.ops.IvfIndex.probe(s, path, "vec_id",
      queryVec0(s, dir), k = 5, nprobe = 2, excludeId = Some(0L))
  }

  /** DELETE from the at-rest IVF index ([[graft.ops.IvfIndex.delete]] /
    * [[graft.ops.IvfIndex.purge]]) — the eviction half of the ANN
    * lifecycle (build q125, ingest q128, rebuild q136; this is how
    * keep-best losers/takedowns actually LEAVE the index). Both
    * regimes, the q166/q167 shape: vec_id ≡ 4 (mod 18) deleted then
    * PURGED (only affected cells rewritten, `_tombstones` cleared);
    * vec_id ≡ 13 (mod 18) deleted after the purge and probed under the
    * tombstone MASK. The deleted set includes SEED id 4 — pinning the
    * delete family's geometry rule: the frozen coarse quantizer does
    * NOT change on delete (centroid 4 still ranks cells; only the ROW
    * is gone), exactly as it does not change on append. Oracle: q125's
    * probe CTEs with centroids from the FULL build corpus but
    * assignment/ranking over survivors only.
    */
  private val ivfDeleteIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(ivfDeleteIndexes)
  private val q168: Q = (s, dir) => {
    val path = ivfDeleteIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_ivf_del_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      val emb = t(s, dir, "embeddings")
      graft.ops.IvfIndex.write(emb, "vec_id", "embedding", p, numCentroids = 8)
      graft.ops.IvfIndex.delete(
        emb.filter(col("vec_id") % 18 === 4).select(col("vec_id")), "vec_id", p)
      graft.ops.IvfIndex.purge(s, p, "vec_id")
      graft.ops.IvfIndex.delete(
        emb.filter(col("vec_id") % 18 === 13).select(col("vec_id")), "vec_id", p)
      p
    })
    graft.ops.IvfIndex.probe(s, path, "vec_id",
      queryVec0(s, dir), k = 5, nprobe = 2, excludeId = Some(0L))
  }

  /** The quantized IVF layout ([[graft.ops.IvfIndex.writeQuantized]]):
    * cell-PARTITIONED and int8-STORED at once — q125's partition
    * pruning × q119's 4×-smaller scan, the cell-side counterpart of
    * q122 and the cheapest-bytes probe the IVF family offers. Cells
    * are assigned on the float vector (frozen geometry — candidate
    * membership is exactly q125's), storage is `array<tinyint>` +
    * scale + precomputed qnrm; the probe ranks by quantized cosine
    * (exact integer dot products cross-engine). Oracle = q125's cell
    * CTEs composed with q122's quantization CTEs, both halves already
    * pinned. Built once per (pid, dir).
    */
  private val ivfQuantIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(ivfQuantIndexes)
  private def ivfQuantIndexPath(s: SparkSession, dir: String): String =
    ivfQuantIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_ivf_quant_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      graft.ops.IvfIndex.writeQuantized(t(s, dir, "embeddings"), "vec_id",
        "embedding", p, numCentroids = 8)
      p
    })
  private val q134: Q = (s, dir) =>
    graft.ops.IvfIndex.probeQuantized(s, ivfQuantIndexPath(s, dir),
      "vec_id", queryVec0(s, dir), k = 5, nprobe = 2, excludeId = Some(0L))

  /** The complete IVF serving path against storage
    * ([[graft.ops.IvfIndex.probeTwoTier]]): tier 1 partition-prunes
    * q134's quantized cell layout to the 2 best cells and cuts the
    * quantized top-(10·4); tier 2 fetches ONLY those candidates' float
    * vectors from the primary `embeddings` table (broadcast semi
    * lookup) and re-ranks by exact cosine — q124's
    * approximate-cut/exact-answer probe, on the cell side. Oracle =
    * q134's CTEs (cell cut over the int8 form) composed with q121's
    * re-rank tier.
    */
  private val q139: Q = (s, dir) =>
    graft.ops.IvfIndex.probeTwoTier(s, ivfQuantIndexPath(s, dir),
      t(s, dir, "embeddings"), "vec_id", "embedding",
      queryVec0(s, dir), k = 10, overfetch = 4, nprobe = 2,
      excludeId = Some(0L))

  /** Quantized-IVF ingest replay ([[graft.ops.IvfIndex
    * .appendQuantized]]): built from the first half (which contains the
    * 8 seed ids, so the frozen quantizer equals the full-corpus one),
    * second half folded in against the STORED centroids — q128's
    * frozen-quantizer argument over the int8 storage form. Judged
    * against q134's oracle VERBATIM. Built once per (pid, dir).
    */
  private val ivfQuantIngestIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(ivfQuantIngestIndexes)
  private val q137: Q = (s, dir) => {
    val path = ivfQuantIngestIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_ivf_qing_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      val emb = t(s, dir, "embeddings")
      graft.ops.IvfIndex.writeQuantized(emb.filter(col("vec_id") < 250),
        "vec_id", "embedding", p, numCentroids = 8)
      graft.ops.IvfIndex.appendQuantized(s, emb.filter(col("vec_id") >= 250),
        "vec_id", "embedding", p)
      p
    })
    graft.ops.IvfIndex.probeQuantized(s, path, "vec_id",
      queryVec0(s, dir), k = 5, nprobe = 2, excludeId = Some(0L))
  }

  /** IVF REBUILD ([[graft.ops.IvfIndex.rebuild]]): the index is built
    * the way long-running ingest leaves it (first half written, second
    * half appended against the frozen quantizer — q128's replay), then
    * the coarse quantizer is RECOMPUTED over the full at-rest corpus
    * and the layout atomically swapped — the refresh operator that
    * remediates cell-balance drift. Because the quantizer seeds
    * deterministically (lowest-8 ids), rebuild-after-appends ≡
    * fresh-write on the union corpus exactly: judged against q37's
    * oracle VERBATIM — a refresh can change layout, never answers.
    * Built once per (pid, dir).
    */
  private val ivfRebuiltIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(ivfRebuiltIndexes)
  private val q136: Q = (s, dir) => {
    val path = ivfRebuiltIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_ivf_rebuild_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      val emb = t(s, dir, "embeddings")
      graft.ops.IvfIndex.write(emb.filter(col("vec_id") < 250),
        "vec_id", "embedding", p, numCentroids = 8)
      graft.ops.IvfIndex.append(s, emb.filter(col("vec_id") >= 250),
        "vec_id", "embedding", p)
      graft.ops.IvfIndex.rebuild(s, p, "vec_id", numCentroids = 8)
      p
    })
    graft.ops.IvfIndex.probe(s, path, "vec_id",
      queryVec0(s, dir), k = 5, nprobe = 2, excludeId = Some(0L))
  }

  /** q202: the DRIFT-TRIGGERED rebuild contract ([[graft.ops.IvfIndex
    * .driftCheck]]) — the decision half of the frozen-quantizer
    * lifecycle q136 leaves unjudged (q128 freezes the geometry on
    * ingest by contract, q136 judges the rebuild mechanics; nothing
    * judged WHEN a rebuild should fire): the build's cell-balance
    * profile is frozen beside `_centroids` (`_drift/` — integer
    * max/total cell counts), and each candidate batch is assigned
    * against the frozen quantizer and compared — fire when the batch's
    * max-cell fraction exceeds 1.5× the build's, as exact integer
    * products. Two judged scenarios: an ALIGNED batch (the odd half —
    * same distribution, must not fire) and a DRIFTED one (the corpus
    * folded through |x|, which collapses it into the positive orthant
    * and concentrates the assignment — must fire). The oracle
    * recomputes assignments (q37's argmax SQL), counts, and the
    * integer verdicts relationally.
    */
  private val ivfDriftIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(ivfDriftIndexes)
  private val q202: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val path = ivfDriftIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_ivf_drift_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      graft.ops.IvfIndex.write(emb, "vec_id", "embedding", p, numCentroids = 8)
      graft.ops.IvfIndex.writeDriftProfile(s, p)
      p
    })
    def verdict(tag: String, batch: org.apache.spark.sql.DataFrame) =
      graft.ops.IvfIndex.driftCheck(batch, "vec_id", "embedding", path)
        .select(lit(tag).as("scenario"), col("build_max"), col("build_total"),
          col("batch_max"), col("batch_total"), col("rebuild_fired"))
    verdict("aligned", emb.filter(col("vec_id") % 2 === 1))
      .unionByName(verdict("drifted", emb.select(col("vec_id"),
        transform(col("embedding"), x => abs(x)).as("embedding"))))
      .orderBy("scenario")
  }

  /** q207: the CODEBOOK-drift rebuild contract ([[graft.ops
    * .ProductQuantize.quantizationDrift]]) — q202's decision law asked
    * of the OTHER frozen quantizer. q202 monitors where rows LAND
    * (cell balance = serving cost); this monitors how well they
    * RECONSTRUCT (quantization distortion = serving accuracy), and the
    * two are complementary by construction: the staged drift here is a
    * RE-EMBEDDED corpus (an upstream encoder change — every vector
    * rescaled 3×, an exact IEEE double multiply both engines replay),
    * which the cosine cell assignment cannot see at all (cells are
    * scale-invariant — q202's monitor stays silent) while ADC scores
    * assembled from build-time codewords degrade ~9× in squared error.
    * The build profile freezes (tau=2.0, build_bad, build_total)
    * beside `_codebook`; the verdict compares bad fractions as exact
    * integer products (measured margins: build/aligned distortion
    * < 0.99 at every tested SF, re-embedded > 6.6 — ~7× on each side
    * of tau). Oracle recomputes the codebook (the q146 training
    * replay), per-vector decimal distortions, counts, and verdicts
    * relationally.
    */
  private val pqDriftIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(pqDriftIndexes)
  private val q207: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val path = pqDriftIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_pq_drift_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      graft.ops.IvfIndex.writePq(emb, "vec_id", "embedding", p,
        numCentroids = 8, m = 4, k = 8, pqIters = 1)
      graft.ops.ProductQuantize.writeQuantizationDriftProfile(emb,
        "vec_id", "embedding", p, tau = 2.0)
      p
    })
    def verdict(tag: String, batch: org.apache.spark.sql.DataFrame) =
      graft.ops.ProductQuantize.quantizationDrift(batch, "vec_id",
          "embedding", path)
        .select(lit(tag).as("scenario"), col("build_bad"),
          col("build_total"), col("batch_bad"), col("batch_total"),
          col("rebuild_fired"))
    verdict("aligned", emb.filter(col("vec_id") % 2 === 1))
      .unionByName(verdict("re_embedded", emb.select(col("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") * lit(3.0)).as("embedding"))))
      .orderBy("scenario")
  }

  /** q208: the LSH-bucket drift contract ([[graft.ops.AnnIndex
    * .driftCheck]]) — the THIRD frozen geometry monitored, closing the
    * set (IVF cells q202, PQ codebook q207, sign-pattern buckets
    * here): the md5 plane family never changes on ingest, so a
    * directional collapse (the |x| fold) concentrates new rows into
    * few sign patterns and erodes the ~1/2^planes scan fraction the
    * partition layout sells. THREE judged scenarios pin the monitor
    * AND its boundaries: an aligned batch must not fire; the folded
    * corpus must; and a 3×-RESCALED corpus must not — sign(3v·p) =
    * sign(v·p), so the drift that fires q207's reconstruction monitor
    * is provably invisible here (the monitors partition the failure
    * modes between them). Oracle recomputes buckets from the inlined
    * plane literals (q27's convention), counts, and integer verdicts.
    */
  private val lshDriftIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(lshDriftIndexes)
  private val q208: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val path = lshDriftIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_lsh_drift_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      graft.ops.AnnIndex.write(emb, "vec_id", "embedding", p,
        numPlanes = 8, dim = embDim)
      graft.ops.AnnIndex.writeDriftProfile(s, p)
      p
    })
    def verdict(tag: String, batch: org.apache.spark.sql.DataFrame) =
      graft.ops.AnnIndex.driftCheck(batch, "vec_id", "embedding", path,
          numPlanes = 8)
        .select(lit(tag).as("scenario"), col("build_max"),
          col("build_total"), col("batch_max"), col("batch_total"),
          col("rebuild_fired"))
    verdict("aligned", emb.filter(col("vec_id") % 2 === 1))
      .unionByName(verdict("folded", emb.select(col("vec_id"),
        transform(col("embedding"), x => abs(x)).as("embedding"))))
      .unionByName(verdict("rescaled", emb.select(col("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") * lit(3.0)).as("embedding"))))
      .orderBy("scenario")
  }

  /** int8-quantized cosine top-10 around vec_id 0
    * ([[graft.ops.Quantize]]): the brute scan q26 runs, but entirely on
    * the 4×-smaller int8 form — the candidate-generation tier of a
    * two-tier (int8 scan → exact re-rank) serving stack. The quantized
    * values are exact small integers, so the oracle reproduces the
    * similarity bit-for-bit; the judged ranking is the QUANTIZED one —
    * this query pins the quantization scheme itself (round-half-up,
    * symmetric max-abs, zero-vector guard) cross-engine, not just its
    * approximation quality (QuantizeSpec bounds that separately).
    */
  private val q119: Q = (s, dir) =>
    graft.ops.Quantize.topKQuantized(t(s, dir, "embeddings"), "vec_id",
      "embedding", queryId = 0L, k = 10)

  /** Two-tier serving top-10 ([[graft.ops.Quantize.topKTwoTier]]):
    * int8 candidate scan (top-40 quantized) → exact float re-rank of
    * just those 40. The candidate cut is part of the judged semantics
    * (deterministic (sim desc, id) order at both tiers), so the oracle
    * composes the same two tiers — cross-engine agreement pins the
    * whole serving path, not just one tier.
    */
  private val q121: Q = (s, dir) =>
    graft.ops.Quantize.topKTwoTier(t(s, dir, "embeddings"), "vec_id",
      "embedding", queryId = 0L, k = 10, overfetch = 4)

  /** PRODUCT QUANTIZATION ([[graft.ops.ProductQuantize]]) — the
    * compression tier after int8's 4×: 4 subspaces × 8-codeword
    * codebooks (per-subspace L2 k-means, lowest-id seeds + one
    * decimal-exact Lloyd round), each vector stored as 4 small codes.
    * q146 judges the codebook + encoding itself (every vector's 4
    * codes pinned cross-engine — the training determinism claim);
    * q147 the ADC cosine sweep (the m-lookup candidate scan a 100 TB
    * corpus runs instead of vector math); q148 the complete ADC-cut →
    * exact-re-rank serving path (q121's contract over the PQ tier).
    * Codebook trained once per (pid, dir); encoding re-runs per call —
    * it IS the benched sweep cost.
    */
  private val pqCodebooks =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(pqCodebooks)
  private def pqCodebook(s: SparkSession, dir: String): DataFrame = {
    // the codebook lives AT REST (m·k rows of parquet) — the production
    // shape: training is a build step, serving reads the artifact; also
    // keeps the cross-call cache a path, never a checkpointed frame
    // whose blocks linger in executor storage between queries
    val p = pqCodebooks.computeIfAbsent(dir, _ => {
      val path = s"${sys.props("java.io.tmpdir")}/graft_pq_codebook_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      graft.ops.ProductQuantize.train(t(s, dir, "embeddings"), "vec_id",
          "embedding", m = 4, k = 8, iters = 1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
      path
    })
    s.read.parquet(p)
  }
  private def pqCodes(s: SparkSession, dir: String): DataFrame =
    graft.ops.ProductQuantize.encode(t(s, dir, "embeddings"), "vec_id",
      "embedding", pqCodebook(s, dir), m = 4)

  private val q146: Q = (s, dir) =>
    pqCodes(s, dir)
      .select(col("vec_id"), col("sub").cast("long").as("sub"), col("code"))
      .orderBy("vec_id", "sub")

  /** The IVF-PQ index at rest ([[graft.ops.IvfIndex.writePq]]): q125's
    * cell partitioning × q146's product-quantized storage — the
    * FAISS-lineage layout where a probe reads nprobe/numCentroids of a
    * corpus that is only CODES (m small integers per vector), and
    * ranks by the ADC lookup table (q147's scoring, over the pruned
    * cells). q149 judges the pruned ADC probe, q150 the complete
    * ADC-cut → exact-re-rank serving path, q151 the DOUBLE-frozen
    * ingest: cells from the stored `_centroids` (raw lowest-id seeds,
    * identical to the full-corpus ones since the build slice contains
    * them) and codes from the stored `_codebook` — which is
    * slice-TRAINED Lloyd means, genuinely different from the
    * full-corpus codebook, so q151's oracle is q149's with the
    * training relation restricted to the build slice: the judged claim
    * is that ingest codes history against the quantizer THAT EXISTED
    * AT BUILD TIME, exactly. Built once per (pid, dir).
    */
  private val ivfPqIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(ivfPqIndexes)
  private def ivfPqIndexPath(s: SparkSession, dir: String): String =
    ivfPqIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_ivfpq_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      graft.ops.IvfIndex.writePq(t(s, dir, "embeddings"), "vec_id",
        "embedding", p, numCentroids = 8, m = 4, k = 8, pqIters = 1)
      p
    })
  private val q149: Q = (s, dir) =>
    graft.ops.IvfIndex.probePq(s, ivfPqIndexPath(s, dir), "vec_id",
      queryVec0(s, dir), k = 5, nprobe = 2, excludeId = Some(0L))

  private val q150: Q = (s, dir) =>
    graft.ops.IvfIndex.probeTwoTierPq(s, ivfPqIndexPath(s, dir),
      t(s, dir, "embeddings"), "vec_id", "embedding",
      queryVec0(s, dir), k = 10, overfetch = 4, nprobe = 2,
      excludeId = Some(0L))

  private val ivfPqIngestIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(ivfPqIngestIndexes)
  private val q151: Q = (s, dir) => {
    val path = ivfPqIngestIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_ivfpq_ing_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      val emb = t(s, dir, "embeddings")
      // the build slice contains the seed ids (0..7), so BOTH frozen
      // quantizers equal the full-corpus ones and append ≡ write
      graft.ops.IvfIndex.writePq(emb.filter(col("vec_id") < 250),
        "vec_id", "embedding", p, numCentroids = 8, m = 4, k = 8,
        pqIters = 1)
      graft.ops.IvfIndex.appendPq(s, emb.filter(col("vec_id") >= 250),
        "vec_id", "embedding", p)
      p
    })
    graft.ops.IvfIndex.probePq(s, path, "vec_id",
      queryVec0(s, dir), k = 5, nprobe = 2, excludeId = Some(0L))
  }

  /** The RESIDUAL IVF-PQ index ([[graft.ops.IvfIndex.writePqResidual]]):
    * q149's layout with the FAISS-standard accuracy lever — each row's
    * codes quantize `v − centroid(cell)` against a codebook trained on
    * the residuals, so the same m·k budget spends its dynamic range on
    * within-cell geometry. The lever only pays when centroids are
    * actual CLUSTER CENTERS, so this layout composes with q141's
    * k-means-seeded coarse quantizer (measured: residual MSE 0.798 vs
    * raw 0.842 at equal m·k under Lloyd centroids, but 1.49 — WORSE —
    * under raw lowest-id seeds, whose subtraction adds energy on
    * near-orthogonal vectors; `IvfIndexSpec` pins the win). The probe
    * ranks by cos(q, c + r̂) assembled from four broadcast lookup
    * relations — still m table hits per row, no vector math. Judged
    * end to end: the oracle composes q82's k-means CTEs, an exact-IEEE
    * residual-subtraction CTE, q146's train/encode block over the
    * residuals, and the residual ADC tail with the two centroid
    * terms. Double-frozen ingest (q151's contract) carries over via
    * [[graft.ops.IvfIndex.appendPqResidual]], spec-pinned. Built once
    * per (pid, dir).
    */
  private val ivfPqResIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(ivfPqResIndexes)
  private val q157: Q = (s, dir) => {
    val path = ivfPqResIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_ivfpq_res_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      graft.ops.IvfIndex.writePqResidual(t(s, dir, "embeddings"), "vec_id",
        "embedding", p, numCentroids = 8, m = 4, k = 8, pqIters = 1,
        kmeansIters = 1)
      p
    })
    graft.ops.IvfIndex.probePqResidual(s, path, "vec_id",
      queryVec0(s, dir), k = 5, nprobe = 2, excludeId = Some(0L))
  }

  /** The complete residual-IVF-PQ serving path ([[graft.ops.IvfIndex
    * .probeTwoTierPqResidual]]): q157's cell-pruned residual-ADC cut to
    * the top-(10·4), exact float re-rank of only those candidates —
    * q150's contract over the residual tier. Oracle = q157's CTEs with
    * the cut widened to 40 composed with q121's re-rank tier.
    */
  private val q160: Q = (s, dir) => {
    val path = ivfPqResIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_ivfpq_res_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      graft.ops.IvfIndex.writePqResidual(t(s, dir, "embeddings"), "vec_id",
        "embedding", p, numCentroids = 8, m = 4, k = 8, pqIters = 1,
        kmeansIters = 1)
      p
    })
    graft.ops.IvfIndex.probeTwoTierPqResidual(s, path,
      t(s, dir, "embeddings"), "vec_id", "embedding",
      queryVec0(s, dir), k = 10, overfetch = 4, nprobe = 2,
      excludeId = Some(0L))
  }

  private val q147: Q = (s, dir) =>
    graft.ops.ProductQuantize.adcTopK(pqCodes(s, dir), pqCodebook(s, dir),
      "vec_id", queryVec0(s, dir), k = 10, excludeId = Some(0L))

  private val q148: Q = (s, dir) =>
    graft.ops.ProductQuantize.topKTwoTier(pqCodes(s, dir),
      pqCodebook(s, dir), t(s, dir, "embeddings"), "vec_id", "embedding",
      queryVec0(s, dir), k = 10, overfetch = 4, excludeId = Some(0L))

  /** The assembled serving layout ([[graft.ops.AnnIndex.writeQuantized]]):
    * bucket-partitioned AND int8-quantized at rest — q116's partition
    * pruning × q119's 4×-smaller scan, floats not stored at all. The
    * probe prunes to the float-assigned bucket, ranks by quantized
    * cosine (exact integer dot products cross-engine). Built once per
    * (pid, dir) like q116; benched iterations measure the pruned int8
    * probe — the cheapest per-query read any layout here offers.
    */
  private val quantIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(quantIndexes)
  /** The per-(pid, dir) quantized index copy, built once and shared by
    * q122's tier-1 probe and q124's end-to-end two-tier probe.
    */
  private def quantIndexPath(s: SparkSession, dir: String): String =
    quantIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_ann_quant_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      graft.ops.AnnIndex.writeQuantized(t(s, dir, "embeddings"), "vec_id",
        "embedding", p, numPlanes = 8, dim = embDim)
      p
    })
  private val q122: Q = (s, dir) =>
    graft.ops.AnnIndex.probeQuantized(s, quantIndexPath(s, dir), "vec_id",
      queryVec0(s, dir), k = 5, numPlanes = 8, excludeId = Some(0L))

  /** Multi-probe over the QUANTIZED index
    * ([[graft.ops.AnnIndex.probeQuantizedMulti]]): q122's 4×-smaller
    * int8 scan over q123's Hamming-1 bucket union — the
    * cheapest-bytes/highest-recall candidate tier the at-rest layouts
    * compose. Oracle = quantization CTEs × the Hamming ≤ 1 predicate
    * (both halves already pinned by q122/q123).
    */
  private val q126: Q = (s, dir) =>
    graft.ops.AnnIndex.probeQuantizedMulti(s, quantIndexPath(s, dir),
      "vec_id", queryVec0(s, dir), k = 5, numPlanes = 8,
      excludeId = Some(0L))

  /** The complete serving path against storage
    * ([[graft.ops.AnnIndex.probeTwoTier]]): tier 1 partition-prunes
    * q122's at-rest quantized index to the query bucket and cuts the
    * quantized top-(10·4); tier 2 fetches ONLY those candidates' float
    * vectors from the primary `embeddings` table (broadcast semi
    * lookup) and re-ranks by exact cosine. Deterministic tier by tier,
    * so the oracle composes q122's CTEs (bucket cut over the int8 form)
    * with q121's re-rank tier — the approximate-cut/exact-answer probe
    * a 100 TB layout serves, oracle-pinned end to end.
    */
  private val q124: Q = (s, dir) =>
    graft.ops.AnnIndex.probeTwoTier(s, quantIndexPath(s, dir),
      t(s, dir, "embeddings"), "vec_id", "embedding",
      queryVec0(s, dir), k = 10, overfetch = 4, numPlanes = 8,
      excludeId = Some(0L))

  /** Quantized-index ingest replay ([[graft.ops.AnnIndex
    * .appendQuantized]]): the int8 index built the way a streaming
    * maintenance loop leaves it — four partition appends — then probed
    * for q122's exact question. Judged against q122's oracle VERBATIM:
    * quantization scales and buckets are per-vector-stateless, so the
    * ingest path cannot change results (q120's argument for the int8
    * layout). Built once per (pid, dir).
    */
  private val quantIngestIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(quantIngestIndexes)
  private val q130: Q = (s, dir) => {
    val path = quantIngestIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_quant_ingest_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      val emb = t(s, dir, "embeddings")
      for (k <- 0 until 4)
        graft.ops.AnnIndex.appendQuantized(emb.filter(col("vec_id") % 4 === k),
          "vec_id", "embedding", p, numPlanes = 8, dim = embDim)
      p
    })
    graft.ops.AnnIndex.probeQuantized(s, path, "vec_id",
      queryVec0(s, dir), k = 5, numPlanes = 8, excludeId = Some(0L))
  }

  /** The best-recall complete serving path: q126's multi-probe int8
    * tier-1 cut (Hamming-1 bucket union, 4×-smaller bytes) under q124's
    * exact float re-rank — the last cell of the layout × probe matrix.
    */
  private val q129: Q = (s, dir) =>
    graft.ops.AnnIndex.probeTwoTier(s, quantIndexPath(s, dir),
      t(s, dir, "embeddings"), "vec_id", "embedding",
      queryVec0(s, dir), k = 10, overfetch = 4, numPlanes = 8,
      excludeId = Some(0L), multiProbe = true)

  /** Compacted-index probe ([[graft.ops.AnnIndex.compact]]): the index
    * is built the way q118's streaming loop leaves it — four partition
    * APPENDS, so every bucket directory holds up to four small batch
    * files — then compacted to ONE file per bucket and probed for q27's
    * exact question. Judged against q27's oracle VERBATIM: compaction
    * is layout-only by construction. Built once per (pid, dir) and
    * reused (q116's amortization), so benched iterations measure the
    * probe — the latency compaction exists to protect.
    */
  private val compactedIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(compactedIndexes)
  private val q120: Q = (s, dir) => {
    val path = compactedIndexes.computeIfAbsent(dir, _ => {
      val tag = s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      val frag = s"${sys.props("java.io.tmpdir")}/graft_ann_frag_$tag"
      val emb = t(s, dir, "embeddings")
      for (k <- 0 until 4)
        graft.ops.AnnIndex.append(emb.filter(col("vec_id") % 4 === k),
          "vec_id", "embedding", frag, numPlanes = 8, dim = embDim)
      val p = s"${sys.props("java.io.tmpdir")}/graft_ann_compact_$tag"
      graft.ops.AnnIndex.compact(s, frag, p)
      // the fragmented copy is scaffolding — reclaim it
      MicroBatchLoop.rmTree(new java.io.File(frag))
      p
    })
    graft.ops.AnnIndex.probe(s, path, "vec_id", queryVec0(s, dir), k = 5,
      numPlanes = 8, excludeId = Some(0L))
  }

  /** Embedding near-dup pairs: 8-plane LSH blocking + cosine ≥ 0.35.
    * Plane count follows the round-6 q97 rule — planes ∝
    * log₂(n/target-bucket), and 8 is the widest that keeps the
    * sf0.001 judged graph non-empty; at sf1 it cuts candidate pairs
    * ~6× vs 4 planes for the same judged output discipline (the
    * oracle replays the identical 8-plane buckets).
    */
  private val q28: Q = (s, dir) =>
    Similarity.nearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.35, numPlanes = 8, dim = embDim)
      .orderBy("id_a", "id_b")

  /** Multimodal metadata: text payload treated as an opaque binary blob —
    * byte length, checksum, chunk count (payload-free decode is stubbed
    * in [[graft.ops.Multimodal]]; this is the metadata scan path).
    */
  private val q29: Q = (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id").as("media_id"),
      octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
      md5(col("text").cast("binary")).as("checksum"),
      expr("n_chars div 100").as("n_chunks"),
    ).orderBy("media_id")

  /** Real image decode end to end: each document becomes a binary PPM
    * payload (deterministic 8×6 gradient keyed by (doc_id, n_chars) —
    * [[Multimodal.gradientPpm]]), which [[Multimodal.imageStatsTable]]
    * actually PARSES (header grammar + pixel traversal) to recover
    * dimensions and exact channel sums. The oracle recomputes the
    * gradient arithmetic in SQL — a broken encoder OR decoder breaks the
    * match. Channel means divide long sums by the pixel count in doubles
    * on both sides (identical IEEE operands), rounded to 6.
    */
  private val q76: Q = (s, dir) => {
    import s.implicits._
    val media = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .map { case (id, n) => (id, Multimodal.gradientPpm(id, n, 8, 6)) }
      .toDF("media_id", "payload")
    Multimodal.imageStatsTable(media)
      .select(col("media_id"),
        col("img_w").cast("long").as("img_w"),
        col("img_h").cast("long").as("img_h"),
        round(col("sum_r").cast("double") / (col("img_w") * col("img_h")), 6).as("r_mean"),
        round(col("sum_g").cast("double") / (col("img_w") * col("img_h")), 6).as("g_mean"),
        round(col("sum_b").cast("double") / (col("img_w") * col("img_h")), 6).as("b_mean"))
      .orderBy("media_id")
  }

  /** Image resize end to end ([[Multimodal.resizeImage]]): the q76
    * gradient PPM (8×6) is decoded, nearest-neighbor-resampled to 5×4
    * (non-divisible ratio, so the floor in `sx = x·srcW/dstW` is
    * exercised), re-encoded, and decoded AGAIN by [[Multimodal
    * .imageStatsTable]] — the full decode→transform→encode→decode chain
    * a thumbnailing pipeline runs. The oracle replays the source-pixel
    * arithmetic under the same floor-division sampling in SQL.
    */
  private val q86: Q = (s, dir) => {
    import s.implicits._
    val media = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .map { case (id, n) =>
        (id, Multimodal.resizeImage(Multimodal.gradientPpm(id, n, 8, 6), 5, 4))
      }
      .toDF("media_id", "payload")
    Multimodal.imageStatsTable(media)
      .select(col("media_id"),
        col("img_w").cast("long").as("img_w"),
        col("img_h").cast("long").as("img_h"),
        round(col("sum_r").cast("double") / (col("img_w") * col("img_h")), 6).as("r_mean"),
        round(col("sum_g").cast("double") / (col("img_w") * col("img_h")), 6).as("g_mean"),
        round(col("sum_b").cast("double") / (col("img_w") * col("img_h")), 6).as("b_mean"))
      .orderBy("media_id")
  }

  /** REAL-FORMAT image decode end to end ([[Multimodal.decodeImage]] —
    * `javax.imageio`, the JDK's own PNG codec, zero new dependencies):
    * each document's deterministic 16×12 gradient raster is encoded as
    * an actual PNG (IDAT/zlib, not a toy header format) and the judged
    * stats come from DECODING those compressed bytes on the executors —
    * the q76 contract upgraded from PPM to the format a real multimodal
    * corpus actually ships. PNG is lossless, so the decoded raster
    * equals the generated one bit-for-bit and the oracle replays the
    * gradient arithmetic exactly (a broken encoder, a broken decoder,
    * or any sRGB channel-order slip breaks the match). JPEG rides the
    * same [[Multimodal.decodeImage]] path but is lossy, so its
    * round-trip contract is tolerance-pinned in `OpsSpec`, not judged.
    */
  private val q142: Q = (s, dir) => {
    import s.implicits._
    val media = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .map { case (id, n) =>
        (id, Multimodal.encodePng(
          Multimodal.decodePpm(Multimodal.gradientPpm(id, n, 16, 12))))
      }
      .toDF("media_id", "payload")
    Multimodal.imageStatsTableCompressed(media)
      .select(col("media_id"),
        col("img_w").cast("long").as("img_w"),
        col("img_h").cast("long").as("img_h"),
        round(col("sum_r").cast("double") / (col("img_w") * col("img_h")), 6).as("r_mean"),
        round(col("sum_g").cast("double") / (col("img_w") * col("img_h")), 6).as("g_mean"),
        round(col("sum_b").cast("double") / (col("img_w") * col("img_h")), 6).as("b_mean"))
      .orderBy("media_id")
  }

  /** Perceptual-hash image dedup ([[Multimodal.aHash]] feeding
    * [[graft.ops.Dedup.hammingNearDupFromSig]]) — the image-CONTENT
    * dedup next to text shingles (q92) and embedding SemDeDup (q115):
    * every 4 consecutive documents share one 16×12 keyed-gradient base
    * image ([[Multimodal.keyedGradientRaster]]), each variant perturbed
    * at a DIFFERENT odd-coordinate pixel (invisible to the 8×6
    * average-hash downsample, which samples even coordinates only), PNG
    * encoded, decoded on the executors, hashed, and paired by the
    * pigeonhole Hamming bands (48 bits, 4 bands, ≤ 3 flips). Within a
    * group the variants are near-identical images differing by a few
    * pixels — they MUST pair (hamming 0); across groups the
    * multiplicative gradients give essentially independent signatures —
    * they must not. The oracle replays the sampled-pixel arithmetic,
    * the integer grayscale/threshold bits, and the exact
    * `bit_count(xor)` pair filter (q55's idiom), so a broken codec,
    * sampler, thresholder, or banding all break the match. Pair volume
    * at scale: ≤ 6 per 4-doc group, ∝ corpus size.
    */
  private val q158: Q = (s, dir) => {
    import s.implicits._
    val media = t(s, dir, "documents")
      .select(col("doc_id")).as[Long]
      .map { id =>
        val img = Multimodal.keyedGradientRaster(id / 4, 16, 12)
        // a few-pixel change at odd coordinates: a hash robust to small
        // perturbations must not see it
        val v = Multimodal.perturbPixel(img, 1 + 2 * (id % 4).toInt, 1, 97)
        (id, Multimodal.encodePng(v))
      }
      .toDF("media_id", "payload")
    Dedup.hammingNearDupFromSig(
        Multimodal.imageHashTable(media, hw = 8, hh = 6),
        "media_id", "ahash", bits = 48, bands = 4, maxHamming = 3)
      .orderBy("id_a", "id_b")
  }

  /** Audio-fingerprint dedup ([[graft.ops.Multimodal.audioFingerprint]]
    * over really-decoded PCM16 + [[graft.ops.Dedup
    * .hammingNearDupFromSig]]): q158's perceptual-hash dedup for the
    * AUDIO modality — each document's clip is the group-keyed waveform
    * with one sample perturbed at an id-dependent NON-strided position
    * (the fingerprint reads strided samples only, so a hash robust to
    * small edits must not see it — the odd-pixel argument of the image
    * fixture), fingerprints pair by pigeonhole Hamming banding. The
    * oracle replays the waveform arithmetic at the 48 strided
    * positions, the integer threshold, and the `bit_count(xor)` pair
    * filter — a broken PCM decode (sign extension, byte order) or a
    * stride/threshold drift breaks the match.
    */
  private val q177: Q = (s, dir) => {
    // stride is 480/48 = 10: the perturbed positions 1..4 are never read
    Dedup.hammingNearDupFromSig(
        audioFixtureSigs(t(s, dir, "documents")),
        "media_id", "afp", bits = 48, bands = 4, maxHamming = 3)
      .orderBy("id_a", "id_b")
  }

  /** q177's WIDE-signature scale path, judged: the sf1 sweep measured
    * the 48-bit/4-band audio dedup super-linear (25× on 10× data —
    * candidate volume ∝ n²/band-buckets once the corpus outgrows the
    * 4096-way 12-bit band space), and the documented lever is WIDTH AT
    * FIXED BANDS: 60 bits over the same 4 bands gives 15-bit slices —
    * 32768-way buckets, 8× fewer candidates per band — while the
    * pigeonhole guarantee (maxHamming 3 < 4 bands) is untouched. The
    * stride drops to 8 (480/60), so the same non-strided perturbation
    * positions 1–4 stay invisible; the oracle replays the 60 strided
    * positions and the 60-way threshold.
    */
  private val q185: Q = (s, dir) =>
    Dedup.hammingNearDupFromSig(
        audioFixtureSigsWide(t(s, dir, "documents")),
        "media_id", "afp", bits = 60, bands = 4, maxHamming = 3)
      .orderBy("id_a", "id_b")

  private[queries] def audioFixtureSigsWide(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sess = docs.sparkSession
    import sess.implicits._
    Multimodal.audioHashTable(
      docs.select(col("doc_id")).as[Long]
        .map { id =>
          (id, Multimodal.perturbSample(
            Multimodal.keyedTonePcm(id / 4, 480), 1 + (id % 4).toInt, 997))
        }
        .toDF("media_id", "payload"),
      bits = 60)
  }

  /** The audio crawl loop AT REST — the [[graft.ops.Dedup
    * .writeSignatureStore]] machinery is signature-agnostic (a banded
    * 48-bit long is a banded 48-bit long), so the audio fingerprints
    * get the same store the image hashes got in q170: even docs' clips
    * fingerprinted and stored (half written, half APPENDED), odd docs
    * probe as a batch with the store scan pruned to their band-bucket
    * partitions. Oracle = q177's pair SQL restricted odd×even — one
    * more modality whose at-rest layout cannot change a pair.
    */
  private val audioSigStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(audioSigStores)
  private val q182: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val path = audioSigStores.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_audiosig_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      Dedup.writeSignatureStore(
        audioFixtureSigs(docs.filter(col("doc_id") % 4 === 0)),
        "media_id", "afp", p, bits = 48, bands = 4, sigBuckets = 16)
      Dedup.appendToSignatureStore(
        audioFixtureSigs(docs.filter(col("doc_id") % 4 === 2)),
        "media_id", "afp", p)
      p
    })
    Dedup.dedupAgainstSignatureStore(
        audioFixtureSigs(docs.filter(col("doc_id") % 2 === 1)),
        "media_id", "afp", path, maxHamming = 3)
      .orderBy("new_id", "corpus_id")
  }

  /** Image dedup DECISIONS — q158's perceptual-hash pairs composed with
    * the judged graph/keeper machinery ([[Dedup.duplicateClusters]] +
    * [[Dedup.keepBest]]): connected components over the Hamming-banded
    * pair relation, one keeper per component (no quality signal on raw
    * media ⇒ the deterministic lowest-id convention — a constant score
    * with the id tiebreak), singletons keep themselves. The multimodal
    * counterpart of q111's text keep-best: a real image pipeline drops
    * the non-keepers, not just lists pairs. Oracle = q158's signature
    * CTEs + the recursive closure + the same keeper window.
    */
  private val q164: Q = (s, dir) => {
    import s.implicits._
    val media = t(s, dir, "documents")
      .select(col("doc_id")).as[Long]
      .map { id =>
        val img = Multimodal.keyedGradientRaster(id / 4, 16, 12)
        (id, Multimodal.encodePng(
          Multimodal.perturbPixel(img, 1 + 2 * (id % 4).toInt, 1, 97)))
      }
      .toDF("media_id", "payload")
    val pairs = Dedup.hammingNearDupFromSig(
        Multimodal.imageHashTable(media, hw = 8, hh = 6),
        "media_id", "ahash", bits = 48, bands = 4, maxHamming = 3)
      .select(col("id_a"), col("id_b"))
    Dedup.keepBest(media.select(col("media_id"), lit(0L).as("score")),
        "media_id", pairs, "score")
      .select(col("media_id"), col("cluster_id"), col("is_keeper"))
      .orderBy("media_id")
  }

  /** q164's keep-best decisions FROM THE STORED SIGNATURE STORE — the
    * q144 pattern (keep-best off the at-rest index) for media: the
    * pair relation comes from [[graft.ops.Dedup
    * .hammingPairsFromSignatureStore]] (the store's banded `sb=`
    * relation, built once by the crawl loop) and the id universe from
    * `sigs/`, so the decision pass reads SIGNATURES AT REST — never a
    * pixel, never a PNG decode (q164 re-decodes the full media corpus
    * per pass; at 100 TB of images a maintenance pass must read the
    * index it already paid for). Store build = write evens + APPEND
    * odds (the ingest lineage). Oracle = q164's VERBATIM: decisions
    * cannot depend on where the signatures came from.
    */
  private val keepBestSigStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(keepBestSigStores)
  private val q187: Q = (s, dir) => {
    val path = keepBestSigStores.computeIfAbsent(dir, _ => {
      val docs = t(s, dir, "documents")
      val p = s"${sys.props("java.io.tmpdir")}/graft_imgsig_kb_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      Dedup.writeSignatureStore(
        imageFixtureSigs(docs.filter(col("doc_id") % 2 === 0)),
        "media_id", "ahash", p, bits = 48, bands = 4, sigBuckets = 16)
      Dedup.appendToSignatureStore(
        imageFixtureSigs(docs.filter(col("doc_id") % 2 === 1)),
        "media_id", "ahash", p)
      p
    })
    PinnedExec.withDerivedParts(s, path) {
      val pairs = Dedup.hammingPairsFromSignatureStore(s, path, maxHamming = 3)
        .select(col("id_a"), col("id_b"))
      Dedup.keepBest(
          s.read.parquet(s"$path/sigs")
            .select(col("media_id"), lit(0L).as("score")),
          "media_id", pairs, "score")
        .select(col("media_id"), col("cluster_id"), col("is_keeper"))
        .orderBy("media_id")
    }
  }

  /** q194: the image crawl loop's MAINTENANCE PASS composed end to end
    * — the law the pieces (q170 probe, q171 delete, q187 stored
    * keep-best) individually establish, run as one lifecycle: the
    * stored corpus (evens; write + append) gets a keep-best decision
    * pass ENTIRELY from the store (q187's sweep — no pixels), the
    * losers are EVICTED ([[graft.ops.Dedup.deleteFromSignatureStore]] +
    * purge), and a new batch (odds) probes the surviving store. After
    * maintenance, new content dedups only against surviving canonical
    * media — the oracle recomputes the evens' keep-best closure and
    * restricts the cross-pair corpus side to the keepers.
    */
  private val sigMaintStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(sigMaintStores)
  private val q194: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val path = sigMaintStores.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_imgsig_maint_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      Dedup.writeSignatureStore(
        imageFixtureSigs(docs.filter(col("doc_id") % 4 === 0)),
        "media_id", "ahash", p, bits = 48, bands = 4, sigBuckets = 16)
      Dedup.appendToSignatureStore(
        imageFixtureSigs(docs.filter(col("doc_id") % 4 === 2)),
        "media_id", "ahash", p)
      // decision pass from the store (q187), losers leave it (q171)
      val losers = Dedup.keepBest(
          s.read.parquet(s"$p/sigs")
            .select(col("media_id"), lit(0L).as("score")),
          "media_id",
          Dedup.hammingPairsFromSignatureStore(s, p, maxHamming = 3)
            .select(col("id_a"), col("id_b")),
          "score")
        .filter(!col("is_keeper"))
        .select(col("media_id"))
      Dedup.deleteFromSignatureStore(losers, "media_id", p)
      Dedup.purgeSignatureStore(s, p)
      p
    })
    Dedup.dedupAgainstSignatureStore(
        imageFixtureSigs(docs.filter(col("doc_id") % 2 === 1)),
        "media_id", "ahash", path, maxHamming = 3)
      .orderBy("new_id", "corpus_id")
  }

  // ------------------------------------------------------ video dedup

  /** The deterministic VIDEO fixture: each document's media is a
    * 4-frame GVID clip (1000 ms/frame) whose frame j is the keyed
    * gradient raster of group key `(doc_id/4)·7 + 3j + 1` (collision-
    * free across (group, frame) by 7∤3·Δj), REALLY encoded through PNG
    * and the [[Multimodal.encodeVideo]] container. The 4 per-group
    * variants perturb one ODD pixel (invisible to the 8×6 aHash grid
    * over the 16×12 raster, which samples even coordinates only — the
    * q164 trick, so the oracle replays the unperturbed arithmetic),
    * making each group a 4-clique of content-identical clips.
    */
  private[queries] def videoFixtureMedia(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sess = docs.sparkSession
    import sess.implicits._
    docs.select(col("doc_id")).as[Long]
      .map { id =>
        val frames = (0 until 4).map { j =>
          val img = Multimodal.keyedGradientRaster((id / 4) * 7 + 3 * j + 1,
            16, 12)
          Multimodal.encodePng(
            Multimodal.perturbPixel(img, 1 + 2 * (id % 4).toInt, 1, 97 + j))
        }
        (id, Multimodal.encodeVideo(frames, frameMs = 1000L))
      }
      .toDF("media_id", "payload")
  }

  /** The fixture's sampled per-frame signatures packed for the
    * signature store: frames sampled every 2000 ms (slots 0 and 2 of
    * the 4-frame clip — a content decision never decodes every frame),
    * each sampled still aHashed, keys packed by
    * [[Multimodal.videoFrameKey]] — (fid, fhash).
    */
  private[queries] def videoFixtureFidSigs(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Multimodal.videoFrameHashTable(videoFixtureMedia(docs), stepMs = 2000L)
      .select(Multimodal.videoFrameKey(col("media_id"), col("frame_idx"))
        .as("fid"), col("fhash"))

  /** q199: VIDEO content near-dup — the q158 question asked of the
    * last modality without content dedup (q88 stops at frame
    * sampling): clips are demuxed ([[Multimodal.decodeVideo]] — a real
    * pure-JVM container parse), frames SAMPLED at 2 s, each sampled
    * still PNG-decoded and aHashed, the per-frame signatures ride the
    * SAME pigeonhole Hamming banding as every fingerprint here (packed
    * frame keys — [[Multimodal.videoFrameKey]]), and two clips pair
    * when ≥ 2 ALIGNED sampled slots match at Hamming ≤ 3
    * ([[Multimodal.videoPairsFromFramePairs]]). Pixels are touched
    * once, in the signature scan; the pair search runs on 48-bit
    * longs. Oracle replays frame positions + the per-frame aHash
    * arithmetic + the aligned pair SQL.
    */
  private val q199: Q = (s, dir) =>
    Multimodal.videoPairsFromFramePairs(
        Dedup.hammingNearDupFromSig(
            videoFixtureFidSigs(t(s, dir, "documents")),
            "fid", "fhash", bits = 48, bands = 4, maxHamming = 3)
          .select(col("id_a"), col("id_b")),
        "id_a", "id_b", minFrames = 2)
      .orderBy("id_a", "id_b")

  /** q200: the video crawl loop AT REST — q170's lineage for clips:
    * the even documents' packed frame signatures live in the
    * signature-agnostic store (half written, half APPENDED), the odd
    * documents arrive as a batch whose frame rows probe the store
    * ([[graft.ops.Dedup.dedupAgainstSignatureStore]] — scan pruned to
    * the batch's band-bucket partitions), and the frame-level cross
    * pairs fold to video pairs by the same aligned ≥ 2-slot rule.
    * Oracle = q199's CTEs with the sides split odd×even: the at-rest
    * layout cannot change a pair.
    */
  private val videoSigStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(videoSigStores)
  private val q200: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val path = videoSigStores.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_videosig_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      Dedup.writeSignatureStore(
        videoFixtureFidSigs(docs.filter(col("doc_id") % 4 === 0)),
        "fid", "fhash", p, bits = 48, bands = 4, sigBuckets = 16)
      Dedup.appendToSignatureStore(
        videoFixtureFidSigs(docs.filter(col("doc_id") % 4 === 2)),
        "fid", "fhash", p)
      p
    })
    Multimodal.videoPairsFromFramePairs(
        Dedup.dedupAgainstSignatureStore(
            videoFixtureFidSigs(docs.filter(col("doc_id") % 2 === 1)),
            "fid", "fhash", path, maxHamming = 3)
          .select(col("new_id"), col("corpus_id")),
        "new_id", "corpus_id", minFrames = 2)
      .orderBy("new_id", "corpus_id")
  }

  /** q201: the video store's MAINTENANCE PASS — q194's lifecycle law
    * for clips, closing the modality matrix on the decision side too:
    * the stored corpus (evens) gets a keep-best pass entirely from the
    * at-rest banded sweep ([[graft.ops.Dedup
    * .hammingPairsFromSignatureStore]] → aligned video pairs →
    * lowest-id keeper per component — not a pixel decoded), losers are
    * evicted as WHOLE CLIPS (every packed frame row of a losing video
    * leaves the store; evicting a clip frame-by-frame would leave
    * orphan slots that keep pairing), and a new batch (odds) probes
    * the surviving store. Oracle recomputes the evens' video-pair
    * closure + keeper window and restricts the cross pairs to keepers.
    */
  private val videoMaintStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(videoMaintStores)
  private val q201: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val path = videoMaintStores.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_videosig_maint_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      Dedup.writeSignatureStore(
        videoFixtureFidSigs(docs.filter(col("doc_id") % 4 === 0)),
        "fid", "fhash", p, bits = 48, bands = 4, sigBuckets = 16)
      Dedup.appendToSignatureStore(
        videoFixtureFidSigs(docs.filter(col("doc_id") % 4 === 2)),
        "fid", "fhash", p)
      val storedSigs = s.read.parquet(s"$p/sigs")
      val videoPairs = Multimodal.videoPairsFromFramePairs(
        Dedup.hammingPairsFromSignatureStore(s, p, maxHamming = 3)
          .select(col("id_a"), col("id_b")),
        "id_a", "id_b", minFrames = 2)
      val losers = Dedup.keepBest(
          storedSigs
            .select(Multimodal.videoIdOfFrameKey(col("fid")).as("media_id"))
            .distinct()
            .withColumn("score", lit(0L)),
          "media_id", videoPairs.select(col("id_a"), col("id_b")), "score")
        .filter(!col("is_keeper"))
        .select(col("media_id"))
      val loserFids = storedSigs
        .join(losers,
          Multimodal.videoIdOfFrameKey(storedSigs("fid")) === losers("media_id"),
          "left_semi")
        .select(col("fid"))
      Dedup.deleteFromSignatureStore(loserFids, "fid", p)
      Dedup.purgeSignatureStore(s, p)
      p
    })
    Multimodal.videoPairsFromFramePairs(
        Dedup.dedupAgainstSignatureStore(
            videoFixtureFidSigs(docs.filter(col("doc_id") % 2 === 1)),
            "fid", "fhash", path, maxHamming = 3)
          .select(col("new_id"), col("corpus_id")),
        "new_id", "corpus_id", minFrames = 2)
      .orderBy("new_id", "corpus_id")
  }

  // ------------------------------------- unified media crawl fixture

  /** q206's CROSS-MODAL duplicate keys: each modality derives its
    * content from a sparse anchored-duplicate map over doc_id —
    * image `id%8=1 → id−1`, audio `id%8=3 → id−2`, video
    * `id%8=5 → id−5` — chosen so the three modalities' duplicate pairs
    * straddle DIFFERENT micro-batch boundaries (id%4) and the unified
    * loop's cross-modal coupling is observable: 8g+1 is image-dropped
    * in batch 1, so its audio signature never enters the audio store,
    * and its audio duplicate 8g+3 SURVIVES batch 3 — an outcome three
    * independent per-modality loops cannot produce. The oracle replays
    * the same key arithmetic relationally; incidental cross-key
    * near-collisions agree on both sides because both derive
    * signatures from doc_id through identical formulas.
    */
  private def crawlKey(id: Long, residue: Long, back: Long): Long =
    if (id % 8 == residue) id - back else id

  /** The q206 image leg: keyed gradient raster of the image crawl key,
    * odd-pixel perturbed (invisible to the even-coordinate aHash
    * grid), really encoded + re-decoded through PNG, aHashed. */
  private[queries] def crawlImageSigs(docs: DataFrame): DataFrame = {
    val sess = docs.sparkSession
    import sess.implicits._
    Multimodal.imageHashTable(
      docs.select(col("doc_id")).as[Long]
        .map { id =>
          val img = Multimodal.keyedGradientRaster(crawlKey(id, 1, 1), 16, 12)
          (id, Multimodal.encodePng(
            Multimodal.perturbPixel(img, 1 + 2 * (id % 4).toInt, 1, 97)))
        }
        .toDF("media_id", "payload"),
      hw = 8, hh = 6)
  }

  /** The q206 audio leg: keyed tone PCM of the audio crawl key, one
    * non-strided sample perturbed, really decoded, 48-bit fingerprint. */
  private[queries] def crawlAudioSigs(docs: DataFrame): DataFrame = {
    val sess = docs.sparkSession
    import sess.implicits._
    Multimodal.audioHashTable(
      docs.select(col("doc_id")).as[Long]
        .map { id =>
          (id, Multimodal.perturbSample(
            Multimodal.keyedTonePcm(crawlKey(id, 3, 2), 480),
            1 + (id % 4).toInt, 997))
        }
        .toDF("media_id", "payload"),
      bits = 48)
  }

  /** The q206 video leg: 4-frame GVID clip whose frame j is the keyed
    * raster of `key·7 + 3j + 1` (collision-free across (key, frame)),
    * sampled every 2000 ms and per-frame aHashed into packed frame
    * keys — (fid, fhash), the q200 store shape. */
  private[queries] def crawlVideoFidSigs(docs: DataFrame): DataFrame = {
    val sess = docs.sparkSession
    import sess.implicits._
    Multimodal.videoFrameHashTable(
      docs.select(col("doc_id")).as[Long]
        .map { id =>
          val k = crawlKey(id, 5, 5)
          val frames = (0 until 4).map { j =>
            val img = Multimodal.keyedGradientRaster(k * 7 + 3 * j + 1, 16, 12)
            Multimodal.encodePng(
              Multimodal.perturbPixel(img, 1 + 2 * (id % 4).toInt, 1, 97 + j))
          }
          (id, Multimodal.encodeVideo(frames, frameMs = 1000L))
        }
        .toDF("media_id", "payload"),
      stepMs = 2000L)
      .select(Multimodal.videoFrameKey(col("media_id"), col("frame_idx"))
        .as("fid"), col("fhash"))
  }

  /** q188: q187's stored keep-best for AUDIO — the modality matrix
    * closed on the decision side: the full corpus's 48-bit audio
    * fingerprints live in a q182-shaped store (write evens + APPEND
    * odds), the pair relation is the at-rest banded sweep, and one
    * keeper per Hamming component is chosen without a single PCM
    * decode in the decision pass. Oracle = q177's fingerprint CTEs +
    * the q164 closure tail.
    */
  private val audioKeepBestStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(audioKeepBestStores)
  private val q188: Q = (s, dir) => {
    val path = audioKeepBestStores.computeIfAbsent(dir, _ => {
      val docs = t(s, dir, "documents")
      val p = s"${sys.props("java.io.tmpdir")}/graft_audiosig_kb_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      Dedup.writeSignatureStore(
        audioFixtureSigs(docs.filter(col("doc_id") % 2 === 0)),
        "media_id", "afp", p, bits = 48, bands = 4, sigBuckets = 16)
      Dedup.appendToSignatureStore(
        audioFixtureSigs(docs.filter(col("doc_id") % 2 === 1)),
        "media_id", "afp", p)
      p
    })
    PinnedExec.withDerivedParts(s, path) {
      val pairs = Dedup.hammingPairsFromSignatureStore(s, path, maxHamming = 3)
        .select(col("id_a"), col("id_b"))
      Dedup.keepBest(
          s.read.parquet(s"$path/sigs")
            .select(col("media_id"), lit(0L).as("score")),
          "media_id", pairs, "score")
        .select(col("media_id"), col("cluster_id"), col("is_keeper"))
        .orderBy("media_id")
    }
  }

  /** The image-signature index AT REST ([[graft.ops.Dedup
    * .writeSignatureStore]] family) — the cross-batch half of image
    * dedup q158 leaves in-session (text already has the full at-rest
    * loop via q140/q109/q117; this closes it for images): the even
    * documents' aHash signatures live as the banded, `sb`-partitioned
    * store (half written, half APPENDED — the ingest replay), and the
    * odd documents arrive as a NEW batch whose probe
    * ([[graft.ops.Dedup.dedupAgainstSignatureStore]]) prunes the store
    * scan to the batch's band-bucket partition values and pairs by
    * exact Hamming ≤ 3 — pair space ∝ batch band collisions, never
    * |batch|×|store|. Oracle: q158's signature CTEs with the two sides
    * split (odd vs even) — where the corpus signatures live, and
    * whether they were written or appended, cannot change a pair.
    */
  /** The deterministic image fixture's signature table, shared by
    * q170/q171 and the streaming q175: each document's media is the
    * keyed gradient raster with one odd-pixel perturbation, REALLY
    * encoded and re-decoded through PNG, then aHashed
    * ([[Multimodal.imageHashTable]]) — (media_id, ahash).
    */
  private[queries] def imageFixtureSigs(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sess = docs.sparkSession
    import sess.implicits._
    Multimodal.imageHashTable(
      docs.select(col("doc_id")).as[Long]
        .map { id =>
          val img = Multimodal.keyedGradientRaster(id / 4, 16, 12)
          (id, Multimodal.encodePng(
            Multimodal.perturbPixel(img, 1 + 2 * (id % 4).toInt, 1, 97)))
        }
        .toDF("media_id", "payload"),
      hw = 8, hh = 6)
  }

  /** The audio fixture's fingerprint table, shared by q177 and the
    * at-rest q182: group-keyed waveform, one id-dependent NON-strided
    * sample perturbed, really decoded, 48-bit strided threshold
    * fingerprint ([[Multimodal.audioHashTable]]) — (media_id, afp).
    */
  private[queries] def audioFixtureSigs(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sess = docs.sparkSession
    import sess.implicits._
    Multimodal.audioHashTable(
      docs.select(col("doc_id")).as[Long]
        .map { id =>
          (id, Multimodal.perturbSample(
            Multimodal.keyedTonePcm(id / 4, 480), 1 + (id % 4).toInt, 997))
        }
        .toDF("media_id", "payload"),
      bits = 48)
  }

  private val imageSigStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(imageSigStores)
  private val q170: Q = (s, dir) => {
    def sigsOf(docs: org.apache.spark.sql.DataFrame) = imageFixtureSigs(docs)
    val docs = t(s, dir, "documents")
    val path = imageSigStores.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_imgsig_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      Dedup.writeSignatureStore(
        sigsOf(docs.filter(col("doc_id") % 4 === 0)), "media_id", "ahash",
        p, bits = 48, bands = 4, sigBuckets = 16)
      Dedup.appendToSignatureStore(
        sigsOf(docs.filter(col("doc_id") % 4 === 2)), "media_id", "ahash", p)
      p
    })
    Dedup.dedupAgainstSignatureStore(
        sigsOf(docs.filter(col("doc_id") % 2 === 1)), "media_id", "ahash",
        path, maxHamming = 3)
      .orderBy("new_id", "corpus_id")
  }

  /** DELETE from the signature store ([[graft.ops.Dedup
    * .deleteFromSignatureStore]] / [[graft.ops.Dedup
    * .purgeSignatureStore]]) — the eviction that closes the image
    * crawl loop (q164 picks keep-best losers; this is how they LEAVE
    * the store). Both regimes, the q166–q168 shape: even docs ≡ 0
    * (mod 8) deleted then PURGED (sigs/ rewritten, only affected
    * `sb=` partitions of bands/ rewritten, tombstones cleared); evens
    * ≡ 6 (mod 8) deleted after the purge and probed under the MASK.
    * Judged output: the odd docs probed as a batch against the
    * surviving store — the oracle is q170's cross-pair SQL with the
    * corpus side restricted to surviving evens (deleted ≡ never
    * stored, in every pair).
    */
  private val imageSigDeleteStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(imageSigDeleteStores)
  private val q171: Q = (s, dir) => {
    def sigsOf(docs: org.apache.spark.sql.DataFrame) = imageFixtureSigs(docs)
    val docs = t(s, dir, "documents")
    val path = imageSigDeleteStores.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_imgsig_del_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      Dedup.writeSignatureStore(
        sigsOf(docs.filter(col("doc_id") % 2 === 0)), "media_id", "ahash",
        p, bits = 48, bands = 4, sigBuckets = 16)
      Dedup.deleteFromSignatureStore(
        docs.filter(col("doc_id") % 8 === 0).select(col("doc_id")), "doc_id", p)
      Dedup.purgeSignatureStore(s, p)
      Dedup.deleteFromSignatureStore(
        docs.filter(col("doc_id") % 8 === 6).select(col("doc_id")), "doc_id", p)
      p
    })
    Dedup.dedupAgainstSignatureStore(
        sigsOf(docs.filter(col("doc_id") % 2 === 1)), "media_id", "ahash",
        path, maxHamming = 3)
      .orderBy("new_id", "corpus_id")
  }

  /** Signature-store OPTIMIZE ([[graft.ops.AnnIndex.compactBuckets]]
    * over the store's `sb=` partitions — the machinery is partition-
    * column-generic): q155's question asked of the image-signature
    * store. Four quarter-batches of evens fragment every band-bucket
    * directory (one file per append per bucket — the streaming small-
    * file problem); a mid-loop compaction and a final one fold each to
    * ONE file. Layout-only by construction: the odd-batch probe is
    * judged against q170's cross-pair oracle VERBATIM — fragmentation
    * and its repair cannot change a pair.
    */
  private val optimizedSigStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(optimizedSigStores)
  private val q183: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val path = optimizedSigStores.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_imgsig_opt_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      Dedup.writeSignatureStore(
        imageFixtureSigs(docs.filter(col("doc_id") % 8 === 0)),
        "media_id", "ahash", p, bits = 48, bands = 4, sigBuckets = 16)
      Dedup.appendToSignatureStore(
        imageFixtureSigs(docs.filter(col("doc_id") % 8 === 2)),
        "media_id", "ahash", p)
      graft.ops.AnnIndex.compactBuckets(s, s"$p/bands",
        maxFilesPerBucket = 1, partCol = "sb")
      Dedup.appendToSignatureStore(
        imageFixtureSigs(docs.filter(col("doc_id") % 8 === 4)),
        "media_id", "ahash", p)
      Dedup.appendToSignatureStore(
        imageFixtureSigs(docs.filter(col("doc_id") % 8 === 6)),
        "media_id", "ahash", p)
      graft.ops.AnnIndex.compactBuckets(s, s"$p/bands",
        maxFilesPerBucket = 1, partCol = "sb")
      p
    })
    Dedup.dedupAgainstSignatureStore(
        imageFixtureSigs(docs.filter(col("doc_id") % 2 === 1)),
        "media_id", "ahash", path, maxHamming = 3)
      .orderBy("new_id", "corpus_id")
  }

  /** Real audio decode end to end: each document becomes an s16le PCM
    * clip (deterministic full-range sawtooth keyed by (doc_id, n_chars),
    * length 200 + doc_id % 57 samples — [[Multimodal.sawtoothPcm]]),
    * which [[Multimodal.audioStatsTable]] actually PARSES (little-endian
    * 16-bit reassembly) to recover exact sample statistics. The oracle
    * recomputes the sawtooth arithmetic in SQL — a broken encoder OR
    * decoder (e.g. sign-extension or byte-order bugs) breaks the match.
    */
  private val q87: Q = (s, dir) => {
    import s.implicits._
    val media = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .map { case (id, n) =>
        (id, Multimodal.sawtoothPcm(id, n, (200 + id % 57).toInt))
      }
      .toDF("media_id", "payload")
    Multimodal.audioStatsTable(media).orderBy("media_id")
  }

  /** Video frame sampling ([[Multimodal.framePositions]] +
    * [[Multimodal.extractFrameStub]]): each document's bytes act as a
    * timed medium (duration = 10 ms/byte), sampled every 1000 ms — the
    * video analog of the reference pipeline's hour-slot sampling
    * (A3). The judged columns are each frame's position and the md5 of
    * its extracted bytes; the oracle replays the proportional byte-seek
    * with the same double arithmetic and slices the text instead (the
    * corpus is ASCII, so char positions == byte positions and DuckDB's
    * VARCHAR md5 hashes the same bytes Spark's binary md5 sees).
    */
  private val q88: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val payload = text.getBytes("US-ASCII")
        val durationMs = payload.length * 10L
        Multimodal.framePositions(durationMs, stepMs = 1000L).map { pos =>
          (id, pos, Multimodal.extractFrameStub(payload, pos, durationMs))
        }
      }
      .toDF("media_id", "pos_ms", "frame")
      .select(col("media_id"), col("pos_ms"),
        octet_length(col("frame")).cast("long").as("frame_len"),
        md5(col("frame")).as("frame_md5"))
      .orderBy("media_id", "pos_ms")
  }

  /** Semantic dedup composition: embedding near-dup pairs (q28's LSH
    * blocking, same 8-plane width) joined back to document metadata —
    * the cross-modal step a real pipeline runs before dropping semantic
    * duplicates. The round-7 sf1 sweep caught this query still on the
    * 4-plane graph (17.2 s — the one super-linear entry); the pair
    * relation, not the metadata join, was the cost.
    */
  private val q44: Q = (s, dir) => {
    val pairs = Similarity.nearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.35, numPlanes = 8, dim = embDim)
    val meta = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    pairs
      .join(meta.toDF("id_a", "lang_a"), "id_a")
      .join(meta.toDF("id_b", "lang_b"), "id_b")
      .select(col("id_a"), col("id_b"), col("sim"), col("lang_a"), col("lang_b"))
      .orderBy("id_a", "id_b")
  }

  /** Benchmark decontamination ([[Decontamination.overlapReport]]):
    * a held-out "benchmark" slice (doc_id ≡ 7 mod 20 — an eval set by
    * construction) checked for 5-gram shingle overlap against the rest
    * of the corpus. Any corpus doc sharing ≥ 3 distinct 5-grams with a
    * benchmark doc is flagged — the pretraining leak check.
    */
  private val q78: Q = (s, dir) =>
    PinnedExec.withDerivedParts(s, s"$dir/documents.parquet") {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 20 === 7)
      val corpus = docs.filter(col("doc_id") % 20 =!= 7)
      Decontamination.overlapReport(corpus, bench, "doc_id", "text",
          k = 5, minOverlap = 3)
        .orderBy("corpus_id", "bench_id")
    }

  /** Decontamination against the benchmark AT REST
    * ([[Decontamination.writeBenchIndex]] / [[Decontamination
    * .overlapFromIndex]]) — the production shape of q78: the eval set
    * is FROZEN the day it ships, so its shingle relation is computed
    * once and persisted (`bench_sh/` + the (k, df-cap) `_layout`), and
    * every incoming training batch probes the store — the eval TEXT
    * never travels to (or is re-read by) the training pipeline, only
    * its shingles do. Probes are stateless, so per-batch results union
    * to the full-corpus answer trivially; judged against q78's oracle
    * VERBATIM (where the benchmark shingles live cannot change an
    * overlap count).
    */
  private val benchIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(benchIndexes)
  private val q179: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val path = benchIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_bench_ix_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      Decontamination.writeBenchIndex(
        docs.filter(col("doc_id") % 20 === 7), "doc_id", "text", p, k = 5)
      p
    })
    Decontamination.overlapFromIndex(
        docs.filter(col("doc_id") % 20 =!= 7), "doc_id", "text",
        path, minOverlap = 3)
      .orderBy("corpus_id", "bench_id")
  }

  /** q192: benchmark VERSION rotation at rest ([[Decontamination
    * .writeBenchVersion]] / [[Decontamination.retireBenchVersion]] /
    * [[Decontamination.purgeBenchIndex]]) — real pipelines rotate eval
    * releases, so the frozen bench index gets the delete/replace
    * lifecycle every other store has (q166's mask law): v1 (the q179
    * eval slice) stays live; v2 is retired then PURGED (its `ver=`
    * partition physically dropped); v3 is retired after the purge and
    * probed under the MASK. Judged output = the q179 probe against the
    * surviving store; oracle = q78's overlap SQL VERBATIM — a retired
    * version ≡ one never indexed, in every overlap count.
    */
  private val benchVerIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(benchVerIndexes)
  private val q192: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val path = benchVerIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_bench_ver_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      Decontamination.writeBenchVersion(
        docs.filter(col("doc_id") % 20 === 7), "doc_id", "text", p, "v1",
        k = 5)
      Decontamination.writeBenchVersion(
        docs.filter(col("doc_id") % 20 === 13), "doc_id", "text", p, "v2")
      Decontamination.retireBenchVersion(s, p, "v2")
      Decontamination.purgeBenchIndex(s, p)
      Decontamination.writeBenchVersion(
        docs.filter(col("doc_id") % 20 === 3), "doc_id", "text", p, "v3")
      Decontamination.retireBenchVersion(s, p, "v3")
      p
    })
    Decontamination.overlapFromIndex(
        docs.filter(col("doc_id") % 20 =!= 7), "doc_id", "text",
        path, minOverlap = 3)
      .orderBy("corpus_id", "bench_id")
  }

  /** Gopher-style repetition quality signals
    * ([[TextAnalysis.repetitionSignals]]): duplicate-token fraction,
    * duplicate-bigram fraction, top-bigram fraction per document —
    * the degenerate-text filter of a pretraining pipeline.
    */
  private val q79: Q = (s, dir) =>
    TextAnalysis.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"),
        round(col("dup_token_frac"), 6).as("dup_token_frac"),
        round(col("dup_bigram_frac"), 6).as("dup_bigram_frac"),
        round(col("top_bigram_frac"), 6).as("top_bigram_frac"))
      .orderBy("doc_id")

  /** PII scrubbing ([[TextAnalysis.scrubPii]]): the documents table is
    * augmented with synthetic PII derived from each doc_id (an email,
    * a URL, a phone number — the test corpus itself contains none),
    * then redacted. Output = per-doc PII counts (found pre-scrub) and
    * the scrubbed text; the oracle mirrors both the synthesis and the
    * redaction with RE2-compatible patterns, so a drifting pattern or
    * replacement order breaks the hash.
    */
  private val q81: Q = (s, dir) => {
    val withPii = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@mail.example via https://ex.test/d/"), col("doc_id"),
        lit(" or +155500"), col("doc_id")).as("text"))
    withPii.select(
        col("doc_id"),
        regexp_count(col("text"), lit(TextAnalysis.emailPattern)).cast("long").as("n_email"),
        regexp_count(col("text"), lit(TextAnalysis.urlPattern)).cast("long").as("n_url"),
        regexp_count(col("text"), lit(TextAnalysis.phonePattern)).cast("long").as("n_phone"),
        TextAnalysis.scrubPii(col("text")).as("scrubbed"))
      .orderBy("doc_id")
  }

  /** K-means semantic clustering ([[Similarity.kmeans]]): one Lloyd
    * iteration (seed = 8 lowest-id vectors → assign → exact decimal
    * centroid means → re-assign) over the embeddings table. The oracle
    * unrolls the same iteration in SQL — seed choice, rounding points,
    * and tie-breaks all mirrored — so the two engines must agree on
    * every vector's final cluster and cosine.
    */
  private val q82: Q = (s, dir) =>
    Similarity.kmeans(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 1)
      .orderBy("vec_id")

  /** Sequence packing ([[SequencePacking.packSequences]]): token-offset
    * layout of the corpus into 512-token training windows via a
    * distributed prefix sum (range partition + per-partition scan +
    * broadcast partition prefixes — never a keyless window over data).
    * Pure integer arithmetic; the oracle is the naive global window.
    */
  private val q83: Q = (s, dir) =>
    SequencePacking.packSequences(t(s, dir, "documents"), "doc_id", "text", 512)
      .orderBy("doc_id")

  /** The end-to-end curation gate — the composition a pretraining
    * pipeline actually ships: keep a document iff it is (a) not in the
    * held-out benchmark slice, (b) the keeper of its exact-dup group,
    * (c) not contaminated (q78's overlap check), (d) predicted English,
    * (e) above the quality floor, (f) below the repetition ceiling.
    * Each predicate is an operator judged on its own elsewhere; this
    * query judges their composition.
    */
  private val q84: Q = (s, dir) => curationGate(t(s, dir, "documents"))

  /** The q84 gate as a reusable stage (also the head of q114's
    * end-to-end pipeline): (doc_id, quality, dup_token_frac) for every
    * document that survives the language/quality/repetition/exact-dup/
    * decontamination gate, ordered by doc_id, checkpointed with pins
    * released.
    */
  private[queries] def curationGate(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sig = graft.ops.CurationSignals.build(docs, "doc_id", "text")
    sig.release(curationGateFromSignals(sig))
  }

  /** The gate over an ALREADY-BUILT [[graft.ops.CurationSignals]] —
    * the composition hook q114 uses to share ONE corpus tokenize
    * between the gate's signals and its downstream Jaccard dedup.
    * SHARED-RELATION composition (the 100 TB shape): the persisted
    * base relation carries the exact-dup hash and the token array; the
    * positional token relation derived from it feeds quality,
    * language-ID, repetition, AND the 5-gram contamination shingles.
    * The naive composition (each operator called on `docs`) re-reads
    * the corpus once per signal — 3+ redundant full scans at 100 TB.
    * Signal semantics are unchanged: the per-doc aggregates below
    * compute exactly [[TextAnalysis.qualityScore]]/[[TextAnalysis
    * .langId]]/[[TextAnalysis.repetitionSignals]].dup_token_frac, and
    * the shingle block is [[Dedup.shingleTable]](k=5) feeding
    * [[Decontamination.overlapReport]]'s join (df cap 0), so the
    * oracle is untouched. Returns the LAZY gate plan; the caller owns
    * the base pin's release.
    */
  /** @param contaminatedIds when Some, the gate's contamination leg is
    *   supplied externally (a `doc_id` relation — q196 sources it from
    *   the STORED bench index via [[graft.ops.Decontamination
    *   .overlapFromIndexShingles]]); None keeps the inline q84/q114
    *   computation over `sig`'s own 5-gram shingles.
    */
  /** The per-doc gate SIGNALS over an already-built
    * [[graft.ops.CurationSignals]] — (doc_id, quality, lang_pred,
    * dup_token_frac), every per-doc token aggregate in ONE grouped
    * pass (map-side combined). Factored out of
    * [[curationGateFromSignals]] so the STREAMING crawl→curate loop
    * (q203) computes the identical signals per micro-batch — the
    * signals are per-doc, so batch boundaries cannot change them.
    */
  private[queries] def gateSignals(
      sig: graft.ops.CurationSignals): org.apache.spark.sql.DataFrame = {
    val tok = sig.tokens
    def cntIn(words: Seq[String]) =
      count(when(col("tok").isin(words.map(x => x: Any): _*), 1))
    val markers = TextAnalysis.langMarkers
    val perDoc = tok.groupBy("doc_id").agg(
      count(lit(1)).as("n_tok"),
      (count_distinct(col("tok")).as("n_tok_d") +:
        cntIn(TextAnalysis.defaultStopwords).as("n_stop") +:
        markers.map { case (l, ws) => cntIn(ws).as(s"c_$l") }): _*)
    val maxC = greatest(markers.map { case (l, _) => col(s"c_$l") }: _*)
    val langPred = markers.foldRight(lit("und")) { case ((l, _), acc) =>
      when(maxC > 0 && col(s"c_$l") === maxC, lit(l)).otherwise(acc)
    }
    perDoc.select(col("doc_id"),
      ((col("n_stop").cast("double") / col("n_tok").cast("double")) * lit(0.5) +
        least(col("n_tok").cast("double") / lit(100.0), lit(1.0)) * lit(0.5))
        .as("quality"),
      langPred.as("lang_pred"),
      ((col("n_tok") - col("n_tok_d")).cast("double") /
        col("n_tok").cast("double")).as("dup_token_frac"))
  }

  private[queries] def curationGateFromSignals(
      sig: graft.ops.CurationSignals,
      contaminatedIds: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val base = sig.base
    val signals = gateSignals(sig)
    // 5-gram contamination shingles from the SAME token relation
    // (unless the caller supplies the relation — q196's stored probe)
    val contaminated = contaminatedIds.getOrElse {
      val sh5 = sig.shingles(5)
      val benchSh = sh5.filter(col("doc_id") % 20 === 7)
        .select(col("doc_id").as("bench_id"), col("sh"))
      sh5.filter(col("doc_id") % 20 =!= 7)
        .join(benchSh, "sh")
        .groupBy("doc_id", "bench_id")
        .agg(count(lit(1)).as("n_overlap"))
        .filter(col("n_overlap") >= 3)
        .select(col("doc_id")).distinct()
    }
    // exact-dup keepers ride the cached base relation's hash column
    val keepers = base.groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    base.filter(col("doc_id") % 20 =!= 7).select(col("doc_id"))
      .join(signals, "doc_id")
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .filter(col("lang_pred") === "en" &&
        col("quality") >= 0.3 && col("dup_token_frac") <= 0.6)
      .select(col("doc_id"), round(col("quality"), 6).as("quality"),
        round(col("dup_token_frac"), 6).as("dup_token_frac"))
      .orderBy("doc_id")
  }

  val all: Map[String, Q] = Map(
    "q20_dedup_exact" -> q20,
    "q21_minhash_neardup" -> q21,
    "q176_minhash_recall" -> q176,
    "q193_hamming_recall" -> q193,
    "q22_simhash" -> q22,
    "q23_text_quality" -> q23,
    "q24_lang_id" -> q24,
    "q25_fingerprint" -> q25,
    "q26_knn_brute" -> q26,
    "q27_ann_lsh" -> q27,
    "q28_embedding_neardup" -> q28,
    "q180_embed_cross_dedup" -> q180,
    "q197_embed_keep_best_stored" -> q197,
    "q198_ann_index_maintenance" -> q198,
    "q29_multimodal_meta" -> q29,
    "q37_ivf_ann" -> q37,
    "q44_semantic_dedup" -> q44,
    "q116_ann_index_probe" -> q116,
    "q119_quantized_ann" -> q119,
    "q120_compacted_probe" -> q120,
    "q121_two_tier_rerank" -> q121,
    "q146_pq_codes" -> q146,
    "q147_pq_adc_topk" -> q147,
    "q148_pq_two_tier" -> q148,
    "q149_ivfpq_probe" -> q149,
    "q150_ivfpq_two_tier" -> q150,
    "q151_ivfpq_ingest" -> q151,
    "q157_ivfpq_residual" -> q157,
    "q160_ivfpq_res_two_tier" -> q160,
    "q122_quant_index_probe" -> q122,
    "q123_multiprobe_index" -> q123,
    "q124_two_tier_index" -> q124,
    "q125_ivf_index_probe" -> q125,
    "q141_ivf_kmeans_probe" -> q141,
    "q126_quant_multiprobe" -> q126,
    "q128_ivf_ingest" -> q128,
    "q129_two_tier_multiprobe" -> q129,
    "q130_quant_ingest" -> q130,
    "q132_token_budget" -> q132,
    "q133_dup_span_frac" -> q133,
    "q172_span_excise" -> q172,
    "q134_ivf_quant_probe" -> q134,
    "q136_ivf_rebuild" -> q136,
    "q202_ivf_drift_rebuild" -> q202,
    "q207_pq_drift_rebuild" -> q207,
    "q208_lsh_drift_rebuild" -> q208,
    "q168_ivf_delete" -> q168,
    "q137_ivf_quant_ingest" -> q137,
    "q139_ivf_two_tier" -> q139,
    "q76_image_decode" -> q76,
    "q142_png_decode" -> q142,
    "q158_image_phash_dedup" -> q158,
    "q177_audio_fp_dedup" -> q177,
    "q182_audio_sig_store" -> q182,
    "q185_audio_fp_wide" -> q185,
    "q164_image_keep_best" -> q164,
    "q187_keep_best_stored_sig" -> q187,
    "q188_audio_keep_best" -> q188,
    "q194_sig_store_maintenance" -> q194,
    "q199_video_frame_dedup" -> q199,
    "q200_video_sig_store" -> q200,
    "q201_video_store_maintenance" -> q201,
    "q170_image_sig_store" -> q170,
    "q171_image_sig_delete" -> q171,
    "q183_sig_store_optimize" -> q183,
    "q78_decontamination" -> q78,
    "q179_decontam_stored" -> q179,
    "q192_bench_version_retire" -> q192,
    "q79_repetition" -> q79,
    "q81_pii_scrub" -> q81,
    "q82_kmeans" -> q82,
    "q83_seq_packing" -> q83,
    "q84_curation_gate" -> q84,
    "q86_image_resize" -> q86,
    "q87_audio_decode" -> q87,
    "q88_frame_sample" -> q88,
  )

  // ----------------------------------------------------------------- oracle

  /** DuckDB expression: integer value of the first `n` hex chars of
    * md5(`e`) — the portable hash prefix used by simhash and the LSH
    * planes.
    */
  private def duckHexN(e: String, n: Int): String =
    (1 to n).map(i =>
      s"(strpos('0123456789abcdef', substr(md5($e),$i,1))-1)::BIGINT*${1L << (4 * (n - i))}")
      .mkString("(", " + ", ")")

  private def duckHex4(e: String): String = duckHexN(e, 4)

  /** DuckDB literal for one hyperplane (exact dyadic decimals). */
  private def planeLit(p: Array[Double]): String =
    p.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")

  /** DuckDB bucket expression over column `v` for the given planes. */
  private[queries] def duckBucket(planes: Array[Array[Double]]): String =
    planes.map(p =>
      s"(CASE WHEN list_dot_product(v, ${planeLit(p)}) >= 0 THEN '1' ELSE '0' END)")
      .mkString(" || ")

  /** q164's keep-best SQL — q158's signature CTEs + the recursive
    * closure + the lowest-id keeper window. Shared VERBATIM by q164
    * (in-session signatures) and q187 (pairs from the at-rest
    * signature store): a keep decision is a property of the pair
    * relation, not of where the signatures lived.
    */
  private[queries] val imageKeepBestSql =
    """WITH RECURSIVE px AS (
      |  SELECT d.doc_id, x.x AS x, y.y AS y,
      |         ((((d.doc_id // 4) * 37 + 11) % 251 + 16) * (2*x.x + 1) + 3*(2*y.y)) % 256 AS r,
      |         ((((d.doc_id // 4) * 59 + 23) % 241 + 16) * (2*y.y + 1) + 5*(2*x.x)) % 256 AS g,
      |         ((((d.doc_id // 4) * 83 + 41) % 239 + 16) * (2*x.x + 2*y.y + 1) + 7) % 256 AS b
      |  FROM documents d,
      |       UNNEST(generate_series(0, 7)) AS x(x),
      |       UNNEST(generate_series(0, 5)) AS y(y)),
      |g1 AS (SELECT doc_id, x, y, (r + g + b) // 3 AS gray FROM px),
      |s1 AS (SELECT doc_id, sum(gray) AS sg FROM g1 GROUP BY 1),
      |sig AS (SELECT g1.doc_id,
      |               CAST(sum(CASE WHEN 48*g1.gray > s1.sg
      |                             THEN (1::BIGINT << (g1.y*8 + g1.x))
      |                             ELSE 0 END) AS BIGINT) AS h
      |        FROM g1 JOIN s1 USING (doc_id) GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.h, b.h)) <= 3),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |          UNION SELECT id_b, id_a FROM pairs),
      |r(id, reach) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.reach FROM edges e JOIN r ON e.dst = r.id),
      |cl AS (SELECT id, min(reach) AS rep FROM r GROUP BY id),
      |lab AS (SELECT d.doc_id AS media_id, coalesce(cl.rep, d.doc_id) AS cluster_id
      |        FROM documents d LEFT JOIN cl ON cl.id = d.doc_id)
      |SELECT media_id, cluster_id,
      |       (row_number() OVER (PARTITION BY cluster_id
      |                           ORDER BY media_id ASC) = 1) AS is_keeper
      |FROM lab ORDER BY media_id""".stripMargin

  /** q170's odd-batch-vs-even-store cross-pair SQL: the full aHash
    * arithmetic (keyed gradient raster → gray → threshold bits) and the
    * Hamming ≤ 3 pair filter. Shared VERBATIM by q170 (write+append
    * store) and q175 (stream-built store): neither the ingest path nor
    * the micro-batch boundaries can change a pair.
    */
  private[queries] val imageSigCrossSql =
    """WITH px AS (
      |  SELECT d.doc_id, x.x AS x, y.y AS y,
      |         ((((d.doc_id // 4) * 37 + 11) % 251 + 16) * (2*x.x + 1) + 3*(2*y.y)) % 256 AS r,
      |         ((((d.doc_id // 4) * 59 + 23) % 241 + 16) * (2*y.y + 1) + 5*(2*x.x)) % 256 AS g,
      |         ((((d.doc_id // 4) * 83 + 41) % 239 + 16) * (2*x.x + 2*y.y + 1) + 7) % 256 AS b
      |  FROM documents d,
      |       UNNEST(generate_series(0, 7)) AS x(x),
      |       UNNEST(generate_series(0, 5)) AS y(y)),
      |g1 AS (SELECT doc_id, x, y, (r + g + b) // 3 AS gray FROM px),
      |s1 AS (SELECT doc_id, sum(gray) AS sg FROM g1 GROUP BY 1),
      |sig AS (SELECT g1.doc_id,
      |               CAST(sum(CASE WHEN 48*g1.gray > s1.sg
      |                             THEN (1::BIGINT << (g1.y*8 + g1.x))
      |                             ELSE 0 END) AS BIGINT) AS h
      |        FROM g1 JOIN s1 USING (doc_id) GROUP BY 1)
      |SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
      |       CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
      |WHERE bit_count(xor(a.h, b.h)) <= 3
      |ORDER BY new_id, corpus_id""".stripMargin

  /** The video fixture's per-sampled-frame aHash CTE chain ending in
    * `sig(doc_id, f, h)`: frame slots 0 and 2 (the 2000 ms sampling of
    * the 4×1000 ms clip), the keyed-raster arithmetic at group key
    * `(doc_id/4)·7 + 3f + 1`, the even-coordinate grid subsample (the
    * q164 trick — odd-pixel perturbations are invisible), the integer
    * threshold, the bit fold. Shared by q199 (in-session pairs), q200
    * (signature store) and q201 (maintenance).
    */
  private[queries] val videoSigCte =
    """fx AS (SELECT d.doc_id, f.f AS f,
      |              ((d.doc_id // 4) * 7 + 3 * f.f + 1) AS kk
      |       FROM documents d, UNNEST([0, 2]) AS f(f)),
      |px AS (SELECT fx.doc_id, fx.f, x.x AS x, y.y AS y,
      |              (((kk * 37 + 11) % 251 + 16) * (2*x.x + 1) + 3*(2*y.y)) % 256 AS r,
      |              (((kk * 59 + 23) % 241 + 16) * (2*y.y + 1) + 5*(2*x.x)) % 256 AS g,
      |              (((kk * 83 + 41) % 239 + 16) * (2*x.x + 2*y.y + 1) + 7) % 256 AS b
      |       FROM fx,
      |            UNNEST(generate_series(0, 7)) AS x(x),
      |            UNNEST(generate_series(0, 5)) AS y(y)),
      |g1 AS (SELECT doc_id, f, x, y, (r + g + b) // 3 AS gray FROM px),
      |s1 AS (SELECT doc_id, f, sum(gray) AS sg FROM g1 GROUP BY 1, 2),
      |sig AS (SELECT g1.doc_id, g1.f,
      |               CAST(sum(CASE WHEN 48*g1.gray > s1.sg
      |                             THEN (1::BIGINT << (g1.y*8 + g1.x))
      |                             ELSE 0 END) AS BIGINT) AS h
      |        FROM g1 JOIN s1 USING (doc_id, f) GROUP BY 1, 2)""".stripMargin

  /** q200's odd-batch-vs-even-store video cross-pair SQL (the frame
    * CTEs, sides split, aligned ≥ 2-slot fold). Shared VERBATIM by
    * q200 (write+append store) and the streaming q205 (stream-built
    * store): neither the ingest path nor micro-batch boundaries can
    * change a frame match, so they cannot change a video pair.
    */
  private[queries] lazy val videoSigCrossSql: String =
    s"""WITH $videoSigCte,
       |fp AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id
       |       FROM sig a JOIN sig b
       |         ON a.f = b.f AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
       |       WHERE bit_count(xor(a.h, b.h)) <= 3)
       |SELECT new_id, corpus_id, CAST(count(*) AS BIGINT) AS n_frames
       |FROM fp GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY new_id, corpus_id""".stripMargin

  private[queries] val tokensCte =
    "w AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w FROM documents)"

  /** q177's audio-fingerprint CTE chain ending in `sig(doc_id, h)`:
    * the waveform arithmetic at the 48 strided positions (stride 10
    * over the 480-sample clip), the integer threshold, the bit fold.
    * Shared by q177 (in-session pairs) and q182 (signature store).
    */
  private[queries] val audioSigCte =
    """v AS (
      |  SELECT d.doc_id, f.f AS f,
      |         ((((d.doc_id // 4) * 43 + 13) % 509 + 16) * (10 * f.f + 1)
      |            + ((d.doc_id // 4) * 29 + 7) % 101) % 4096 - 2048 AS v
      |  FROM documents d, UNNEST(generate_series(0, 47)) AS f(f)),
      |s1 AS (SELECT doc_id, sum(v) AS sv FROM v GROUP BY 1),
      |sig AS (SELECT v.doc_id,
      |               CAST(sum(CASE WHEN 48 * v.v > s1.sv
      |                             THEN (1::BIGINT << v.f)
      |                             ELSE 0 END) AS BIGINT) AS h
      |        FROM v JOIN s1 USING (doc_id) GROUP BY 1)""".stripMargin

  /** The keep-best closure tail over any `sig(doc_id, h)` CTE chain —
    * imageKeepBestSql's pairs → recursive closure → lowest-id keeper
    * window, shared by the audio keep-best oracle (q188): the decision
    * algebra is modality-blind.
    */
  private val keepBestClosureTail =
    """pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.h, b.h)) <= 3),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |          UNION SELECT id_b, id_a FROM pairs),
      |r(id, reach) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.reach FROM edges e JOIN r ON e.dst = r.id),
      |cl AS (SELECT id, min(reach) AS rep FROM r GROUP BY id),
      |lab AS (SELECT d.doc_id AS media_id, coalesce(cl.rep, d.doc_id) AS cluster_id
      |        FROM documents d LEFT JOIN cl ON cl.id = d.doc_id)
      |SELECT media_id, cluster_id,
      |       (row_number() OVER (PARTITION BY cluster_id
      |                           ORDER BY media_id ASC) = 1) AS is_keeper
      |FROM lab ORDER BY media_id""".stripMargin

  /** q182's odd-batch-vs-even-store cross-pair SQL (q177's fingerprint
    * CTEs, two sides split): shared VERBATIM by q182 (write+append
    * store) and the streaming q189 (stream-built store) — neither the
    * ingest path nor micro-batch boundaries can change a pair.
    */
  private[queries] val audioSigCrossSql =
    s"""WITH $audioSigCte
       |SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
       |       CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
       |WHERE bit_count(xor(a.h, b.h)) <= 3
       |ORDER BY new_id, corpus_id""".stripMargin

  /** q177's fingerprint CTEs + the keep-best closure: q188's oracle —
    * the audio analog of imageKeepBestSql (pairs from the at-rest
    * audio signature store cannot differ from in-session fingerprints,
    * and decisions are a property of the pair relation).
    */
  private[queries] val audioKeepBestSql =
    s"WITH RECURSIVE $audioSigCte,\n$keepBestClosureTail"

  /** q78's overlap-report SQL, shared verbatim by q179 (benchmark
    * shingles at rest): the eval split, 5-gram shingling, and the
    * ≥ 3-distinct-shingle contamination threshold.
    */
  private[queries] val decontaminationSql =
    s"""WITH $tokensCte,
       |sh AS (SELECT DISTINCT doc_id,
       |              w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4] AS sh
       |       FROM w, UNNEST(generate_series(1, greatest(len(w)-4, 0))) AS g(i)
       |       WHERE len(w) >= 5),
       |bench AS (SELECT * FROM sh WHERE doc_id % 20 = 7),
       |corp AS (SELECT * FROM sh WHERE doc_id % 20 <> 7)
       |SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id, count(*) AS n_overlap
       |FROM corp c JOIN bench b ON c.sh = b.sh
       |GROUP BY 1, 2 HAVING count(*) >= 3
       |ORDER BY corpus_id, bench_id""".stripMargin


  private[queries] val embCte =
    "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)"

  private def cosSql(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"

  /** The int8 max-abs quantization CTE chain (`e` → `m` → `s(vec_id,
    * qv)`) shared by q119/q121 — mirrors [[graft.ops.Quantize.quantize]]
    * exactly (round-half-away-from-zero in both engines; the quantized
    * components are exact small integers thereafter).
    */
  private[queries] val quantCtes: String =
    s"""$embCte,
       |m AS (SELECT vec_id, v,
       |             list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
       |s AS (SELECT vec_id,
       |             list_transform(v, x -> CASE WHEN ma = 0 THEN 0.0
       |               ELSE round(x * 127.0 / ma, 0) END) AS qv
       |      FROM m)""".stripMargin

  /** Embedding dimensionality of the testdata `embeddings` table — the
    * model constant every similarity query passes so the operators skip
    * their one-row dim-probe job (the oracle hardcodes the same 64 in
    * [[planes8]]).
    */
  private[queries] val embDim = 64

  private[queries] val planes8 = Similarity.lshPlanes(8, embDim)

  /** q27's oracle — shared verbatim by q116: the LSH top-5 answer is a
    * property of the geometry, never of whether buckets are computed
    * per query or read back from the partitioned index. The norm > 0
    * predicate mirrors the Spark-side zero-norm exclusion (Spark 0/0 →
    * NULL sorts last, DuckDB 0/0 → NaN sorts first — both engines must
    * drop the degenerate rows before ranking).
    */
  private[queries] lazy val annTop5Sql: String =
    s"""WITH $embCte,
       |b AS (SELECT vec_id, v, ${duckBucket(planes8)} AS bucket FROM e),
       |q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
       |SELECT b.vec_id, ${cosSql("b.v", "q.qv")} AS sim
       |FROM b, q WHERE b.bucket = q.qbucket AND b.vec_id <> 0
       |  AND list_dot_product(b.v, b.v) > 0
       |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin

  /** q37's oracle — shared verbatim by q125: the IVF top-5 answer is a
    * property of the coarse quantizer's geometry (8 lowest-id
    * centroids, 6-decimal argmax assignment, nprobe-2 cell pick), never
    * of whether cells are computed per query or read back from the
    * cell-partitioned index.
    */
  private[queries] lazy val ivfTop5Sql: String =
    s"""WITH $embCte,
       |en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM en WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id, v, nrm, cid AS cell FROM (
       |    SELECT en.vec_id, en.v, en.nrm, c.cid,
       |           row_number() OVER (PARTITION BY en.vec_id
       |             ORDER BY round(list_dot_product(en.v, c.cv) / (en.nrm * c.cnrm), 6) DESC,
       |                      c.cid) AS rn
       |    FROM en, c)
       |  WHERE rn = 1),
       |q AS (SELECT v AS qv, nrm AS qnrm FROM en WHERE vec_id = 0),
       |probe AS (
       |  SELECT cid AS cell FROM c, q
       |  ORDER BY round(list_dot_product(cv, qv) / (cnrm * qnrm), 6) DESC, cid
       |  LIMIT 2)
       |SELECT a.vec_id, round(list_dot_product(a.v, q.qv) / (a.nrm * q.qnrm), 6) AS sim
       |FROM assign a JOIN probe p ON a.cell = p.cell, q
       |WHERE a.vec_id <> 0
       |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin

  /** q134's oracle — shared verbatim by q137: the quantized IVF probe.
    * Cell assignment and the nprobe-2 cell cut run on the FLOAT
    * geometry (q125's CTEs — cells are frozen at the exact answer the
    * float index gives), the ranking on the int8 form (q119's scheme);
    * the composition cannot depend on how the index files got there.
    */
  private[queries] lazy val ivfQuantTop5Sql: String =
    s"""WITH $quantCtes,
       |en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM en WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT en.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY en.vec_id
       |             ORDER BY round(list_dot_product(en.v, c.cv) / (en.nrm * c.cnrm), 6) DESC,
       |                      c.cid) AS rn
       |    FROM en, c)
       |  WHERE rn = 1),
       |qf AS (SELECT v AS qv, nrm AS qnrm FROM en WHERE vec_id = 0),
       |probe AS (
       |  SELECT cid AS cell FROM c, qf
       |  ORDER BY round(list_dot_product(cv, qv) / (cnrm * qnrm), 6) DESC, cid
       |  LIMIT 2),
       |qq AS (SELECT qv AS pqv FROM s WHERE vec_id = 0)
       |SELECT s.vec_id, ${cosSql("s.qv", "qq.pqv")} AS sim
       |FROM assign a JOIN probe p ON a.cell = p.cell
       |  JOIN s ON s.vec_id = a.vec_id, qq
       |WHERE s.vec_id <> 0 AND list_dot_product(s.qv, s.qv) > 0
       |ORDER BY sim DESC, s.vec_id LIMIT 5""".stripMargin

  /** q122's oracle — shared verbatim by q130: bucket membership from
    * the FLOAT vector (q27's geometry), ranking from the int8 form
    * (q119's scheme); the quantized top-5 cannot depend on how the
    * index files got there.
    */
  private[queries] lazy val quantTop5Sql: String =
    s"""WITH $quantCtes,
       |b AS (SELECT vec_id, ${duckBucket(planes8)} AS bucket FROM e),
       |q AS (SELECT s.qv AS pqv, b.bucket AS qbucket
       |      FROM s JOIN b USING (vec_id) WHERE vec_id = 0)
       |SELECT s.vec_id, ${cosSql("s.qv", "q.pqv")} AS sim
       |FROM s JOIN b USING (vec_id), q
       |WHERE b.bucket = q.qbucket AND s.vec_id <> 0
       |  AND list_dot_product(s.qv, s.qv) > 0
       |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin

  private val stopList = TextAnalysis.defaultStopwords.map(w => s"'$w'").mkString(", ")

  /** The q21 MinHash pipeline as a CTE block ending in
    * `mpairs(id_a, id_b, jaccard)` — near-dup pairs at Jaccard ≥ 0.5
    * (reused by the cluster-composition oracle, q68).
    */
  private[queries] val minhashPairCtes: String =
    s"""$tokensCte,
       |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
       |       FROM w, UNNEST(generate_series(1, greatest(len(w)-2, 0))) AS g(i)
       |       WHERE len(w) >= 3),
       |mh AS (SELECT doc_id,
       |              ${(0 until 8).map { s =>
                val digest = "md5(sh" + ("|| '#'" * (s / 4)) + ")"
                s"min(substr($digest, ${(s % 4) * 8 + 1}, 8)) AS h$s"
              }.mkString(", ")}
       |       FROM sh GROUP BY doc_id),
       |bands AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS band, h${2 * b} || '|' || h${2 * b + 1} AS bkey FROM mh")
          .mkString("\n           UNION ALL ")}),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
       |          FROM cand c
       |          JOIN sh sa ON sa.doc_id = c.id_a
       |          JOIN sh sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
       |          GROUP BY 1, 2),
       |mpairs AS (
       |  SELECT id_a, id_b,
       |         CAST(n_inter AS DOUBLE) / CAST(na.n + nb.n - n_inter AS DOUBLE) AS jaccard
       |  FROM inter
       |  JOIN sizes na ON na.doc_id = id_a
       |  JOIN sizes nb ON nb.doc_id = id_b
       |  WHERE CAST(n_inter AS DOUBLE) / CAST(na.n + nb.n - n_inter AS DOUBLE) >= 0.5)"""
      .stripMargin

  val oracle: Map[String, String] = Map(
    "q20_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin,

    "q21_minhash_neardup" ->
      s"""WITH $minhashPairCtes
         |SELECT id_a, id_b, jaccard FROM mpairs
         |ORDER BY id_a, id_b""".stripMargin,

    // the exact truth-pair count recomputed (the banded detector's hit
    // counts are engine-side; the floors are the judged assertion)
    "q176_minhash_recall" ->
      s"""WITH $tokensCte,
         |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
         |       FROM w, UNNEST(generate_series(1, greatest(len(w)-2, 0))) AS g(i)
         |       WHERE len(w) >= 3),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |tp AS (SELECT CAST(count(*) AS BIGINT) AS n_true
         |       FROM inter
         |       JOIN sizes na ON na.doc_id = id_a
         |       JOIN sizes nb ON nb.doc_id = id_b
         |       WHERE CAST(n_inter AS DOUBLE) / CAST(na.n + nb.n - n_inter AS DOUBLE) >= 0.5)
         |SELECT m.method, tp.n_true, true AS recall_ok
         |FROM (VALUES ('minhash_16x8'), ('minhash_8x4')) m(method) CROSS JOIN tp
         |ORDER BY method""".stripMargin,

    // the exact probe-slice truth recomputed over the aHash CTEs (the
    // banded detector's hit counts are engine-side; the recall-1.0
    // floors are the judged assertion — pigeonhole is deterministic)
    "q193_hamming_recall" ->
      """WITH px AS (
        |  SELECT d.doc_id, x.x AS x, y.y AS y,
        |         ((((d.doc_id // 4) * 37 + 11) % 251 + 16) * (2*x.x + 1) + 3*(2*y.y)) % 256 AS r,
        |         ((((d.doc_id // 4) * 59 + 23) % 241 + 16) * (2*y.y + 1) + 5*(2*x.x)) % 256 AS g,
        |         ((((d.doc_id // 4) * 83 + 41) % 239 + 16) * (2*x.x + 2*y.y + 1) + 7) % 256 AS b
        |  FROM documents d,
        |       UNNEST(generate_series(0, 7)) AS x(x),
        |       UNNEST(generate_series(0, 5)) AS y(y)),
        |g1 AS (SELECT doc_id, x, y, (r + g + b) // 3 AS gray FROM px),
        |s1 AS (SELECT doc_id, sum(gray) AS sg FROM g1 GROUP BY 1),
        |sig AS (SELECT g1.doc_id,
        |               CAST(sum(CASE WHEN 48*g1.gray > s1.sg
        |                             THEN (1::BIGINT << (g1.y*8 + g1.x))
        |                             ELSE 0 END) AS BIGINT) AS h
        |        FROM g1 JOIN s1 USING (doc_id) GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM sig),
        |tp AS (SELECT CAST(count(*) AS BIGINT) AS n_true
        |       FROM sig c JOIN sig p
        |         ON p.doc_id % (SELECT greatest(50, n // 40) FROM n) = 7
        |        AND c.doc_id <> p.doc_id
        |       WHERE bit_count(xor(c.h, p.h)) <= 3)
        |SELECT m.method, tp.n_true, true AS recall_ok
        |FROM (VALUES ('hamming_48b_4x_h3'), ('hamming_48b_6x_h3')) m(method)
        |CROSS JOIN tp
        |ORDER BY method""".stripMargin,

    "q22_simhash" ->
      s"""WITH $tokensCte,
         |tok AS (SELECT doc_id, u.t AS t FROM w, UNNEST(w.w) AS u(t)),
         |v AS (SELECT doc_id, ${duckHexN("t", 8)} AS v FROM tok),
         |b AS (SELECT doc_id, g.bit AS bit,
         |             sum(CASE WHEN (v >> g.bit) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
         |      FROM v, UNNEST(generate_series(0, 31)) AS g(bit)
         |      GROUP BY 1, 2)
         |SELECT doc_id,
         |       CAST(sum(CASE WHEN sgn > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
         |FROM b GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q23_text_quality" ->
      s"""WITH $tokensCte
         |SELECT d.doc_id,
         |       CAST(len(w.w) AS BIGINT) AS n_tokens,
         |       CAST(len(regexp_extract_all(lower(d.text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
         |       CAST(len(regexp_extract_all(d.text, '[.,;:!?]')) AS DOUBLE) / CAST(length(d.text) AS DOUBLE) AS punct_ratio,
         |       CAST(length(replace(lower(d.text), ' ', '')) AS DOUBLE) / CAST(len(w.w) AS DOUBLE) AS avg_token_len,
         |       CAST(len(list_filter(w.w, x -> x IN ($stopList))) AS DOUBLE) / CAST(len(w.w) AS DOUBLE) AS stop_ratio,
         |       (CAST(len(list_filter(w.w, x -> x IN ($stopList))) AS DOUBLE) / CAST(len(w.w) AS DOUBLE)) * 0.5
         |         + least(CAST(len(w.w) AS DOUBLE) / 100.0, 1.0) * 0.5 AS quality
         |FROM documents d JOIN w ON d.doc_id = w.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q24_lang_id" ->
      s"""WITH $tokensCte,
         |c AS (SELECT doc_id,
         |  len(list_filter(w, x -> x IN ('der','die','und'))) AS c_de,
         |  len(list_filter(w, x -> x IN ('the','and','of'))) AS c_en,
         |  len(list_filter(w, x -> x IN ('el','la','los'))) AS c_es,
         |  len(list_filter(w, x -> x IN ('le','la','et'))) AS c_fr
         |  FROM w)
         |SELECT doc_id,
         |  CASE WHEN greatest(c_de, c_en, c_es, c_fr) = 0 THEN 'und'
         |       WHEN c_de = greatest(c_de, c_en, c_es, c_fr) THEN 'de'
         |       WHEN c_en = greatest(c_de, c_en, c_es, c_fr) THEN 'en'
         |       WHEN c_es = greatest(c_de, c_en, c_es, c_fr) THEN 'es'
         |       ELSE 'fr' END AS lang_pred
         |FROM c ORDER BY doc_id""".stripMargin,

    "q25_fingerprint" ->
      s"""WITH $tokensCte
         |SELECT doc_id,
         |       md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fp
         |FROM w ORDER BY doc_id""".stripMargin,

    "q26_knn_brute" ->
      s"""WITH $embCte,
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, ${cosSql("e.v", "q.qv")} AS sim
         |FROM e, q WHERE e.vec_id <> 0 AND list_dot_product(e.v, e.v) > 0
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    // the greedy per-domain token-budget fill: q23's quality formula
    // ranks, an inclusive windowed prefix sum gates at 800 tokens
    "q132_token_budget" ->
      s"""WITH $tokensCte,
         |base AS (SELECT d.doc_id, d.source, CAST(len(w.w) AS BIGINT) AS n_tokens,
         |         (CAST(len(list_filter(w.w, x -> x IN ($stopList))) AS DOUBLE)
         |            / CAST(len(w.w) AS DOUBLE)) * 0.5
         |           + least(CAST(len(w.w) AS DOUBLE) / 100.0, 1.0) * 0.5 AS quality
         |         FROM documents d JOIN w ON d.doc_id = w.doc_id),
         |cum AS (SELECT doc_id, source, n_tokens,
         |               CAST(sum(n_tokens) OVER (PARTITION BY source
         |                 ORDER BY quality DESC, doc_id) AS BIGINT) AS cum_weight
         |        FROM base)
         |SELECT doc_id, source, n_tokens, cum_weight
         |FROM cum WHERE cum_weight <= 800 ORDER BY doc_id""".stripMargin,

    // duplicated-span coverage replayed relationally: positioned
    // 5-grams, cross-doc df >= 2, merged-interval window coverage —
    // the same max(0, e - max(prevMaxEnd, i-1)) arithmetic
    "q133_dup_span_frac" ->
      s"""WITH $tokensCte,
         |g AS (SELECT doc_id, i, array_to_string(w[i:i+4], ' ') AS gram
         |      FROM w, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
         |      WHERE len(w) >= 5),
         |dfq AS (SELECT gram FROM g GROUP BY gram
         |        HAVING count(DISTINCT doc_id) >= 2),
         |dup AS (SELECT g.doc_id, g.i, g.i + 4 AS e FROM g JOIN dfq USING (gram)),
         |cov AS (SELECT doc_id, i, e,
         |               max(e) OVER (PARTITION BY doc_id ORDER BY i
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
         |        FROM dup),
         |agg AS (SELECT doc_id,
         |               sum(greatest(0, e - greatest(COALESCE(prevmax, 0), i - 1))) AS dup_tokens
         |        FROM cov GROUP BY doc_id)
         |SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_tokens,
         |       CAST(COALESCE(agg.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         |       round(CAST(COALESCE(agg.dup_tokens, 0) AS DOUBLE)
         |             / CAST(len(w.w) AS DOUBLE), 6) AS dup_frac
         |FROM w LEFT JOIN agg USING (doc_id)
         |WHERE len(w.w) >= 1
         |ORDER BY doc_id""".stripMargin,

    // span excision replayed relationally: positioned 5-grams, keeper =
    // lexicographic (doc, pos) min per duplicated gram, non-keeper
    // occurrences become removal intervals, and the same event-stream
    // running-max coverage decides which tokens survive; clean_text is
    // the surviving tokens re-joined in position order
    "q172_span_excise" ->
      s"""WITH $tokensCte,
         |g AS (SELECT doc_id, i, array_to_string(w[i:i+4], ' ') AS gram
         |      FROM w, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
         |      WHERE len(w) >= 5),
         |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
         |k1 AS (SELECT gram, min(doc_id) AS kid
         |       FROM g JOIN dup USING (gram) GROUP BY gram),
         |kp AS (SELECT g.gram, k1.kid, min(g.i) AS ki
         |       FROM g JOIN k1 ON g.gram = k1.gram AND g.doc_id = k1.kid
         |       GROUP BY g.gram, k1.kid),
         |exc AS (SELECT g.doc_id, g.i AS pos, g.i + 4 AS e
         |        FROM g JOIN kp USING (gram)
         |        WHERE NOT (g.doc_id = kp.kid AND g.i = kp.ki)),
         |tok AS (SELECT doc_id, u.i AS pos, w.w[u.i] AS tok
         |        FROM w, UNNEST(generate_series(1, len(w.w))) AS u(i)),
         |ev AS (SELECT doc_id, pos, e, 0 AS kind, NULL AS tok FROM exc
         |       UNION ALL
         |       SELECT doc_id, pos, NULL AS e, 1 AS kind, tok FROM tok),
         |cov AS (SELECT doc_id, pos, kind, tok,
         |               max(e) OVER (PARTITION BY doc_id ORDER BY pos, kind
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS covend
         |        FROM ev),
         |kept AS (SELECT doc_id, pos, tok FROM cov
         |         WHERE kind = 1 AND (covend IS NULL OR covend < pos)),
         |reb AS (SELECT doc_id, count(*) AS n_kept,
         |               string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |        FROM kept GROUP BY doc_id)
         |SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_tokens,
         |       CAST(len(w.w) - COALESCE(reb.n_kept, 0) AS BIGINT) AS n_removed,
         |       COALESCE(reb.clean_text, '') AS clean_text
         |FROM w LEFT JOIN reb USING (doc_id)
         |WHERE len(w.w) >= 1
         |ORDER BY doc_id""".stripMargin,

    "q27_ann_lsh" -> annTop5Sql,

    // the at-rest index probe MUST return exactly what the per-query
    // bucketing returns — one oracle string, two judged plans
    "q116_ann_index_probe" -> annTop5Sql,

    // ... and compaction is layout-only: same oracle, third judged plan
    "q120_compacted_probe" -> annTop5Sql,

    // int8 max-abs quantization reproduced in SQL: round(x·127/m) per
    // component (m = per-vector max |x|, zero-vector guarded), then
    // cosine over the EXACT integer vectors — engine-independent to the
    // 6-decimal round
    "q119_quantized_ann" ->
      s"""WITH $quantCtes,
         |q AS (SELECT qv AS pqv FROM s WHERE vec_id = 0)
         |SELECT s.vec_id, ${cosSql("s.qv", "q.pqv")} AS sim
         |FROM s, q WHERE s.vec_id <> 0 AND list_dot_product(s.qv, s.qv) > 0
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    // the assembled layout: bucket membership from the FLOAT vector
    // (q27's geometry), ranking from the int8 form (q119's scheme) —
    // both halves already pinned separately, composed here
    "q122_quant_index_probe" -> quantTop5Sql,

    // ... and the quantized ingest path is layout-only too: same
    // oracle, append-fragmented judged plan
    "q130_quant_ingest" -> quantTop5Sql,

    // the two-tier composition, tier by tier: quantized top-(k·overfetch)
    // cut (10·4 — the q121 call site's constants, interpolated so the
    // oracle can never drift from them silently), then exact cosine over
    // ONLY those candidates — both cuts totally ordered by
    // (sim desc, vec_id), so the composition is exact
    "q121_two_tier_rerank" ->
      s"""WITH $quantCtes,
         |q AS (SELECT qv AS pqv FROM s WHERE vec_id = 0),
         |cand AS (SELECT s.vec_id, ${cosSql("s.qv", "q.pqv")} AS simq
         |         FROM s, q WHERE s.vec_id <> 0
         |           AND list_dot_product(s.qv, s.qv) > 0
         |         ORDER BY simq DESC, vec_id LIMIT ${10 * 4}),
         |q0 AS (SELECT v AS qv0 FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, ${cosSql("e.v", "q0.qv0")} AS sim
         |FROM e JOIN cand USING (vec_id), q0
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    // product quantization: the codebook training (per-subspace L2
    // k-means, decimal-exact Lloyd means) and every vector's 4 codes,
    // replayed relationally — a drift anywhere in seed choice, distance
    // rounding, tie-break, or mean arithmetic moves some row's code
    "q146_pq_codes" ->
      s"""WITH $pqCtes
         |SELECT vec_id, sub, code FROM pqa
         |ORDER BY vec_id, sub""".stripMargin,

    // the ADC sweep: scores assembled from the m·k lookup table by
    // exact decimal sums, ranked (sim desc, id); rows with a zero
    // reconstructed norm have no defined cosine and are excluded on
    // both engines
    "q147_pq_adc_topk" ->
      s"""WITH $pqAdcCtes
         |SELECT vec_id, round(adot / (sqrt(rn2) * q.qnrm), 6) AS sim
         |FROM psc, qn q WHERE vec_id <> 0 AND rn2 > 0
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    // the two-tier composition over the PQ tier: ADC top-(10·4) cut,
    // then exact cosine over ONLY those candidates (q121's pattern;
    // the zero-vector guard mirrors rerankExact's nonzero filter)
    "q148_pq_two_tier" ->
      s"""WITH $pqAdcCtes,
         |cand AS (SELECT vec_id, round(adot / (sqrt(rn2) * q.qnrm), 6) AS sima
         |         FROM psc, qn q WHERE vec_id <> 0 AND rn2 > 0
         |         ORDER BY sima DESC, vec_id LIMIT ${10 * 4}),
         |q0 AS (SELECT v AS qv0 FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, ${cosSql("e.v", "q0.qv0")} AS sim
         |FROM e JOIN cand USING (vec_id), q0
         |WHERE list_dot_product(e.v, e.v) > 0
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    // IVF-PQ: the cell cut from the FLOAT geometry (q125's CTEs, names
    // disjoint), the ranking from the ADC lookup table (q147's CTEs) —
    // the composed layout cannot change either half
    "q149_ivfpq_probe" -> ivfPqProbeSqlFor(""),

    // residual IVF-PQ: the cell CTEs, an exact-IEEE residual subtract,
    // the PQ train/encode block over the residuals, and the ADC tail
    // extended with the per-cell query-dot/norm and per-(cell, codeword)
    // cross terms — composed from already-pinned halves
    "q157_ivfpq_residual" -> ivfPqResidualProbeSql,
    "q160_ivfpq_res_two_tier" -> ivfPqResidualTwoTierSql,

    // ... and the double-frozen ingest codes history against the
    // quantizer that existed at build time: same oracle with the PQ
    // TRAINING relation restricted to the build slice (the float cell
    // seeds are in the slice, so the cell half is unchanged)
    "q151_ivfpq_ingest" -> ivfPqProbeSqlFor("WHERE vec_id < 250"),

    // the IVF-PQ two-tier composition: cell-pruned ADC top-(10·4) cut,
    // then exact cosine over ONLY those candidates (q148's tail over
    // q149's tier 1; the zero-vector guard mirrors rerankExact)
    "q150_ivfpq_two_tier" ->
      s"""WITH ${pqAdcCtesFor("")},
         |$ivfCellCtes,
         |cand AS (
         |  SELECT s.vec_id, round(s.adot / (sqrt(s.rn2) * q.qnrm), 6) AS sima
         |  FROM psc s JOIN cassign a ON a.vec_id = s.vec_id
         |    JOIN cprobe p ON a.cell = p.cell, qn q
         |  WHERE s.vec_id <> 0 AND s.rn2 > 0
         |  ORDER BY sima DESC, s.vec_id LIMIT ${10 * 4})
         |SELECT en.vec_id,
         |       round(list_dot_product(en.v, cq.qv) / (en.nrm * cq.qnrm), 6) AS sim
         |FROM en JOIN cand USING (vec_id), cq
         |WHERE list_dot_product(en.v, en.v) > 0
         |ORDER BY sim DESC, en.vec_id LIMIT 10""".stripMargin,

    // the at-rest multi-probe: the 1-ball bucket union, enumerated
    // relationally — rows whose recomputed bucket string is within
    // Hamming distance 1 of the query's (the same 9 buckets probeMulti
    // isin-prunes to; both sides rank the union by exact cosine)
    "q123_multiprobe_index" ->
      s"""WITH $embCte,
         |b AS (SELECT vec_id, v, ${duckBucket(planes8)} AS bucket FROM e),
         |q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
         |SELECT b.vec_id, ${cosSql("b.v", "q.qv")} AS sim
         |FROM b, q
         |WHERE len(list_filter(generate_series(1, 8),
         |        i -> substr(b.bucket, i, 1) <> substr(q.qbucket, i, 1))) <= 1
         |  AND b.vec_id <> 0 AND list_dot_product(b.v, b.v) > 0
         |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin,

    // the end-to-end two-tier serving probe: q122's CTEs produce the
    // quantized in-bucket tier-1 cut (10·4 — the q124 call site's
    // constants), then q121's re-rank tier fetches exactly those
    // candidates' float vectors — both cuts totally ordered by
    // (sim desc, vec_id), so the storage-composed path is exact
    "q124_two_tier_index" ->
      s"""WITH $quantCtes,
         |b AS (SELECT vec_id, ${duckBucket(planes8)} AS bucket FROM e),
         |q AS (SELECT s.qv AS pqv, b.bucket AS qbucket
         |      FROM s JOIN b USING (vec_id) WHERE vec_id = 0),
         |cand AS (SELECT s.vec_id, ${cosSql("s.qv", "q.pqv")} AS simq
         |         FROM s JOIN b USING (vec_id), q
         |         WHERE b.bucket = q.qbucket AND s.vec_id <> 0
         |           AND list_dot_product(s.qv, s.qv) > 0
         |         ORDER BY simq DESC, vec_id LIMIT ${10 * 4}),
         |q0 AS (SELECT v AS qv0 FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, ${cosSql("e.v", "q0.qv0")} AS sim
         |FROM e JOIN cand USING (vec_id), q0
         |WHERE list_dot_product(e.v, e.v) > 0
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    // the best-recall complete path: q126's multiprobe quantized cut
    // (Hamming ≤ 1 union, 10·4 candidates) under q124's exact re-rank —
    // every piece already pinned, composed here
    "q129_two_tier_multiprobe" ->
      s"""WITH $quantCtes,
         |b AS (SELECT vec_id, ${duckBucket(planes8)} AS bucket FROM e),
         |q AS (SELECT s.qv AS pqv, b.bucket AS qbucket
         |      FROM s JOIN b USING (vec_id) WHERE vec_id = 0),
         |cand AS (SELECT s.vec_id, ${cosSql("s.qv", "q.pqv")} AS simq
         |         FROM s JOIN b USING (vec_id), q
         |         WHERE len(list_filter(generate_series(1, 8),
         |                 i -> substr(b.bucket, i, 1) <> substr(q.qbucket, i, 1))) <= 1
         |           AND s.vec_id <> 0
         |           AND list_dot_product(s.qv, s.qv) > 0
         |         ORDER BY simq DESC, vec_id LIMIT ${10 * 4}),
         |q0 AS (SELECT v AS qv0 FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, ${cosSql("e.v", "q0.qv0")} AS sim
         |FROM e JOIN cand USING (vec_id), q0
         |WHERE list_dot_product(e.v, e.v) > 0
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    // quantized ranking over the multiprobe 1-ball: q122's CTEs with
    // q123's Hamming predicate in place of the bucket equality
    "q126_quant_multiprobe" ->
      s"""WITH $quantCtes,
         |b AS (SELECT vec_id, ${duckBucket(planes8)} AS bucket FROM e),
         |q AS (SELECT s.qv AS pqv, b.bucket AS qbucket
         |      FROM s JOIN b USING (vec_id) WHERE vec_id = 0)
         |SELECT s.vec_id, ${cosSql("s.qv", "q.pqv")} AS sim
         |FROM s JOIN b USING (vec_id), q
         |WHERE len(list_filter(generate_series(1, 8),
         |        i -> substr(b.bucket, i, 1) <> substr(q.qbucket, i, 1))) <= 1
         |  AND s.vec_id <> 0 AND list_dot_product(s.qv, s.qv) > 0
         |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin,

    "q28_embedding_neardup" ->
      s"""WITH $embCte,
         |b AS (SELECT vec_id, v, ${duckBucket(planes8)} AS bucket FROM e)
         |SELECT a.vec_id AS id_a, bb.vec_id AS id_b, ${cosSql("a.v", "bb.v")} AS sim
         |FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
         |WHERE ${cosSql("a.v", "bb.v")} >= 0.35
         |ORDER BY id_a, id_b""".stripMargin,

    // q28's bucket-pair SQL, sides split odd (batch) x even (store):
    // the at-rest layout and the write/append decomposition cannot
    // change a pair
    "q180_embed_cross_dedup" ->
      s"""WITH $embCte,
         |b AS (SELECT vec_id, v, ${duckBucket(planes8)} AS bucket FROM e)
         |SELECT a.vec_id AS new_id, bb.vec_id AS corpus_id, ${cosSql("a.v", "bb.v")} AS sim
         |FROM b a JOIN b bb ON a.bucket = bb.bucket
         |  AND a.vec_id % 2 = 1 AND bb.vec_id % 2 = 0
         |WHERE ${cosSql("a.v", "bb.v")} >= 0.35
         |ORDER BY new_id, corpus_id""".stripMargin,

    // q28's bucket-pair CTE + q164's recursive closure + keeper window
    // over ALL vectors: a keep decision is a property of the pair
    // relation, never of the at-rest layout it was read from
    "q197_embed_keep_best_stored" ->
      s"""WITH RECURSIVE $embCte,
         |b AS (SELECT vec_id, v, ${duckBucket(planes8)} AS bucket FROM e),
         |pairs AS (SELECT a.vec_id AS id_a, bb.vec_id AS id_b
         |          FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
         |          WHERE ${cosSql("a.v", "bb.v")} >= 0.35),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |r(id, reach) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e2.src, r.reach FROM edges e2 JOIN r ON e2.dst = r.id),
         |cl AS (SELECT id, min(reach) AS rep FROM r GROUP BY id),
         |lab AS (SELECT e.vec_id, coalesce(cl.rep, e.vec_id) AS cluster_id
         |        FROM e LEFT JOIN cl ON cl.id = e.vec_id)
         |SELECT vec_id, cluster_id,
         |       (row_number() OVER (PARTITION BY cluster_id
         |                           ORDER BY vec_id ASC) = 1) AS is_keeper
         |FROM lab ORDER BY vec_id""".stripMargin,

    // the maintenance-pass law for vectors: after stored keep-best +
    // eviction, a new batch pairs ONLY against the evens' surviving
    // keepers — the evens' closure + keeper window, then q180's cross
    // SQL restricted to them
    "q198_ann_index_maintenance" ->
      s"""WITH RECURSIVE $embCte,
         |b AS (SELECT vec_id, v, ${duckBucket(planes8)} AS bucket FROM e),
         |ev AS (SELECT * FROM b WHERE vec_id % 2 = 0),
         |pairs AS (SELECT a.vec_id AS id_a, bb.vec_id AS id_b
         |          FROM ev a JOIN ev bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
         |          WHERE ${cosSql("a.v", "bb.v")} >= 0.35),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |r(id, reach) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e2.src, r.reach FROM edges e2 JOIN r ON e2.dst = r.id),
         |cl AS (SELECT id, min(reach) AS rep FROM r GROUP BY id),
         |lab AS (SELECT ev.vec_id AS vid, coalesce(cl.rep, ev.vec_id) AS cluster_id
         |        FROM ev LEFT JOIN cl ON cl.id = ev.vec_id),
         |keep AS (SELECT vid FROM (
         |           SELECT vid, row_number() OVER (PARTITION BY cluster_id
         |                                          ORDER BY vid ASC) AS rk
         |           FROM lab) WHERE rk = 1)
         |SELECT a.vec_id AS new_id, bb.vec_id AS corpus_id, ${cosSql("a.v", "bb.v")} AS sim
         |FROM b a JOIN b bb ON a.bucket = bb.bucket
         |  AND a.vec_id % 2 = 1 AND bb.vec_id IN (SELECT vid FROM keep)
         |WHERE ${cosSql("a.v", "bb.v")} >= 0.35
         |ORDER BY new_id, corpus_id""".stripMargin,

    "q29_multimodal_meta" ->
      """SELECT doc_id AS media_id,
        |       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |       md5(text) AS checksum,
        |       n_chars // 100 AS n_chunks
        |FROM documents ORDER BY media_id""".stripMargin,

    "q44_semantic_dedup" ->
      s"""WITH $embCte,
         |b AS (SELECT vec_id, v, ${duckBucket(planes8)} AS bucket,
         |             sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |pairs AS (
         |  SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
         |         round(list_dot_product(a.v, bb.v) / (a.nrm * bb.nrm), 6) AS sim
         |  FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
         |  WHERE round(list_dot_product(a.v, bb.v) / (a.nrm * bb.nrm), 6) >= 0.35)
         |SELECT p.id_a, p.id_b, p.sim, da.lang AS lang_a, db.lang AS lang_b
         |FROM pairs p
         |JOIN documents da ON da.doc_id = p.id_a
         |JOIN documents db ON db.doc_id = p.id_b
         |ORDER BY id_a, id_b""".stripMargin,

    // mirrors gradientPpm's pixel arithmetic; the Spark side must
    // recover the same sums from actual PPM bytes
    "q76_image_decode" ->
      """WITH px AS (
        |  SELECT d.doc_id,
        |         (d.doc_id + 3*x.x + 5*y.y) % 256 AS r,
        |         (d.doc_id + d.n_chars + 7*x.x + 11*y.y) % 256 AS g,
        |         (2*d.doc_id + 13*x.x + 17*y.y) % 256 AS b
        |  FROM documents d,
        |       UNNEST(generate_series(0, 7)) AS x(x),
        |       UNNEST(generate_series(0, 5)) AS y(y))
        |SELECT doc_id AS media_id,
        |       CAST(8 AS BIGINT) AS img_w, CAST(6 AS BIGINT) AS img_h,
        |       round(CAST(sum(r) AS DOUBLE) / 48, 6) AS r_mean,
        |       round(CAST(sum(g) AS DOUBLE) / 48, 6) AS g_mean,
        |       round(CAST(sum(b) AS DOUBLE) / 48, 6) AS b_mean
        |FROM px GROUP BY doc_id
        |ORDER BY media_id""".stripMargin,

    // the PNG path decodes REAL compressed bytes, but PNG is lossless:
    // the recovered raster equals the generated 16x12 gradient exactly,
    // so the oracle is the same generative arithmetic as q76's at the
    // larger dimensions — any codec/channel-order defect breaks it
    "q142_png_decode" ->
      """WITH px AS (
        |  SELECT d.doc_id,
        |         (d.doc_id + 3*x.x + 5*y.y) % 256 AS r,
        |         (d.doc_id + d.n_chars + 7*x.x + 11*y.y) % 256 AS g,
        |         (2*d.doc_id + 13*x.x + 17*y.y) % 256 AS b
        |  FROM documents d,
        |       UNNEST(generate_series(0, 15)) AS x(x),
        |       UNNEST(generate_series(0, 11)) AS y(y))
        |SELECT doc_id AS media_id,
        |       CAST(16 AS BIGINT) AS img_w, CAST(12 AS BIGINT) AS img_h,
        |       round(CAST(sum(r) AS DOUBLE) / 192, 6) AS r_mean,
        |       round(CAST(sum(g) AS DOUBLE) / 192, 6) AS g_mean,
        |       round(CAST(sum(b) AS DOUBLE) / 192, 6) AS b_mean
        |FROM px GROUP BY doc_id
        |ORDER BY media_id""".stripMargin,

    // the aHash pipeline replayed arithmetically: the 8x6 average-hash
    // downsample of the 16x12 keyed gradient samples EVEN coordinates
    // only (sx = 2x, sy = 2y — the perturbed odd pixels never appear),
    // grayscale and threshold are integer-exact (48*gray > sum), the
    // signature assembles via bit shifts, and pairs come from the same
    // bit_count(xor) <= 3 predicate the banded join verifies (q55's
    // oracle idiom — banding is a candidate superset, so the exact
    // self-join is the same relation)
    "q158_image_phash_dedup" ->
      """WITH px AS (
        |  SELECT d.doc_id, x.x AS x, y.y AS y,
        |         ((((d.doc_id // 4) * 37 + 11) % 251 + 16) * (2*x.x + 1) + 3*(2*y.y)) % 256 AS r,
        |         ((((d.doc_id // 4) * 59 + 23) % 241 + 16) * (2*y.y + 1) + 5*(2*x.x)) % 256 AS g,
        |         ((((d.doc_id // 4) * 83 + 41) % 239 + 16) * (2*x.x + 2*y.y + 1) + 7) % 256 AS b
        |  FROM documents d,
        |       UNNEST(generate_series(0, 7)) AS x(x),
        |       UNNEST(generate_series(0, 5)) AS y(y)),
        |g1 AS (SELECT doc_id, x, y, (r + g + b) // 3 AS gray FROM px),
        |s1 AS (SELECT doc_id, sum(gray) AS sg FROM g1 GROUP BY 1),
        |sig AS (SELECT g1.doc_id,
        |               CAST(sum(CASE WHEN 48*g1.gray > s1.sg
        |                             THEN (1::BIGINT << (g1.y*8 + g1.x))
        |                             ELSE 0 END) AS BIGINT) AS h
        |        FROM g1 JOIN s1 USING (doc_id) GROUP BY 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // the waveform arithmetic replayed at the 48 strided positions
    // (stride 10 over the 480-sample clip — the id-dependent sample
    // perturbations live at positions 1..4 and are invisible), then
    // the integer threshold and the Hamming pair filter
    "q177_audio_fp_dedup" ->
      s"""WITH $audioSigCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.h, b.h)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // the wide-signature scale path: 60 strided positions (stride 8),
    // 60-way threshold, same pair filter
    "q185_audio_fp_wide" ->
      """WITH v AS (
        |  SELECT d.doc_id, f.f AS f,
        |         ((((d.doc_id // 4) * 43 + 13) % 509 + 16) * (8 * f.f + 1)
        |            + ((d.doc_id // 4) * 29 + 7) % 101) % 4096 - 2048 AS v
        |  FROM documents d, UNNEST(generate_series(0, 59)) AS f(f)),
        |s1 AS (SELECT doc_id, sum(v) AS sv FROM v GROUP BY 1),
        |sig AS (SELECT v.doc_id,
        |               CAST(sum(CASE WHEN 60 * v.v > s1.sv
        |                             THEN (1::BIGINT << v.f)
        |                             ELSE 0 END) AS BIGINT) AS h
        |        FROM v JOIN s1 USING (doc_id) GROUP BY 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // q177's pair SQL restricted odd (batch) x even (store): the audio
    // crawl loop's at-rest layout cannot change a pair
    "q182_audio_sig_store" -> audioSigCrossSql,

    // q158's signature CTEs with the two sides SPLIT (odd = batch,
    // even = stored corpus): where the corpus signatures live — written
    // or appended, banded or not — cannot change a Hamming pair
    "q170_image_sig_store" -> imageSigCrossSql,
    // fragmentation and its repair are layout-only — same oracle
    "q183_sig_store_optimize" -> imageSigCrossSql,

    // q170's cross-pair SQL (imageSigCrossSql) with the corpus side
    // restricted to the SURVIVING evens — delete semantics for the
    // signature store
    "q171_image_sig_delete" ->
      """WITH px AS (
        |  SELECT d.doc_id, x.x AS x, y.y AS y,
        |         ((((d.doc_id // 4) * 37 + 11) % 251 + 16) * (2*x.x + 1) + 3*(2*y.y)) % 256 AS r,
        |         ((((d.doc_id // 4) * 59 + 23) % 241 + 16) * (2*y.y + 1) + 5*(2*x.x)) % 256 AS g,
        |         ((((d.doc_id // 4) * 83 + 41) % 239 + 16) * (2*x.x + 2*y.y + 1) + 7) % 256 AS b
        |  FROM documents d,
        |       UNNEST(generate_series(0, 7)) AS x(x),
        |       UNNEST(generate_series(0, 5)) AS y(y)),
        |g1 AS (SELECT doc_id, x, y, (r + g + b) // 3 AS gray FROM px),
        |s1 AS (SELECT doc_id, sum(gray) AS sg FROM g1 GROUP BY 1),
        |sig AS (SELECT g1.doc_id,
        |               CAST(sum(CASE WHEN 48*g1.gray > s1.sg
        |                             THEN (1::BIGINT << (g1.y*8 + g1.x))
        |                             ELSE 0 END) AS BIGINT) AS h
        |        FROM g1 JOIN s1 USING (doc_id) GROUP BY 1)
        |SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
        |       CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b
        |  ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        |     AND b.doc_id % 8 NOT IN (0, 6)
        |WHERE bit_count(xor(a.h, b.h)) <= 3
        |ORDER BY new_id, corpus_id""".stripMargin,

    // q158's signature CTEs + the recursive closure (the keepBestOracle
    // pattern) + the lowest-id keeper window — cluster minima and keep
    // decisions are a property of the pair relation
    "q164_image_keep_best" -> imageKeepBestSql,
    // q164's oracle VERBATIM: whether the pairs came from in-session
    // signatures or the at-rest store cannot change a keep decision
    "q187_keep_best_stored_sig" -> imageKeepBestSql,
    // the audio analog: q177's fingerprint CTEs + the same closure tail
    "q188_audio_keep_best" -> audioKeepBestSql,
    // the maintenance-pass law: after stored keep-best + eviction, a
    // new batch pairs ONLY against the evens' surviving keepers — the
    // oracle recomputes the evens' closure and keeper window, then
    // restricts q170's cross-pair SQL to them
    "q194_sig_store_maintenance" ->
      """WITH RECURSIVE px AS (
        |  SELECT d.doc_id, x.x AS x, y.y AS y,
        |         ((((d.doc_id // 4) * 37 + 11) % 251 + 16) * (2*x.x + 1) + 3*(2*y.y)) % 256 AS r,
        |         ((((d.doc_id // 4) * 59 + 23) % 241 + 16) * (2*y.y + 1) + 5*(2*x.x)) % 256 AS g,
        |         ((((d.doc_id // 4) * 83 + 41) % 239 + 16) * (2*x.x + 2*y.y + 1) + 7) % 256 AS b
        |  FROM documents d,
        |       UNNEST(generate_series(0, 7)) AS x(x),
        |       UNNEST(generate_series(0, 5)) AS y(y)),
        |g1 AS (SELECT doc_id, x, y, (r + g + b) // 3 AS gray FROM px),
        |s1 AS (SELECT doc_id, sum(gray) AS sg FROM g1 GROUP BY 1),
        |sig AS (SELECT g1.doc_id,
        |               CAST(sum(CASE WHEN 48*g1.gray > s1.sg
        |                             THEN (1::BIGINT << (g1.y*8 + g1.x))
        |                             ELSE 0 END) AS BIGINT) AS h
        |        FROM g1 JOIN s1 USING (doc_id) GROUP BY 1),
        |ev AS (SELECT * FROM sig WHERE doc_id % 2 = 0),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |          FROM ev a JOIN ev b ON a.doc_id < b.doc_id
        |          WHERE bit_count(xor(a.h, b.h)) <= 3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |r(id, reach) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.reach FROM edges e JOIN r ON e.dst = r.id),
        |cl AS (SELECT id, min(reach) AS rep FROM r GROUP BY id),
        |lab AS (SELECT e.doc_id AS media_id, coalesce(cl.rep, e.doc_id) AS cluster_id
        |        FROM ev e LEFT JOIN cl ON cl.id = e.doc_id),
        |keep AS (SELECT media_id FROM (
        |           SELECT media_id, row_number() OVER (PARTITION BY cluster_id
        |                                               ORDER BY media_id ASC) AS rk
        |           FROM lab) WHERE rk = 1)
        |SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
        |       CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b
        |  ON a.doc_id % 2 = 1 AND b.doc_id IN (SELECT media_id FROM keep)
        |WHERE bit_count(xor(a.h, b.h)) <= 3
        |ORDER BY new_id, corpus_id""".stripMargin,

    // the sampled-frame aHash CTEs + the ALIGNED pair SQL (same frame
    // slot) + the >= 2-matched-slots video fold
    "q199_video_frame_dedup" ->
      s"""WITH $videoSigCte,
         |fp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |       FROM sig a JOIN sig b ON a.f = b.f AND a.doc_id < b.doc_id
         |       WHERE bit_count(xor(a.h, b.h)) <= 3)
         |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_frames
         |FROM fp GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY id_a, id_b""".stripMargin,

    // q199's CTEs with the sides split odd (batch) x even (store): the
    // at-rest layout and the write/append decomposition cannot change
    // a frame match, so they cannot change a video pair
    "q200_video_sig_store" -> videoSigCrossSql,

    // the q194 maintenance law for clips: the evens' video-pair
    // closure + keeper window, then the odd batch's cross pairs
    // restricted to keepers
    "q201_video_store_maintenance" ->
      s"""WITH RECURSIVE $videoSigCte,
         |ev AS (SELECT * FROM sig WHERE doc_id % 2 = 0),
         |fpe AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |        FROM ev a JOIN ev b ON a.f = b.f AND a.doc_id < b.doc_id
         |        WHERE bit_count(xor(a.h, b.h)) <= 3),
         |vp AS (SELECT id_a, id_b FROM fpe GROUP BY 1, 2 HAVING count(*) >= 2),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM vp
         |          UNION SELECT id_b, id_a FROM vp),
         |r(id, reach) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e2.src, r.reach FROM edges e2 JOIN r ON e2.dst = r.id),
         |cl AS (SELECT id, min(reach) AS rep FROM r GROUP BY id),
         |vids AS (SELECT DISTINCT doc_id FROM ev),
         |lab AS (SELECT v.doc_id AS media_id, coalesce(cl.rep, v.doc_id) AS cluster_id
         |        FROM vids v LEFT JOIN cl ON cl.id = v.doc_id),
         |keep AS (SELECT media_id FROM (
         |           SELECT media_id, row_number() OVER (PARTITION BY cluster_id
         |                                               ORDER BY media_id ASC) AS rk
         |           FROM lab) WHERE rk = 1),
         |fpo AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id
         |        FROM sig a JOIN sig b
         |          ON a.f = b.f AND a.doc_id % 2 = 1
         |         AND b.doc_id IN (SELECT media_id FROM keep)
         |        WHERE bit_count(xor(a.h, b.h)) <= 3)
         |SELECT new_id, corpus_id, CAST(count(*) AS BIGINT) AS n_frames
         |FROM fpo GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY new_id, corpus_id""".stripMargin,

    // mirrors resizeImage's nearest-neighbor floor sampling (sx = x*8//5,
    // sy = y*6//4) composed with gradientPpm's pixel arithmetic; the
    // Spark side must recover the same sums from the re-encoded bytes
    "q86_image_resize" ->
      """WITH px AS (
        |  SELECT d.doc_id,
        |         (d.doc_id + 3*((x.x*8)//5) + 5*((y.y*6)//4)) % 256 AS r,
        |         (d.doc_id + d.n_chars + 7*((x.x*8)//5) + 11*((y.y*6)//4)) % 256 AS g,
        |         (2*d.doc_id + 13*((x.x*8)//5) + 17*((y.y*6)//4)) % 256 AS b
        |  FROM documents d,
        |       UNNEST(generate_series(0, 4)) AS x(x),
        |       UNNEST(generate_series(0, 3)) AS y(y))
        |SELECT doc_id AS media_id,
        |       CAST(5 AS BIGINT) AS img_w, CAST(4 AS BIGINT) AS img_h,
        |       round(CAST(sum(r) AS DOUBLE) / 20, 6) AS r_mean,
        |       round(CAST(sum(g) AS DOUBLE) / 20, 6) AS g_mean,
        |       round(CAST(sum(b) AS DOUBLE) / 20, 6) AS b_mean
        |FROM px GROUP BY doc_id
        |ORDER BY media_id""".stripMargin,

    // mirrors sawtoothPcm's sample arithmetic; the Spark side must
    // recover the same statistics from actual s16le bytes
    "q87_audio_decode" ->
      """WITH smp AS (
        |  SELECT d.doc_id,
        |         (d.doc_id*31 + d.n_chars*17 + i.i*7919) % 65536 - 32768 AS v
        |  FROM documents d,
        |       UNNEST(generate_series(0, 200 + d.doc_id % 57 - 1)) AS i(i))
        |SELECT doc_id AS media_id,
        |       count(*) AS n_samples,
        |       CAST(sum(v) AS BIGINT) AS sum_amp,
        |       CAST(sum(v*v) AS BIGINT) AS sum_sq,
        |       CAST(max(abs(v)) AS INT) AS peak
        |FROM smp GROUP BY doc_id
        |ORDER BY media_id""".stripMargin,

    // mirrors framePositions (every 1000 ms over duration = 10 ms/byte)
    // + extractFrameStub's proportional seek (same IEEE double ops:
    // pos/duration, * (len-1), truncate); the corpus is ASCII so
    // substr's char positions equal the byte positions Spark slices
    "q88_frame_sample" ->
      """WITH f AS (
        |  SELECT d.doc_id, i.i * 1000 AS pos_ms,
        |         CAST(trunc((CAST(i.i * 1000 AS DOUBLE) / (length(d.text) * 10))
        |                    * (length(d.text) - 1)) AS BIGINT) AS start,
        |         length(d.text) AS len, d.text AS text
        |  FROM documents d,
        |       UNNEST(generate_series(0, (length(d.text) * 10 - 1) // 1000)) AS i(i))
        |SELECT doc_id AS media_id, pos_ms,
        |       CAST(least(16, len - start) AS BIGINT) AS frame_len,
        |       md5(substr(text, CAST(start + 1 AS INT), 16)) AS frame_md5
        |FROM f ORDER BY media_id, pos_ms""".stripMargin,

    "q37_ivf_ann" -> ivfTop5Sql,

    // the at-rest IVF index probe MUST return exactly what the in-plan
    // coarse quantizer returns — one oracle string, two judged plans
    // (the q116/q27 argument, for the cell-partitioned layout)
    "q125_ivf_index_probe" -> ivfTop5Sql,

    // ... and the frozen-quantizer ingest path cannot change results
    // either (the build half contains the seed ids, so the frozen
    // centroids equal the full-corpus ones): same oracle, third plan
    "q128_ivf_ingest" -> ivfTop5Sql,

    // ... and a REBUILD (recompute quantizer over the grown corpus,
    // swap the layout) reproduces the fresh build exactly — same
    // oracle, fourth plan: refresh changes layout, never answers
    "q136_ivf_rebuild" -> ivfTop5Sql,

    // the drift verdict's assignment is q37's argmax SQL; counts and
    // the fire comparison are exact integer arithmetic, recomputed
    // relationally per scenario (aligned = odd half, drifted = |x|)
    "q202_ivf_drift_rebuild" -> {
      def cellCounts(src: String): String =
        s"""(SELECT cid AS cell, count(*) AS nr FROM (
           |   SELECT $src.vec_id, c.cid,
           |          row_number() OVER (PARTITION BY $src.vec_id
           |            ORDER BY round(list_dot_product($src.v, c.cv) / ($src.nrm * c.cnrm), 6) DESC,
           |                     c.cid) AS rn
           |   FROM $src, c) WHERE rn = 1 GROUP BY 1)""".stripMargin
      def stat(cnts: String): String =
        s"(SELECT max(nr) AS batch_max, CAST(sum(nr) AS BIGINT) AS batch_total FROM $cnts x)"
      s"""WITH $embCte,
         |en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM en WHERE vec_id < 8),
         |bs AS (SELECT max(nr) AS build_max, CAST(sum(nr) AS BIGINT) AS build_total
         |       FROM ${cellCounts("en")} x),
         |al AS (SELECT vec_id, v, nrm FROM en WHERE vec_id % 2 = 1),
         |als AS ${stat(cellCounts("al"))},
         |de AS (SELECT vec_id, list_transform(embedding, x -> abs(CAST(x AS DOUBLE))) AS v
         |       FROM embeddings),
         |dn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM de),
         |dls AS ${stat(cellCounts("dn"))}
         |SELECT s.scenario, bs.build_max, bs.build_total, s.batch_max, s.batch_total,
         |       (s.batch_max * bs.build_total * 2 > bs.build_max * s.batch_total * 3)
         |         AS rebuild_fired
         |FROM bs, (SELECT 'aligned' AS scenario, batch_max, batch_total FROM als
         |          UNION ALL
         |          SELECT 'drifted', batch_max, batch_total FROM dls) s
         |ORDER BY s.scenario""".stripMargin
    },

    // the codebook-drift verdict: PQ training replayed (q146's CTEs),
    // per-vector distortion = Σ_sub min over codewords of the round-6
    // assignment metric summed as DECIMAL, bad counts at the frozen
    // tau=2.0, verdicts as exact integer products. The re-embedded
    // batch is an exact IEEE rescale (3 · CAST(x AS DOUBLE)).
    "q207_pq_drift_rebuild" -> {
      def distCte(svRel: String, mdName: String, bdName: String): String =
        s"""$mdName AS (SELECT s.vec_id, s.sub,
           |        min(round(list_dot_product(s.sv, s.sv)
           |                  - 2*list_dot_product(s.sv, cb.cv)
           |                  + list_dot_product(cb.cv, cb.cv), 6)) AS md2
           |        FROM $svRel s JOIN cb ON cb.sub = s.sub GROUP BY 1, 2),
           |$bdName AS (SELECT vec_id, sum(CAST(md2 AS DECIMAL(28,6))) AS dist
           |            FROM $mdName GROUP BY 1)""".stripMargin
      s"""WITH ${pqCtesFor("")},
         |${distCte("sv", "md", "bd")},
         |bs AS (SELECT CAST(sum(CASE WHEN dist > 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS build_bad,
         |              CAST(count(*) AS BIGINT) AS build_total FROM bd),
         |als AS (SELECT CAST(sum(CASE WHEN dist > 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS batch_bad,
         |               CAST(count(*) AS BIGINT) AS batch_total
         |        FROM bd WHERE vec_id % 2 = 1),
         |re AS (SELECT vec_id, list_transform(embedding, x -> 3 * CAST(x AS DOUBLE)) AS v
         |       FROM embeddings),
         |rsv AS (SELECT vec_id, s.s AS sub, list_slice(v, s.s*16 + 1, s.s*16 + 16) AS sv
         |        FROM re, UNNEST(generate_series(0, 3)) AS s(s)),
         |${distCte("rsv", "rmd", "rbd")},
         |rls AS (SELECT CAST(sum(CASE WHEN dist > 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS batch_bad,
         |               CAST(count(*) AS BIGINT) AS batch_total FROM rbd)
         |SELECT s.scenario, bs.build_bad, bs.build_total, s.batch_bad, s.batch_total,
         |       (s.batch_bad * bs.build_total * 2 > bs.build_bad * s.batch_total * 3)
         |         AS rebuild_fired
         |FROM bs, (SELECT 'aligned' AS scenario, batch_bad, batch_total FROM als
         |          UNION ALL
         |          SELECT 're_embedded', batch_bad, batch_total FROM rls) s
         |ORDER BY s.scenario""".stripMargin
    },

    // the LSH-bucket drift verdict: buckets from the inlined plane
    // literals (q27's convention), per-scenario counts, integer
    // verdicts. The rescaled scenario's counts equal the build's by
    // sign-invariance — the no-fire row is exact, not a margin.
    "q208_lsh_drift_rebuild" -> {
      def stat(rel: String, pred: String): String =
        s"""(SELECT max(nr) AS batch_max, CAST(sum(nr) AS BIGINT) AS batch_total
           | FROM (SELECT bucket, count(*) AS nr FROM $rel $pred GROUP BY 1) x)""".stripMargin
      s"""WITH $embCte,
         |b AS (SELECT vec_id, ${duckBucket(planes8)} AS bucket FROM e),
         |bs AS (SELECT max(nr) AS build_max, CAST(sum(nr) AS BIGINT) AS build_total
         |       FROM (SELECT bucket, count(*) AS nr FROM b GROUP BY 1) x),
         |als AS ${stat("b", "WHERE vec_id % 2 = 1")},
         |de AS (SELECT vec_id, list_transform(embedding, x -> abs(CAST(x AS DOUBLE))) AS v
         |       FROM embeddings),
         |dbk AS (SELECT vec_id, ${duckBucket(planes8)} AS bucket FROM de),
         |dls AS ${stat("dbk", "")},
         |re AS (SELECT vec_id, list_transform(embedding, x -> 3 * CAST(x AS DOUBLE)) AS v
         |       FROM embeddings),
         |rbk AS (SELECT vec_id, ${duckBucket(planes8)} AS bucket FROM re),
         |rls AS ${stat("rbk", "")}
         |SELECT s.scenario, bs.build_max, bs.build_total, s.batch_max, s.batch_total,
         |       (s.batch_max * bs.build_total * 2 > bs.build_max * s.batch_total * 3)
         |         AS rebuild_fired
         |FROM bs, (SELECT 'aligned' AS scenario, batch_max, batch_total FROM als
         |          UNION ALL SELECT 'folded', batch_max, batch_total FROM dls
         |          UNION ALL SELECT 'rescaled', batch_max, batch_total FROM rls) s
         |ORDER BY s.scenario""".stripMargin
    },

    // delete semantics for the IVF index: centroids FROZEN from the
    // full build corpus (seed 4 is deleted as a row yet still ranks
    // cells), assignment and ranking over survivors only
    "q168_ivf_delete" ->
      s"""WITH $embCte,
         |en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM en WHERE vec_id < 8),
         |sur AS (SELECT * FROM en WHERE vec_id % 9 <> 4),
         |assign AS (
         |  SELECT vec_id, v, nrm, cid AS cell FROM (
         |    SELECT sur.vec_id, sur.v, sur.nrm, c.cid,
         |           row_number() OVER (PARTITION BY sur.vec_id
         |             ORDER BY round(list_dot_product(sur.v, c.cv) / (sur.nrm * c.cnrm), 6) DESC,
         |                      c.cid) AS rn
         |    FROM sur, c)
         |  WHERE rn = 1),
         |q AS (SELECT v AS qv, nrm AS qnrm FROM en WHERE vec_id = 0),
         |probe AS (
         |  SELECT cid AS cell FROM c, q
         |  ORDER BY round(list_dot_product(cv, qv) / (cnrm * qnrm), 6) DESC, cid
         |  LIMIT 2)
         |SELECT a.vec_id, round(list_dot_product(a.v, q.qv) / (a.nrm * q.qnrm), 6) AS sim
         |FROM assign a JOIN probe p ON a.cell = p.cell, q
         |WHERE a.vec_id <> 0
         |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin,

    // the k-means-seeded IVF probe: q82's refined centroid table (the
    // kmeans CTE block verbatim — c1n is the quantizer, a2 its cell
    // assignment) composed with q125's probe shape (nprobe-2 cell cut
    // on the rounded centroid cosine, exact in-cell ranking) — the
    // quantizer's geometry changes WHICH cells exist and who lives
    // where, and both engines must agree on all of it
    "q141_ivf_kmeans_probe" ->
      s"""WITH $kmeansCtes,
         |qv AS (SELECT v AS qv, nrm AS qnrm FROM en WHERE vec_id = 0),
         |kprobe AS (
         |  SELECT cid AS cell FROM c1n, qv
         |  ORDER BY round(list_dot_product(cv, qv) / (cnrm * qnrm), 6) DESC, cid
         |  LIMIT 2)
         |SELECT en.vec_id,
         |       round(list_dot_product(en.v, q.qv) / (en.nrm * q.qnrm), 6) AS sim
         |FROM a2 a JOIN kprobe p ON a.cell = p.cell
         |  JOIN en ON en.vec_id = a.vec_id, qv q
         |WHERE en.vec_id <> 0
         |ORDER BY sim DESC, en.vec_id LIMIT 5""".stripMargin,

    // the quantized IVF layout: cell membership and the nprobe cut
    // from the FLOAT geometry (q125's CTEs), ranking from the int8
    // form (q119's scheme) — both halves already pinned, composed here
    "q134_ivf_quant_probe" -> ivfQuantTop5Sql,

    // ... and the frozen-quantizer int8 ingest path is layout-only
    // too: same oracle, append-fragmented judged plan
    "q137_ivf_quant_ingest" -> ivfQuantTop5Sql,

    // the end-to-end IVF two-tier serving probe: q134's CTEs produce
    // the quantized cell-pruned tier-1 cut (10·4 — the q139 call
    // site's constants), then q121's re-rank tier fetches exactly
    // those candidates' float vectors — both cuts totally ordered by
    // (sim desc, vec_id), so the storage-composed path is exact
    "q139_ivf_two_tier" ->
      s"""WITH $quantCtes,
         |en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM en WHERE vec_id < 8),
         |assign AS (
         |  SELECT vec_id, cid AS cell FROM (
         |    SELECT en.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY en.vec_id
         |             ORDER BY round(list_dot_product(en.v, c.cv) / (en.nrm * c.cnrm), 6) DESC,
         |                      c.cid) AS rn
         |    FROM en, c)
         |  WHERE rn = 1),
         |qf AS (SELECT v AS qv, nrm AS qnrm FROM en WHERE vec_id = 0),
         |probe AS (
         |  SELECT cid AS cell FROM c, qf
         |  ORDER BY round(list_dot_product(cv, qv) / (cnrm * qnrm), 6) DESC, cid
         |  LIMIT 2),
         |qq AS (SELECT qv AS pqv FROM s WHERE vec_id = 0),
         |cand AS (SELECT s.vec_id, ${cosSql("s.qv", "qq.pqv")} AS simq
         |         FROM assign a JOIN probe p ON a.cell = p.cell
         |           JOIN s ON s.vec_id = a.vec_id, qq
         |         WHERE s.vec_id <> 0 AND list_dot_product(s.qv, s.qv) > 0
         |         ORDER BY simq DESC, s.vec_id LIMIT ${10 * 4}),
         |q0 AS (SELECT v AS qv0 FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, ${cosSql("e.v", "q0.qv0")} AS sim
         |FROM e JOIN cand USING (vec_id), q0
         |WHERE list_dot_product(e.v, e.v) > 0
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    "q78_decontamination" -> decontaminationSql,

    // the stored benchmark index MUST reproduce the from-text overlap
    // report exactly — where the eval shingles live cannot change it
    "q179_decontam_stored" -> decontaminationSql,
    // q78's overlap SQL verbatim: a retired (or retired-and-purged)
    // benchmark version ≡ one never indexed, in every overlap count
    "q192_bench_version_retire" -> decontaminationSql,

    "q79_repetition" ->
      s"""WITH $tokensCte,
         |tok AS (SELECT doc_id, u.t AS t FROM w, UNNEST(w.w) AS u(t)),
         |ts AS (SELECT doc_id, count(*) AS n_tok, count(DISTINCT t) AS n_tok_d
         |       FROM tok GROUP BY 1),
         |bg AS (SELECT doc_id, w[i]||' '||w[i+1] AS bg
         |       FROM w, UNNEST(generate_series(1, greatest(len(w)-1, 0))) AS g(i)
         |       WHERE len(w) >= 2),
         |bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
         |bs AS (SELECT doc_id, sum(c) AS n_bg, count(*) AS n_bg_d, max(c) AS max_bg
         |       FROM bgc GROUP BY 1)
         |SELECT ts.doc_id,
         |       round(CAST(ts.n_tok - ts.n_tok_d AS DOUBLE) / CAST(ts.n_tok AS DOUBLE), 6)
         |         AS dup_token_frac,
         |       round(coalesce(CAST(bs.n_bg - bs.n_bg_d AS DOUBLE) / CAST(bs.n_bg AS DOUBLE), 0), 6)
         |         AS dup_bigram_frac,
         |       round(coalesce(CAST(bs.max_bg AS DOUBLE) / CAST(bs.n_bg AS DOUBLE), 0), 6)
         |         AS top_bigram_frac
         |FROM ts LEFT JOIN bs ON bs.doc_id = ts.doc_id
         |ORDER BY ts.doc_id""".stripMargin,

    "q81_pii_scrub" -> {
      val em = TextAnalysis.emailPattern
      val ur = TextAnalysis.urlPattern
      val ph = TextAnalysis.phonePattern
      s"""WITH p AS (
         |  SELECT doc_id,
         |         text || ' contact user' || CAST(doc_id AS VARCHAR)
         |              || '@mail.example via https://ex.test/d/' || CAST(doc_id AS VARCHAR)
         |              || ' or +155500' || CAST(doc_id AS VARCHAR) AS text
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(text, '$em')) AS BIGINT) AS n_email,
         |       CAST(len(regexp_extract_all(text, '$ur')) AS BIGINT) AS n_url,
         |       CAST(len(regexp_extract_all(text, '$ph')) AS BIGINT) AS n_phone,
         |       regexp_replace(
         |         regexp_replace(
         |           regexp_replace(text, '$ur', '<URL>', 'g'),
         |           '$em', '<EMAIL>', 'g'),
         |         '$ph', '<PHONE>', 'g') AS scrubbed
         |FROM p ORDER BY doc_id""".stripMargin
    },

    "q82_kmeans" ->
      s"""WITH $kmeansCtes
         |SELECT vec_id, cell, sim FROM a2 ORDER BY vec_id""".stripMargin,

    "q83_seq_packing" ->
      s"""WITH $tokensCte,
         |n AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok FROM w),
         |c AS (SELECT doc_id, n_tok,
         |             CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         |      FROM n)
         |SELECT doc_id, n_tok, start_tok,
         |       CAST(start_tok // 512 AS BIGINT) AS seq_id,
         |       CAST(start_tok % 512 AS BIGINT) AS seq_offset,
         |       CASE WHEN n_tok = 0 THEN CAST(1 AS BIGINT)
         |            ELSE CAST(((start_tok + n_tok - 1) // 512) - (start_tok // 512) + 1 AS BIGINT)
         |       END AS n_seqs
         |FROM c ORDER BY doc_id""".stripMargin,

    "q84_curation_gate" ->
      s"""WITH $curationGateCtes
         |SELECT doc_id, quality, dup_token_frac
         |FROM gate ORDER BY doc_id""".stripMargin,
  )

  /** The product-quantization training + encoding as a CTE block ending
    * in `cb(sub, cid, cv)` (the per-subspace codebooks after one
    * decimal-exact Lloyd round in L2) and `pqa(vec_id, sub, code)` (the
    * final assignment of the FULL corpus) — mirrors
    * [[graft.ops.ProductQuantize]]'s train/encode exactly: 4 subspaces
    * of 16 dims, 8 codewords seeded from the lowest-id rows'
    * subvectors, argmin of round(L2², 6) with a smaller-cid tie-break.
    * `trainPred` restricts the TRAINING relation only (the frozen-
    * quantizer ingest oracle trains on the build slice, then codes
    * everything against that codebook — q151); empty = train on the
    * full corpus (q146–q150).
    */
  /** The exploded 4×16 subvector CTE over any (vec_id, v) relation —
    * shared by the raw-vector PQ oracles (over `e`) and the residual
    * IVF-PQ oracle (over the residual relation `rv`).
    */
  private[queries] def pqSvCtes(rel: String): String =
    s"""sv AS (SELECT vec_id, s.s AS sub, list_slice(v, s.s*16 + 1, s.s*16 + 16) AS sv
       |       FROM $rel, UNNEST(generate_series(0, 3)) AS s(s))""".stripMargin

  private[queries] def pqCtesFor(trainPred: String): String =
    s"""$embCte,
       |${pqSvCtes("e")},
       |${pqTrainEncodeCtes(trainPred)}""".stripMargin

  /** PQ training + encoding from an existing `sv` relation — the body
    * of [[pqCtesFor]] with the subvector source factored out.
    */
  private[queries] def pqTrainEncodeCtes(trainPred: String): String =
    s"""tsv AS (SELECT * FROM sv $trainPred),
       |pc0 AS (SELECT sub, vec_id AS cid, sv AS cv FROM tsv WHERE vec_id < 8),
       |pa1 AS (
       |  SELECT vec_id, sub, cid AS code FROM (
       |    SELECT tsv.vec_id, tsv.sub, pc0.cid,
       |           row_number() OVER (PARTITION BY tsv.vec_id, tsv.sub
       |             ORDER BY round(list_dot_product(tsv.sv, tsv.sv)
       |                          - 2*list_dot_product(tsv.sv, pc0.cv)
       |                          + list_dot_product(pc0.cv, pc0.cv), 6) ASC,
       |                      pc0.cid ASC) AS rn
       |    FROM tsv JOIN pc0 ON pc0.sub = tsv.sub)
       |  WHERE rn = 1),
       |pd1 AS (SELECT s.sub, a.code, g.i - 1 AS dim, s.sv[g.i] AS val
       |        FROM tsv s JOIN pa1 a ON a.vec_id = s.vec_id AND a.sub = s.sub,
       |             UNNEST(generate_series(1, len(s.sv))) AS g(i)),
       |pm1 AS (SELECT sub, code, dim,
       |               round(CAST(sum(CAST(val AS DECIMAL(28,12))) AS DOUBLE)
       |                     / count(*), 6) AS mv
       |        FROM pd1 GROUP BY 1, 2, 3),
       |cb AS (SELECT sub, code AS cid, list(mv ORDER BY dim) AS cv
       |       FROM pm1 GROUP BY 1, 2),
       |pqa AS (
       |  SELECT vec_id, sub, cid AS code FROM (
       |    SELECT s.vec_id, s.sub, cb.cid,
       |           row_number() OVER (PARTITION BY s.vec_id, s.sub
       |             ORDER BY round(list_dot_product(s.sv, s.sv)
       |                          - 2*list_dot_product(s.sv, cb.cv)
       |                          + list_dot_product(cb.cv, cb.cv), 6) ASC,
       |                      cb.cid ASC) AS rn
       |    FROM sv s JOIN cb ON cb.sub = s.sub)
       |  WHERE rn = 1)""".stripMargin

  private[queries] lazy val pqCtes: String = pqCtesFor("")

  /** The ADC scoring tail over [[pqCtesFor]] — `psc(vec_id, adot, rn2)`:
    * per-row reconstructed dot and norm² assembled from round-9
    * DECIMAL partial sums of the m·k lookup table (the q95/q108
    * exact-sum discipline). Shared by q147 (direct ranking), q148
    * (candidate cut), and the IVF-PQ probes (cell-restricted).
    */
  private[queries] def pqAdcCtesFor(trainPred: String): String =
    s"""${pqCtesFor(trainPred)},
       |qsub AS (SELECT sub, sv AS qsv FROM sv WHERE vec_id = 0),
       |plut AS (SELECT cb.sub, cb.cid,
       |                round(list_dot_product(q.qsv, cb.cv), 9) AS lutv,
       |                round(list_dot_product(cb.cv, cb.cv), 9) AS cvn2
       |         FROM cb JOIN qsub q ON q.sub = cb.sub),
       |qn AS (SELECT sqrt(list_dot_product(v, v)) AS qnrm FROM e WHERE vec_id = 0),
       |psc AS (SELECT a.vec_id,
       |               CAST(sum(CAST(l.lutv AS DECIMAL(28,12))) AS DOUBLE) AS adot,
       |               CAST(sum(CAST(l.cvn2 AS DECIMAL(28,12))) AS DOUBLE) AS rn2
       |        FROM pqa a JOIN plut l ON l.sub = a.sub AND l.cid = a.code
       |        GROUP BY 1)""".stripMargin

  private[queries] lazy val pqAdcCtes: String = pqAdcCtesFor("")

  /** The IVF cell block (float coarse quantizer, lowest-8-id seeds)
    * with names disjoint from the PQ CTEs, ending in `cassign(vec_id,
    * cell)`, `cq(qv, qnrm)`, `cprobe(cell)` — the cell-pruning half of
    * the IVF-PQ oracles.
    */
  private[queries] lazy val ivfCellCtes: String =
    s"""en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM en WHERE vec_id < 8),
       |cassign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT en.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY en.vec_id
       |             ORDER BY round(list_dot_product(en.v, c.cv) / (en.nrm * c.cnrm), 6) DESC,
       |                      c.cid) AS rn
       |    FROM en, c)
       |  WHERE rn = 1),
       |cq AS (SELECT v AS qv, nrm AS qnrm FROM en WHERE vec_id = 0),
       |cprobe AS (
       |  SELECT cid AS cell FROM c, cq
       |  ORDER BY round(list_dot_product(cv, qv) / (cnrm * qnrm), 6) DESC, cid
       |  LIMIT 2)""".stripMargin

  /** The IVF-PQ probe oracle, parameterized by the codebook's training
    * slice — shared verbatim by q149 (full-corpus build) and, with the
    * build-slice predicate, by q151 (frozen-quantizer ingest): the ADC
    * ranking restricted to the query's 2 best float cells.
    */
  private[queries] def ivfPqProbeSqlFor(trainPred: String): String =
    s"""WITH ${pqAdcCtesFor(trainPred)},
       |$ivfCellCtes
       |SELECT s.vec_id, round(s.adot / (sqrt(s.rn2) * q.qnrm), 6) AS sim
       |FROM psc s JOIN cassign a ON a.vec_id = s.vec_id
       |  JOIN cprobe p ON a.cell = p.cell, qn q
       |WHERE s.vec_id <> 0 AND s.rn2 > 0
       |ORDER BY sim DESC, s.vec_id LIMIT 5""".stripMargin

  /** The residual IVF-PQ probe oracle: cells and the query from
    * [[ivfCellCtes]]; residual vectors assembled dim-wise (the exact
    * IEEE subtraction `v[i] − cv[i]` on identical operands); the PQ
    * train/encode block run over the residual relation; and the
    * residual ADC tail — per-codeword query dots (`plut`), per-(cell,
    * sub, codeword) cross terms (`clut`), per-cell query dot and norm²
    * (`cst`), all round-9, summed per row as DECIMAL, final score
    * round((qc + adot) / (sqrt(cn2 + 2·crs + rn2) · qnrm), 6).
    */
  private[queries] lazy val ivfPqResidualProbeSql: String =
    s"""WITH $ivfPqResidualCtes
       |SELECT s.vec_id,
       |       round((t.qc + s.adot) / (sqrt(t.cn2 + 2*s.crs + s.rn2) * cqr.qnrm), 6) AS sim
       |FROM psc s
       |JOIN cst t ON t.cell = s.cell
       |JOIN cprobe p ON s.cell = p.cell, cqr
       |WHERE s.vec_id <> 0 AND (t.cn2 + 2*s.crs + s.rn2) > 0
       |ORDER BY sim DESC, s.vec_id LIMIT 5""".stripMargin

  /** q160: q157's residual-ADC ranking widened to the top-40 candidate
    * cut, then the exact float re-rank tier (q121's shape) over only
    * those ids.
    */
  private[queries] lazy val ivfPqResidualTwoTierSql: String =
    s"""WITH $ivfPqResidualCtes,
       |rcut AS (
       |  SELECT s.vec_id
       |  FROM psc s
       |  JOIN cst t ON t.cell = s.cell
       |  JOIN cprobe p ON s.cell = p.cell, cqr
       |  WHERE s.vec_id <> 0 AND (t.cn2 + 2*s.crs + s.rn2) > 0
       |  ORDER BY round((t.qc + s.adot) / (sqrt(t.cn2 + 2*s.crs + s.rn2) * cqr.qnrm), 6) DESC,
       |           s.vec_id
       |  LIMIT 40)
       |SELECT en.vec_id,
       |       round(list_dot_product(en.v, cqr.qv) / (en.nrm * cqr.qnrm), 6) AS sim
       |FROM en JOIN rcut USING (vec_id), cqr
       |WHERE list_dot_product(en.v, en.v) > 0
       |ORDER BY sim DESC, en.vec_id LIMIT 10""".stripMargin

  private[queries] lazy val ivfPqResidualCtes: String =
    s"""$kmeansCtes,
       |cqr AS (SELECT v AS qv, nrm AS qnrm FROM en WHERE vec_id = 0),
       |cprobe AS (
       |  SELECT cid AS cell FROM c1n, cqr
       |  ORDER BY round(list_dot_product(cv, qv) / (cnrm * qnrm), 6) DESC, cid
       |  LIMIT 2),
       |rd AS (SELECT en.vec_id, g.i - 1 AS dim, en.v[g.i] - c.cv[g.i] AS val
       |       FROM en JOIN a2 a ON a.vec_id = en.vec_id
       |            JOIN c1n c ON c.cid = a.cell,
       |            UNNEST(generate_series(1, len(en.v))) AS g(i)),
       |rv AS (SELECT vec_id, list(val ORDER BY dim) AS v FROM rd GROUP BY 1),
       |${pqSvCtes("rv")},
       |${pqTrainEncodeCtes("")},
       |qsub AS (SELECT s.s AS sub, list_slice(cqr.qv, s.s*16 + 1, s.s*16 + 16) AS qsv
       |         FROM cqr, UNNEST(generate_series(0, 3)) AS s(s)),
       |plut AS (SELECT cb.sub, cb.cid,
       |                round(list_dot_product(q.qsv, cb.cv), 9) AS lutv,
       |                round(list_dot_product(cb.cv, cb.cv), 9) AS cvn2
       |         FROM cb JOIN qsub q ON q.sub = cb.sub),
       |csv AS (SELECT c.cid AS cell, s.s AS sub,
       |               list_slice(c.cv, s.s*16 + 1, s.s*16 + 16) AS csv
       |        FROM c1n c, UNNEST(generate_series(0, 3)) AS s(s)),
       |clut AS (SELECT csv.cell, csv.sub, cb.cid,
       |                round(list_dot_product(csv.csv, cb.cv), 9) AS ccv
       |         FROM csv JOIN cb ON cb.sub = csv.sub),
       |cst AS (SELECT c.cid AS cell,
       |               round(list_dot_product(c.cv, cqr.qv), 9) AS qc,
       |               round(list_dot_product(c.cv, c.cv), 9) AS cn2
       |        FROM c1n c, cqr),
       |psc AS (SELECT a.vec_id, any_value(ca.cell) AS cell,
       |               CAST(sum(CAST(l.lutv AS DECIMAL(28,12))) AS DOUBLE) AS adot,
       |               CAST(sum(CAST(l.cvn2 AS DECIMAL(28,12))) AS DOUBLE) AS rn2,
       |               CAST(sum(CAST(cl.ccv AS DECIMAL(28,12))) AS DOUBLE) AS crs
       |        FROM pqa a
       |        JOIN a2 ca ON ca.vec_id = a.vec_id
       |        JOIN plut l ON l.sub = a.sub AND l.cid = a.code
       |        JOIN clut cl ON cl.cell = ca.cell AND cl.sub = a.sub AND cl.cid = a.code
       |        GROUP BY a.vec_id)""".stripMargin

  /** q82's one-Lloyd-round k-means as a CTE block ending in
    * `a2(vec_id, cell, sim)` — reused verbatim by the q115 SemDeDup
    * oracle so the clustering stage of both oracles is literally the
    * same SQL.
    */
  private[queries] lazy val kmeansCtes: String =
    s"""$embCte,
       |en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |c0 AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM en WHERE vec_id < 8),
       |a1 AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT en.vec_id, c0.cid,
       |           row_number() OVER (PARTITION BY en.vec_id
       |             ORDER BY round(list_dot_product(en.v, c0.cv) / (en.nrm * c0.cnrm), 6) DESC,
       |                      c0.cid) AS rn
       |    FROM en, c0)
       |  WHERE rn = 1),
       |d1 AS (
       |  SELECT a1.cell, g.i - 1 AS dim, en.v[g.i] AS val
       |  FROM en JOIN a1 USING (vec_id),
       |       UNNEST(generate_series(1, len(en.v))) AS g(i)),
       |m1 AS (
       |  SELECT cell, dim,
       |         round(CAST(sum(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS m
       |  FROM d1 GROUP BY 1, 2),
       |c1 AS (
       |  SELECT cell AS cid, list(m ORDER BY dim) AS cv FROM m1 GROUP BY 1),
       |c1n AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM c1),
       |a2 AS (
       |  SELECT vec_id, cid AS cell, sim FROM (
       |    SELECT en.vec_id, c1n.cid,
       |           round(list_dot_product(en.v, c1n.cv) / (en.nrm * c1n.cnrm), 6) AS sim,
       |           row_number() OVER (PARTITION BY en.vec_id
       |             ORDER BY round(list_dot_product(en.v, c1n.cv) / (en.nrm * c1n.cnrm), 6) DESC,
       |                      c1n.cid) AS rn
       |    FROM en, c1n)
       |  WHERE rn = 1)""".stripMargin

  /** The gate's per-doc SIGNAL CTEs (quality, language, repetition,
    * contamination — everything except the exact-dup keeper leg),
    * ending in `cont(doc_id)`. Shared by [[curationGateCtes]] (which
    * adds the corpus-min keeper) and the streaming crawl→curate oracle
    * (q203 — whose exact-dup leg is first-seen-wins per micro-batch,
    * so the keeper SQL differs while every signal is identical).
    */
  private[queries] lazy val gateSignalCtes: String =
    s"""$tokensCte,
       |sig AS (
       |  SELECT d.doc_id,
       |         (CAST(len(list_filter(w.w, x -> x IN ($stopList))) AS DOUBLE)
       |            / CAST(len(w.w) AS DOUBLE)) * 0.5
       |           + least(CAST(len(w.w) AS DOUBLE) / 100.0, 1.0) * 0.5 AS quality,
       |         len(list_filter(w.w, x -> x IN ('der','die','und'))) AS c_de,
       |         len(list_filter(w.w, x -> x IN ('the','and','of'))) AS c_en,
       |         len(list_filter(w.w, x -> x IN ('el','la','los'))) AS c_es,
       |         len(list_filter(w.w, x -> x IN ('le','la','et'))) AS c_fr
       |  FROM documents d JOIN w ON d.doc_id = w.doc_id),
       |lang AS (
       |  SELECT doc_id,
       |         CASE WHEN greatest(c_de, c_en, c_es, c_fr) = 0 THEN 'und'
       |              WHEN c_de = greatest(c_de, c_en, c_es, c_fr) THEN 'de'
       |              WHEN c_en = greatest(c_de, c_en, c_es, c_fr) THEN 'en'
       |              WHEN c_es = greatest(c_de, c_en, c_es, c_fr) THEN 'es'
       |              ELSE 'fr' END AS lang_pred, quality
       |  FROM sig),
       |tok AS (SELECT doc_id, u.t AS t FROM w, UNNEST(w.w) AS u(t)),
       |rep AS (SELECT doc_id,
       |               CAST(count(*) - count(DISTINCT t) AS DOUBLE)
       |                 / CAST(count(*) AS DOUBLE) AS dup_token_frac
       |        FROM tok GROUP BY 1),
       |sh5 AS (SELECT DISTINCT doc_id,
       |               w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4] AS sh
       |        FROM w, UNNEST(generate_series(1, greatest(len(w)-4, 0))) AS g(i)
       |        WHERE len(w) >= 5),
       |cont AS (
       |  SELECT DISTINCT c.doc_id
       |  FROM (SELECT * FROM sh5 WHERE doc_id % 20 <> 7) c
       |  JOIN (SELECT * FROM sh5 WHERE doc_id % 20 = 7) b ON c.sh = b.sh
       |  GROUP BY c.doc_id, b.doc_id HAVING count(*) >= 3)""".stripMargin

  /** The q84 gate as a CTE block ending in
    * `gate(doc_id, quality, dup_token_frac)` — reused verbatim by the
    * q114 end-to-end pipeline oracle so the gate stage of both oracles
    * is literally the same SQL.
    */
  private[queries] lazy val curationGateCtes: String =
    s"""$gateSignalCtes,
       |keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |gate AS (
       |  SELECT l.doc_id, round(l.quality, 6) AS quality,
       |         round(r.dup_token_frac, 6) AS dup_token_frac
       |  FROM lang l
       |  JOIN rep r ON r.doc_id = l.doc_id
       |  WHERE l.doc_id % 20 <> 7
       |    AND l.doc_id IN (SELECT doc_id FROM keep)
       |    AND l.doc_id NOT IN (SELECT doc_id FROM cont)
       |    AND l.lang_pred = 'en'
       |    AND l.quality >= 0.3
       |    AND r.dup_token_frac <= 0.6)""".stripMargin
}
