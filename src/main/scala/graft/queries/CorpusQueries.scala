package graft.queries

import graft.ops.{BloomPrune, Chunking, Decontamination, Dedup, LanguageModel, NaiveBayes, Outliers, PageRank, Retrieval, Sampling, Similarity, Sketches, TextAnalysis}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Round-6 corpus/engine surface: exact n-gram Jaccard dedup, bloom-
  * filter join pruning (native codegen probe), count-min heavy hitters
  * under an epsilon contract, BM25 retrieval ranking, median/MAD robust
  * outlier detection, and fixed-iteration PageRank over the similarity
  * graph — each with a DuckDB oracle.
  *
  * Determinism rules are those of [[RefQueries]]/[[ExtQueries]]: shared
  * column names, total ORDER BY, DECIMAL for order-sensitive float sums,
  * round(×, n) at every cross-engine float comparison point, md5 as the
  * only hash.
  */
object CorpusQueries {

  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private def decSum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  // ---------------------------------------------------------------- queries

  /** EXACT n-gram Jaccard near-dup pairs ([[Dedup.jaccardNearDup]]):
    * the inverted-shingle-index complement of q21's MinHash — same
    * contract (3-shingles, Jaccard ≥ 0.5) but the complete pair set,
    * not LSH candidates. The judged shape runs WITH the stop-shingle
    * cap active (df ≤ 1000 — the 100 TB lever that bounds posting-list
    * quadratic blowup); the oracle replays the same cap. At every test
    * scale max df is 25, so the cap shapes the plan without binding —
    * on a Zipf web corpus it is what keeps the join sub-quadratic.
    */
  private val q92: Q = (s, dir) =>
    PinnedExec.withDerivedParts(s, s"$dir/documents.parquet") {
      Dedup.jaccardNearDup(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.5, shingleK = 3, maxShingleDf = 1000)
        .orderBy("id_a", "id_b")
    }

  /** Bloom-pruned semi join ([[BloomPrune.semiJoin]] over the native
    * [[graft.functions.BloomContains]] probe): orders of BUILDING-
    * segment customers. The bloom probe prunes the fact side inside its
    * scan's codegen span BEFORE any join machinery; the exact semi join
    * removes false positives, so the result is bit-identical to the
    * plain semi join the oracle runs.
    */
  private val q93: Q = (s, dir) => {
    val keys = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    BloomPrune.semiJoin(t(s, dir, "orders"), "o_custkey", keys, "c_custkey")
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("sum_price"))
      .orderBy("status")
  }

  /** Count-min-sketch heavy hitters ([[Sketches.cmsHeavyHitters]])
    * under the q56-style epsilon contract: the exact top-20 terms (the
    * oracle-checkable part) each carry `within_bound` = exact ≤ estimate
    * ≤ exact + ⌈ε·N⌉ verified against the distributed sketch; the
    * oracle recomputes the exact counts and emits literal TRUE. A
    * drifting sketch, a broken merge, or a bound violation all break
    * the hash. Confidence carries the UNION-BOUND budget for the k = 20
    * judged items (per-item δ = 5·10⁻⁶ ⇒ P(any of 20 exceeding ε·N)
    * ≤ 10⁻⁴): the per-item bound holds only with probability
    * `confidence`, so at the old 0.999 a legitimate sketch had ~2%
    * odds of one judged item exceeding the bound — an intermittent
    * hash flake by construction, not a bug. The deeper sketch
    * (depth ⌈log₂(1/δ)⌉ = 18 rows vs 10) is still well under a MB.
    */
  private val q94: Q = (s, dir) =>
    Sketches.cmsHeavyHitters(
        TextAnalysis.tokenTable(t(s, dir, "documents"), "doc_id", "text")
          .select(col("tok")),
        "tok", k = 20, eps = 0.001, confidence = 1.0 - 5e-6, seed = 42)
      .orderBy(col("exact_n").desc, col("term"))

  /** BM25 top-20 ([[Retrieval.bm25TopK]]) for a fixed 3-term query —
    * the retrieval-ranking step over the corpus. Contributions are
    * rounded doubles summed as DECIMAL (order-invariant); the oracle
    * replays the formula with identical literals and association.
    */
  private val q95: Q = (s, dir) =>
    Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        query = Seq("vector", "stream", "window"), k = 20)
      .orderBy(col("score").desc, col("doc_id"))

  /** Hybrid retrieval ([[Retrieval.hybridTopK]]): q95's BM25 top-20 ∪
    * q26's dense cosine top-20 (around vec_id 0), fused by reciprocal
    * rank (k=60) — the standard no-calibration sparse+dense first-stage
    * retriever. Corpus cost is one BM25 pass + one dense pass (both
    * judged shapes); the fusion runs over ≤ 40 pooled rows.
    */
  private val q127: Q = (s, dir) =>
    Retrieval.hybridTopK(t(s, dir, "documents"), "doc_id", "text",
      t(s, dir, "embeddings"), "vec_id", "embedding",
      query = bm25Terms, queryId = 0L, k = 10, poolK = 20, kRrf = 60)

  /** Corpus-trained bigram LM scoring ([[LanguageModel.bigramNll]]):
    * per-document mean negative log-likelihood under an add-one bigram
    * model trained on the corpus itself — the perplexity-style quality
    * filter (CCNet lineage) next to q108's within-document entropy
    * proxy. Contributions rounded to 9 and summed as DECIMAL (the BM25
    * discipline), mean rounded to 6.
    */
  private val q131: Q = (s, dir) =>
    LanguageModel.bigramNll(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** q190: the bigram-LM gate's COUNT STORE ([[LanguageModel
    * .writeCountBatch]] / [[LanguageModel.scoreFromCounts]]) — the
    * [[graft.ops.NaiveBayes]] count-delta LSM applied to the
    * generative model (bigram counts are additive sufficient
    * statistics exactly like NB's): the corpus arrives as three
    * batches, a mid-loop compaction folds the first two, a
    * post-compaction RETRY of a folded batch must be a no-op (the
    * [[graft.ops.CountLsm.foldedBids]] ledger), and the full corpus is
    * scored from the summed counts. Oracle = q131's VERBATIM: batch
    * decomposition, compaction, and retries cannot change a score.
    */
  private val lmCountStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(lmCountStores)
  private val q190: Q = (s, dir) => {
    val path = lmCountStores.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_lm_counts_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      val docs = t(s, dir, "documents")
      LanguageModel.writeCountBatch(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", p, "b0")
      LanguageModel.writeCountBatch(
        docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", p, "b1")
      LanguageModel.compactCountModel(s, p)
      // the q184 window, for the LM: a crash-retry of an already-folded
      // batch interleaved with the compaction — must not double-count
      LanguageModel.writeCountBatch(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", p, "b0")
      LanguageModel.writeCountBatch(
        docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", p, "b2")
      p
    })
    LanguageModel.scoreFromCounts(s, path, t(s, dir, "documents"),
        "doc_id", "text")
      .orderBy("doc_id")
  }

  /** q191: UNLEARN a corpus batch from the LM count store
    * ([[LanguageModel.deleteCountBatch]]) — the q181 law for the
    * generative gate: a takedown batch's counts appended negated leave
    * the summed model EQUAL to one trained without the batch,
    * vocabulary and history shrinkage included. The oracle retrains
    * from scratch on the survivors (q131's SQL restricted to the
    * surviving slice): unlearn ≡ retrain-without.
    */
  private val lmUnlearnStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(lmUnlearnStores)
  private val q191: Q = (s, dir) => {
    val path = lmUnlearnStores.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_lm_unlearn_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      val docs = t(s, dir, "documents")
      LanguageModel.writeCountBatch(
        docs.filter(col("doc_id") % 4 =!= 3), "doc_id", "text", p, "keep")
      LanguageModel.writeCountBatch(
        docs.filter(col("doc_id") % 4 === 3), "doc_id", "text", p, "takedown")
      LanguageModel.deleteCountBatch(
        docs.filter(col("doc_id") % 4 === 3), "doc_id", "text", p,
        "del-takedown")
      p
    })
    LanguageModel.scoreFromCounts(s, path,
        t(s, dir, "documents").filter(col("doc_id") % 4 =!= 3),
        "doc_id", "text")
      .orderBy("doc_id")
  }

  /** q209: SNAPSHOT-PINNED serving for the LM count store
    * ([[LanguageModel.snapshotCountModel]] / [[LanguageModel
    * .scoreAtSnapshot]]) — the reproducibility law the delta-LSM
    * lifecycle was still missing: a training run pins the batch set
    * its gate decisions were served from, and replays them BIT-EXACTLY
    * after later ingest AND a compaction that folded (and retired) the
    * pinned batches. Scenario: b0+b1 ingested → snapshot `s1` → b2
    * ingested → compaction folds all three (retiring their delta
    * partitions). The judged relation serves the full corpus from BOTH
    * models: `live` (all batches — q190's law, where counts live
    * cannot change a score) and `snap` (s1's manifest, assembled from
    * compaction-retired deltas). The oracle retrains each model from
    * its slice: live = the self-trained corpus model, snap = the
    * b0∪b1-trained model scoring everything held-out-style (b2's
    * unseen bigrams land at the Laplace floor). Vacuum semantics
    * (retention while pinned, loud failure after) are spec'd in
    * `CountSnapshotSpec` — a batch oracle cannot express an error.
    */
  private val lmSnapshotStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(lmSnapshotStores)
  private val q209: Q = (s, dir) => {
    val path = lmSnapshotStores.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_lm_snap_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      val docs = t(s, dir, "documents")
      LanguageModel.writeCountBatch(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", p, "b0")
      LanguageModel.writeCountBatch(
        docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", p, "b1")
      LanguageModel.snapshotCountModel(s, p, "s1")
      LanguageModel.writeCountBatch(
        docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", p, "b2")
      LanguageModel.compactCountModel(s, p)
      p
    })
    val docs = t(s, dir, "documents")
    LanguageModel.scoreFromCounts(s, path, docs, "doc_id", "text")
      .select(lit("live").as("serving"), col("doc_id"),
        col("n_bigrams"), col("nll"))
      .unionByName(
        LanguageModel.scoreAtSnapshot(s, path, "s1", docs, "doc_id", "text")
          .select(lit("snap").as("serving"), col("doc_id"),
            col("n_bigrams"), col("nll")))
      .orderBy("serving", "doc_id")
  }

  /** Held-out scoring against a STORED bigram model
    * ([[LanguageModel.writeModel]] / [[LanguageModel.scoreAgainst]]):
    * the model is trained once on the doc_id % 4 ≠ 3 slice and
    * persisted (cb/c1/vocab tables); the % 4 = 3 slice is scored
    * against the FROZEN counts — the production quality gate, where
    * unseen bigrams/histories land at the Laplace floor and V is fixed
    * at training time. The oracle recomputes the same frozen counts
    * from the train slice and left-joins the held-out bigrams. Model
    * built once per (pid, dir) — benched iterations measure SCORING,
    * which is the gate's steady-state cost.
    */
  private val lmModels =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(lmModels)
  private val q135: Q = (s, dir) => {
    val path = lmModels.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_lm_model_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      LanguageModel.writeModel(
        t(s, dir, "documents").filter(col("doc_id") % 4 =!= 3),
        "doc_id", "text", p)
      p
    })
    LanguageModel.scoreAgainst(s, path,
        t(s, dir, "documents").filter(col("doc_id") % 4 === 3),
        "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Multinomial Naive Bayes classification
    * ([[graft.ops.NaiveBayes]]) — the TRAINED quality/domain classifier
    * of the fasttext-filter lineage, the supervised member of the
    * curation family (q23's heuristics and q131's generative LM are
    * the unsupervised ones): per-label token log-likelihoods with
    * add-one smoothing learned on the doc_id % 4 ≠ 3 slice (label =
    * `lang`), the held-out quarter scored and argmax-classified.
    * OOV/label-unseen tokens land at the per-label Laplace floor — no
    * token is ever dropped. Contributions round to 9 and sum as
    * DECIMAL (the BM25 discipline), scores round to 6, ties break by
    * label ascending — the oracle replays priors, likelihoods, floors
    * and the argmax bit-exactly.
    */
  private val q173: Q = (s, dir) =>
    PinnedExec.withDerivedParts(s, s"$dir/documents.parquet") {
      val docs = t(s, dir, "documents")
      val model = NaiveBayes.trainModel(
        docs.filter(col("doc_id") % 4 =!= 3), "doc_id", "text", "lang")
      NaiveBayes.classify(docs.filter(col("doc_id") % 4 === 3),
          "doc_id", "text", model)
        .orderBy("doc_id")
    }

  /** q173 against the model AT REST ([[graft.ops.NaiveBayes
    * .writeModel]] / [[graft.ops.NaiveBayes.readModel]]): the classifier
    * trained once, persisted as `priors/` + `lik/`, every later batch
    * scored against the FROZEN counts — the production gate, where a
    * document's class cannot depend on what arrived after it. Judged
    * against q173's oracle VERBATIM: where the counts live cannot
    * change a posterior. Model built once per (pid, dir); benched
    * iterations measure scoring, the gate's steady-state cost.
    */
  private val nbModels =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(nbModels)
  private val q174: Q = (s, dir) => {
    val path = nbModels.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_nb_model_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      NaiveBayes.writeModel(
        NaiveBayes.trainModel(
          t(s, dir, "documents").filter(col("doc_id") % 4 =!= 3),
          "doc_id", "text", "lang"),
        p)
      p
    })
    NaiveBayes.classify(
        t(s, dir, "documents").filter(col("doc_id") % 4 === 3),
        "doc_id", "text", NaiveBayes.readModel(s, path))
      .orderBy("doc_id")
  }

  /** INCREMENTAL Naive Bayes — the classifier's count store as an LSM
    * ([[graft.ops.NaiveBayes.writeCountBatch]] /
    * [[graft.ops.NaiveBayes.readCountModel]] /
    * [[graft.ops.NaiveBayes.compactCountModel]]): because NB's
    * sufficient statistics are ADDITIVE counts, new labeled batches
    * fold into the at-rest model as per-batch delta partitions (what
    * q174's frozen likelihood table cannot do — every ll(y,t) moves
    * when n_tok(y) or V moves, counts just add). The training slice
    * arrives as three batches with a mid-loop OPTIMIZE and a retried
    * (idempotent — partition overwrite) append; the held-out quarter
    * is classified from the summed store. Judged against q173's
    * oracle VERBATIM: the batch decomposition, the compaction, and the
    * retry cannot change a posterior.
    */
  private val nbCountModels =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(nbCountModels)
  private val q178: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val path = nbCountModels.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_nb_counts_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      def batch(k: Int): org.apache.spark.sql.DataFrame =
        docs.filter(col("doc_id") % 4 === k)
      NaiveBayes.writeCountBatch(batch(0), "doc_id", "text", "lang", p, "b0")
      NaiveBayes.writeCountBatch(batch(1), "doc_id", "text", "lang", p, "b1")
      NaiveBayes.compactCountModel(s, p)
      NaiveBayes.writeCountBatch(batch(2), "doc_id", "text", "lang", p, "b2")
      // a crash-retry re-ships the same batch: same bid partition, no-op
      NaiveBayes.writeCountBatch(batch(2), "doc_id", "text", "lang", p, "b2")
      p
    })
    NaiveBayes.classify(docs.filter(col("doc_id") % 4 === 3),
        "doc_id", "text", NaiveBayes.readCountModel(s, path))
      .orderBy("doc_id")
  }

  /** q213: SNAPSHOT-PINNED serving for the NB count store — q209's
    * reproducibility law on the classifier twin, proving [[graft.ops
    * .CountLsm]]'s snapshot machinery store-agnostic at the judged
    * level (only the commit-marker sub differs: `lab` here, `tc` for
    * the LM). Scenario: b0+b1 ingested → snapshot `s1` → b2 ingested →
    * compaction folds and RETIRES all three. The held-out slice is
    * classified under BOTH models: `live` (all batches — q178's law)
    * and `snap` (s1's manifest, assembled from retired deltas). Each
    * oracle retrains from its slice: a label decision must not depend
    * on batches that arrived after the pin, nor on where the counts
    * live.
    */
  private val nbSnapshotStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(nbSnapshotStores)
  private val q213: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val path = nbSnapshotStores.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_nb_snap_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      def batch(k: Int): org.apache.spark.sql.DataFrame =
        docs.filter(col("doc_id") % 4 === k)
      NaiveBayes.writeCountBatch(batch(0), "doc_id", "text", "lang", p, "b0")
      NaiveBayes.writeCountBatch(batch(1), "doc_id", "text", "lang", p, "b1")
      NaiveBayes.snapshotCountModel(s, p, "s1")
      NaiveBayes.writeCountBatch(batch(2), "doc_id", "text", "lang", p, "b2")
      NaiveBayes.compactCountModel(s, p)
      p
    })
    val held = docs.filter(col("doc_id") % 4 === 3)
    NaiveBayes.classify(held, "doc_id", "text",
        NaiveBayes.readCountModel(s, path))
      .select(lit("live").as("serving"), col("doc_id"),
        col("pred_label"), col("score"))
      .unionByName(
        NaiveBayes.classify(held, "doc_id", "text",
            NaiveBayes.readCountModelAt(s, path, "s1"))
          .select(lit("snap").as("serving"), col("doc_id"),
            col("pred_label"), col("score")))
      .orderBy("serving", "doc_id")
  }

  /** Character-bigram Naive Bayes — the TRAINED language identifier
    * (q186): the q173 posterior algebra over a different FEATURE
    * FAMILY (lowercased character bigrams WITH multiplicity — the
    * multinomial event model wants occurrence counts, where
    * [[graft.ops.TextAnalysis.charBigrams]]' per-row distinct set
    * feeds the q24b heuristic), exercising [[graft.ops.NaiveBayes]]'s
    * pluggable extractor: the model is feature-agnostic, and
    * train/classify share the extractor as part of the frozen
    * contract. Char-level features make the occurrence relation ~6×
    * the word relation, so the model is trained once and served
    * frozen (measured: fused retrain-per-call 8.5 s, stored-model
    * scoring 2.4 s steady state at sf0.1). The oracle is the SAME
    * classification SQL with the tokenizer CTE swapped for the
    * char-bigram CTE.
    */
  private def charBigramFeats(c: org.apache.spark.sql.Column) = {
    val tl = lower(c)
    when(length(tl) >= 2,
      transform(sequence(lit(1), length(tl) - 1), i => tl.substr(i, lit(2))))
      .otherwise(array().cast("array<string>"))
  }
  // the char-bigram occurrence relation is ~6x the word relation, so
  // unlike q173 (which deliberately judges the fused train+classify
  // plan) this trains ONCE per (pid, dir) and persists — benched
  // iterations measure scoring, the gate's steady-state cost
  private val nbCharModels =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(nbCharModels)
  private val q186: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val path = nbCharModels.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_nb_char_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      NaiveBayes.writeModel(
        NaiveBayes.trainModel(docs.filter(col("doc_id") % 4 =!= 3),
          "doc_id", "text", "lang", charBigramFeats),
        p)
      p
    })
    NaiveBayes.classify(docs.filter(col("doc_id") % 4 === 3),
        "doc_id", "text", NaiveBayes.readModel(s, path), charBigramFeats)
      .orderBy("doc_id")
  }

  /** UNLEARNING for the classifier ([[graft.ops.NaiveBayes
    * .deleteCountBatch]]) — the take-down/opt-out eviction every other
    * index family already judges (q166–q171), asked of the MODEL: the
    * full training slice is ingested, then the doc_id % 4 = 2 batch is
    * unlearned by appending its NEGATED counts — and the posterior
    * must equal a model that never saw that batch, vocabulary
    * shrinkage included. The oracle trains on doc_id % 4 IN (0, 1)
    * from scratch: deleted labeled data must be indistinguishable from
    * data never ingested.
    */
  private val nbUnlearnModels =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(nbUnlearnModels)
  private val q181: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val path = nbUnlearnModels.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_nb_unlearn_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      def batch(k: Int): org.apache.spark.sql.DataFrame =
        docs.filter(col("doc_id") % 4 === k)
      NaiveBayes.writeCountBatch(batch(0), "doc_id", "text", "lang", p, "b0")
      NaiveBayes.writeCountBatch(batch(1), "doc_id", "text", "lang", p, "b1")
      NaiveBayes.writeCountBatch(batch(2), "doc_id", "text", "lang", p, "b2")
      NaiveBayes.deleteCountBatch(batch(2), "doc_id", "text", "lang", p,
        "del-b2")
      p
    })
    NaiveBayes.classify(docs.filter(col("doc_id") % 4 === 3),
        "doc_id", "text", NaiveBayes.readCountModel(s, path))
      .orderBy("doc_id")
  }

  /** BPE subword training ([[graft.ops.Bpe]]) — the canonical LLM-data
    * tokenizer op: 10 merges trained on the corpus's WORD-FREQUENCY
    * table (the standard trainer trick — one corpus scan aggregates
    * (word, freq); every round after is |vocab|-sized: one pair-count
    * aggregate, a 1-row argmax fetch, one positional rewrite), then
    * stored at rest (merge table + final symbolized words — the q135
    * model-at-rest convention). q161 judges the learned merge table
    * (rank, pair, frequency — tie-breaks and greedy non-overlap
    * pinned cross-engine); q162 the per-document token counts under
    * the trained tokenization (one corpus scan + one narrow join).
    * The oracle replays all 10 rounds relationally — same pair
    * counting, same (count desc, lhs, rhs) argmax, same
    * even-offset-within-run greedy rule, exact long sums throughout.
    */
  private val bpeModels =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(bpeModels)
  private def bpeModelPath(s: SparkSession, dir: String): String =
    bpeModels.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_bpe_model_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      val (merges, fin) = graft.ops.Bpe.train(
        graft.ops.Bpe.wordTable(t(s, dir, "documents"), "doc_id", "text"),
        numMerges = 10)
      graft.ops.Bpe.mergeTable(s, merges).coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$p/merges")
      fin.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$p/words")
      p
    })
  private val q161: Q = (s, dir) =>
    s.read.parquet(s"${bpeModelPath(s, dir)}/merges").orderBy("merge_rank")
  private val q162: Q = (s, dir) =>
    graft.ops.Bpe.docTokenCounts(t(s, dir, "documents"), "doc_id", "text",
        s.read.parquet(s"${bpeModelPath(s, dir)}/words"))
      .orderBy("doc_id")

  /** The ENCODE half of the tokenizer ([[graft.ops.Bpe.encode]]) —
    * deployment under a FROZEN tokenizer: 10 merges trained on the
    * doc_id % 4 ≠ 3 split only (the q135 held-out convention), the
    * merge table stored at rest, then the held-out quarter tokenized
    * by APPLYING the stored merges to its own word table (words
    * training never saw split to characters and merge in rank order —
    * the path [[graft.ops.Bpe.docTokenCounts]]'s trained-word join
    * cannot cover). Judged per document; the oracle replays the
    * 10-round training unroll on the train split AND the 10-round
    * rank-order application to the held-out vocabulary, operator for
    * operator.
    */
  private val bpeSplitModels =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(bpeSplitModels)
  private val q165: Q = (s, dir) => {
    // the measured body (encode: one checkpointed rewrite per stored
    // merge rank) is eager — pin it like the other contract operators
    val path = bpeSplitModels.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_bpe_split_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      val (merges, _) = graft.ops.Bpe.train(
        graft.ops.Bpe.wordTable(
          t(s, dir, "documents").filter(col("doc_id") % 4 =!= 3),
          "doc_id", "text"),
        numMerges = 10)
      graft.ops.Bpe.mergeTable(s, merges).coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$p/merges")
      p
    })
    PinnedExec.withDerivedParts(s, s"$dir/documents.parquet") {
      graft.ops.Bpe.docTokenCountsEncoded(
          t(s, dir, "documents").filter(col("doc_id") % 4 === 3),
          "doc_id", "text", s.read.parquet(s"$path/merges"))
        .orderBy("doc_id")
    }
  }

  /** The full-corpus [[Dedup.ShingleIndex]] AT REST, built once per
    * (pid, dir) — shared by q143/q144, the at-rest counterparts of the
    * q106/q111 from-text detectors.
    */
  private val storedShingleIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(storedShingleIndexes)
  private def storedIndexPath(s: SparkSession, dir: String): String =
    storedShingleIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_shingle_ix_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      Dedup.writeStoredIndex(
        Dedup.buildShingleIndex(t(s, dir, "documents"), "doc_id", "text",
          shingleK = 3),
        "doc_id", p)
      p
    })

  /** Containment detection against the STORED shingle index
    * ([[Dedup.containmentFromIndex]] over [[Dedup.readStoredIndex]]):
    * q106's quote/subset detector with postings, set sizes, AND the
    * stop-shingle document frequencies all read from the at-rest
    * relations — document text is never touched, so the production
    * crawl loop can run (and re-run, e.g. after a threshold change)
    * the detector off the index alone. Judged against q106's oracle
    * VERBATIM: where the index lives cannot change a containment
    * score.
    */
  private val q143: Q = (s, dir) => {
    val path = storedIndexPath(s, dir)
    PinnedExec.withDerivedParts(s, path) {
      Dedup.containmentFromIndex(
          Dedup.readStoredIndex(s, "doc_id", path),
          "doc_id", threshold = 0.6, maxShingleDf = 1000)
        .orderBy("id_a", "id_b")
    }
  }

  /** DELETE from the stored shingle index ([[Dedup
    * .deleteFromStoredIndex]]) — the eviction half of the dedup-index
    * lifecycle (q140/q143/q144 build, probe, and resolve keep-best
    * against the store; this is how the LOSERS actually leave it).
    * Both regimes on one index, the q166 shape: docs ≡ 3 (mod 14)
    * deleted then PURGED ([[Dedup.purgeStoredIndex]] — postings/sizes
    * physically rewritten, dfs recomputed exactly, tombstones
    * cleared); docs ≡ 10 (mod 14) deleted AFTER the purge and served
    * under the tombstone MASK (postings still on disk, anti-joined at
    * read; their negative df deltas summed). Judged output: the full
    * Jaccard near-dup relation computed FROM the surviving index —
    * the oracle is q92's from-text pair SQL over `documents WHERE
    * doc_id % 7 <> 3`: a deleted document must be indistinguishable
    * from one never shingled, in pairs, set sizes, AND the
    * stop-shingle document frequencies.
    */
  private val deletedShingleIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(deletedShingleIndexes)
  private val q167: Q = (s, dir) => {
    val path = deletedShingleIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_shingle_del_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      val docs = t(s, dir, "documents")
      Dedup.writeStoredIndex(
        Dedup.buildShingleIndex(docs, "doc_id", "text", shingleK = 3),
        "doc_id", p)
      Dedup.deleteFromStoredIndex(
        docs.filter(col("doc_id") % 14 === 3).select(col("doc_id")),
        "doc_id", p)
      Dedup.purgeStoredIndex(s, "doc_id", p)
      Dedup.deleteFromStoredIndex(
        docs.filter(col("doc_id") % 14 === 10).select(col("doc_id")),
        "doc_id", p)
      p
    })
    Dedup.jaccardFromIndex(
        Dedup.readStoredIndex(s, "doc_id", path),
        "doc_id", threshold = 0.5, maxShingleDf = 1000)
      .orderBy("id_a", "id_b")
  }

  /** The BM25 index AT REST ([[Retrieval.writeBm25Index]]), built once
    * per (pid, dir) — the retrieval counterpart of the q140/q143/q144
    * shingle store: the FULL inverted index (every token's postings),
    * document lengths, and the global stats deltas live as parquet; a
    * query reads only its terms' postings. q152 judges serving from it
    * against q95's oracle VERBATIM (where the statistics live cannot
    * change a ranking); q153 the ingest replay (half written, half
    * appended — three pure partition appends including the stats delta
    * row, and since BM25 serving has no quantizer to freeze,
    * append-built ≡ write-built on the union corpus exactly, same
    * oracle).
    */
  private val bm25Indexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(bm25Indexes)
  private def bm25IndexPath(s: SparkSession, dir: String): String =
    bm25Indexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_bm25_ix_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      Retrieval.writeBm25Index(t(s, dir, "documents"), "doc_id", "text", p)
      p
    })
  private val q152: Q = (s, dir) =>
    Retrieval.bm25FromIndex(s, bm25IndexPath(s, dir), "doc_id",
        query = Seq("vector", "stream", "window"), k = 20)
      .orderBy(col("score").desc, col("doc_id"))

  private val bm25IngestIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(bm25IngestIndexes)
  private val q153: Q = (s, dir) => {
    val path = bm25IngestIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_bm25_ing_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      val docs = t(s, dir, "documents")
      Retrieval.writeBm25Index(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", p)
      Retrieval.appendToBm25Index(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", p)
      p
    })
    Retrieval.bm25FromIndex(s, path, "doc_id",
        query = Seq("vector", "stream", "window"), k = 20)
      .orderBy(col("score").desc, col("doc_id"))
  }

  /** The TERM-BUCKETED BM25 index ([[Retrieval.writeBm25Index]] with
    * `termBuckets = 16`): the postings relation partitioned by the
    * frozen md5 term→bucket map, so the query's 3 terms become a
    * driver-computed `tb IN (...)` PARTITION filter and the serve-time
    * read prunes to the terms' buckets' FILES — q152's layout upgraded
    * from row-group pruning to the file pruning [[graft.ops.AnnIndex]]
    * buckets and [[graft.ops.IvfIndex]] cells already get (the gap
    * `Retrieval`'s scaladoc named). Judged against q95's oracle
    * VERBATIM: a layout cannot change a score; `PlanGuardSpec` pins the
    * PartitionFilters entry. Built once per (pid, dir).
    */
  private val bm25BucketedIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(bm25BucketedIndexes)
  private def bm25BucketedPath(s: SparkSession, dir: String): String =
    bm25BucketedIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_bm25_tb_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      Retrieval.writeBm25Index(t(s, dir, "documents"), "doc_id", "text", p,
        termBuckets = 16)
      p
    })
  private val q154: Q = (s, dir) =>
    Retrieval.bm25FromIndex(s, bm25BucketedPath(s, dir), "doc_id",
        query = Seq("vector", "stream", "window"), k = 20)
      .orderBy(col("score").desc, col("doc_id"))

  /** BM25 index OPTIMIZE ([[Retrieval.compactBm25Index]]): the bucketed
    * index built the way an ingest loop leaves it — half written, two
    * quarter-batches appended, so bucket dirs hold up to 3 files and
    * `stats/` holds 3 delta rows — then compacted (one file per hot
    * bucket, lens rewritten behind a rename-aside swap, stats deltas
    * folded back to ONE row) and probed for q95's exact question.
    * Judged against q95's oracle VERBATIM: ingest, layout, and
    * compaction are each score-invariant by construction
    * (`RetrievalSpec` pins the file-count postconditions and probe
    * equality separately). Built once per (pid, dir).
    */
  private val bm25CompactIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(bm25CompactIndexes)
  private val q155: Q = (s, dir) => {
    val path = bm25CompactIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_bm25_opt_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      val docs = t(s, dir, "documents")
      Retrieval.writeBm25Index(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", p, termBuckets = 16)
      Retrieval.appendToBm25Index(docs.filter(col("doc_id") % 4 === 1),
        "doc_id", "text", p)
      Retrieval.appendToBm25Index(docs.filter(col("doc_id") % 4 === 3),
        "doc_id", "text", p)
      Retrieval.compactBm25Index(s, p, maxFilesPerBucket = 1)
      p
    })
    Retrieval.bm25FromIndex(s, path, "doc_id",
        query = Seq("vector", "stream", "window"), k = 20)
      .orderBy(col("score").desc, col("doc_id"))
  }

  /** DELETE from the BM25 index at rest ([[Retrieval
    * .deleteFromBm25Index]]) — the eviction half of the index
    * lifecycle q152–q155 leave open (a crawl loop that dedups must
    * remove keep-best losers/takedowns from its serving index or they
    * match queries forever). Exercises BOTH delete regimes on the
    * term-bucketed layout: docs ≡ 3 (mod 14) are deleted and then
    * PURGED by OPTIMIZE (tombstoned rows physically rewritten away,
    * stats recomputed exactly from the surviving lens, tombstones
    * cleared); docs ≡ 10 (mod 14) are deleted AFTER the compaction and
    * served under the live tombstone MASK (postings still on disk,
    * anti-joined out; their negative stats delta summed at read).
    * Together the deleted set is exactly doc_id ≡ 3 (mod 7), so the
    * oracle is q95's from-text BM25 over `documents WHERE doc_id % 7
    * <> 3` — a deleted document must be indistinguishable from one
    * never ingested, in scores, rankings, AND global statistics.
    */
  private val bm25DeleteIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(bm25DeleteIndexes)
  private val q166: Q = (s, dir) => {
    val path = bm25DeleteIndexes.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_bm25_del_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      val docs = t(s, dir, "documents")
      Retrieval.writeBm25Index(docs, "doc_id", "text", p, termBuckets = 16)
      Retrieval.deleteFromBm25Index(
        docs.filter(col("doc_id") % 14 === 3).select(col("doc_id")),
        "doc_id", p)
      Retrieval.compactBm25Index(s, p, maxFilesPerBucket = 1)
      Retrieval.deleteFromBm25Index(
        docs.filter(col("doc_id") % 14 === 10).select(col("doc_id")),
        "doc_id", p)
      p
    })
    Retrieval.bm25FromIndex(s, path, "doc_id",
        query = Seq("vector", "stream", "window"), k = 20)
      .orderBy(col("score").desc, col("doc_id"))
  }

  /** Batched BM25 serving ([[Retrieval.bm25BatchFromIndex]]) — the
    * eval-harness shape: three queries (q95's, a second corpus query,
    * and one carrying an absent term) scored from the TERM-BUCKETED
    * stored index in ONE postings read — the union of the batch's
    * terms prunes buckets once, per-term df and the global stats are
    * shared, and the per-query fan-out is a broadcast (query_id, term)
    * join on the already-matched postings. Judged against the UNION of
    * the per-query from-text oracles (each query's ranking must equal
    * its own q95-shaped SQL — batching cannot change a score).
    */
  private val bm25BatchQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("vector", "stream", "window"),
    1L -> Seq("spark", "join", "filter"),
    2L -> Seq("hash", "merge", "zzz_absent_term"))
  private val q163: Q = (s, dir) =>
    Retrieval.bm25BatchFromIndex(s, bm25BucketedPath(s, dir), "doc_id",
        bm25BatchQueries, k = 20)
      .orderBy(col("query_id"), col("score").desc, col("doc_id"))

  /** Keep-best resolution against the STORED shingle index: q111's
    * cluster/keeper relation with the near-dup pairs computed from the
    * at-rest postings/sizes/dfs ([[Dedup.jaccardFromIndex]]) instead
    * of re-shingled text — the periodic maintenance pass (pick one
    * keeper per component) a production corpus runs off its index.
    * Judged against q111's oracle VERBATIM: where the pairs came from
    * cannot change a cluster or a keep decision.
    */
  private val q144: Q = (s, dir) => {
    val path = storedIndexPath(s, dir)
    PinnedExec.withDerivedParts(s, path) {
      val pairs = Dedup.jaccardFromIndex(
          Dedup.readStoredIndex(s, "doc_id", path),
          "doc_id", threshold = 0.5, maxShingleDf = 1000)
        .select(col("id_a"), col("id_b"))
      Dedup.keepBest(t(s, dir, "documents"), "doc_id", pairs, "n_chars")
        .select(col("doc_id"), col("cluster_id"), col("is_keeper"))
        .orderBy("doc_id")
    }
  }

  /** The cached per-(pid, dir) model dirs live under java.io.tmpdir —
    * reclaim them at JVM exit (the [[ExtQueries]] index-cache pattern).
    */
  private def rmTreeAtExit(m: java.util.concurrent.ConcurrentHashMap[String, String]): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      m.values().forEach(p => MicroBatchLoop.rmTree(new java.io.File(p)))))

  /** Robust outlier detection ([[Outliers.robustOutliers]]): events
    * whose value sits > 3 MAD-σ from its event-type median — the
    * data-quality gate. Median/MAD round to 6 before the z computation
    * so both engines run identical IEEE operands (their percentile
    * interpolations differ in ulps).
    */
  private val q96: Q = (s, dir) =>
    Outliers.robustOutliers(RefQueries.events(s, dir), "event_type", "value",
        threshold = 3.0)
      .select(col("event_id"), col("event_type"), col("value"), col("robust_z"))
      .orderBy("event_id")

  /** Fixed-iteration PageRank ([[PageRank.pageRank]], 3 power
    * iterations, damping 0.85) over the embedding near-dup graph (the
    * same pair relation q57/q77 cluster) — graph centrality as a
    * curation weight. The oracle unrolls the same three iterations as
    * chained CTEs with the same rounding/DECIMAL-sum discipline, so
    * every rank must match to 12 decimals.
    */
  private val q97: Q = (s, dir) =>
    PinnedExec.withDerivedParts(s, s"$dir/embeddings.parquet") {
      val pairs = Similarity.nearDupPairs(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.35, numPlanes = 8, dim = ExtQueries.embDim)
      PageRank.pageRank(pairs, iters = 3, damping = 0.85)
        .select(col("id").as("vec_id"), col("rank"))
        .orderBy("vec_id")
    }

  /** Leakage-safe hash split ([[Sampling.hashSplit]], 80/10/10 on
    * md5(doc_id)) summarized per (split, lang): the exact per-cell
    * counts and char sums pin every row's assignment — one flipped
    * document breaks two cells. The oracle replays u(key) = first 24
    * md5 bits / 2²⁴ against the same cumulative bounds.
    */
  private val q98: Q = (s, dir) =>
    Sampling.hashSplit(t(s, dir, "documents"), "doc_id")
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("split", "lang")

  /** q210: deterministic epoch-shuffle shard plan ([[Sampling
    * .epochShardPlan]]) — the curation→training handoff: the corpus
    * permuted by md5(seed:doc_id) and cut into contiguous 2000-token
    * shards by EXCLUSIVE prefix sum. Row-level judged: every doc's
    * (hkey, n_tokens, shard) triple is hashed, so the permutation, the
    * distributed two-phase prefix sum (bucketed windows + 256-row
    * offset relation — never a global single-partition window) and the
    * exact integral shard division must all match the oracle's global-
    * window replay bit-for-bit.
    */
  private val q210: Q = (s, dir) =>
    Sampling.epochShardPlan(t(s, dir, "documents"), "doc_id",
        size(TextAnalysis.tokens(col("text"))), seed = 42L,
        shardTokens = 2000L)
      .orderBy("doc_id")

  /** q212: the corpus DATA CARD ([[TextAnalysis.datacard]]) — the
    * per-language audit table a corpus release ships with: volumes,
    * exact-duplicate share (corpus-wide md5 multiplicity — a
    * cross-language duplicate counts for both languages), short-doc
    * share at the 10-token line. One scan + one hash-groupBy; the
    * oracle replays each ratio at round-6.
    */
  private val q212: Q = (s, dir) =>
    TextAnalysis.datacard(t(s, dir, "documents"), "doc_id", "text",
        "lang", minTokens = 10)
      .orderBy("lang")

  /** q211: selective-prediction calibration sweep for the trained gate
    * ([[graft.ops.NaiveBayes.calibrationSweep]]) — q173's classifier
    * measured before it ships: for each margin threshold t, how many
    * held-out documents the "accept the label iff top-posterior −
    * runner-up ≥ t" rule admits, and how accurate the admitted labels
    * are against ground truth. The operating point of an auto-label /
    * auto-drop gate becomes a read off this relation instead of a
    * guess. The grid spans the held-out margin distribution at every
    * test scale (margins land in [0, ~2.0]), so each judged row has
    * n_above ≥ 1; the accepts-nothing NULL branch is spec'd instead.
    */
  private val q211: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val model = NaiveBayes.trainModel(
      docs.filter(col("doc_id") % 4 =!= 3), "doc_id", "text", "lang")
    NaiveBayes.calibrationSweep(docs.filter(col("doc_id") % 4 === 3),
      "doc_id", "text", "lang", model,
      thresholds = Seq(0.0, 0.25, 0.5, 0.75, 1.0))
  }

  /** Stratified sample ([[Sampling.stratifiedSample]]) at per-language
    * fractions — row-level judged: every kept doc_id is in the output,
    * so recall AND precision of the keep decision are hash-checked.
    */
  private val q99: Q = (s, dir) =>
    Sampling.stratifiedSample(t(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.5, "es" -> 0.25, "de" -> 0.25, "fr" -> 0.125))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  /** Target-mixture resample ([[Sampling.mixtureResample]]): skew four
    * uniform source domains to 40/30/20/10. The oracle re-derives
    * T = min(nᵈ/wᵈ) and fᵈ = round(wᵈ·T/nᵈ, 6) from its own counts,
    * so the fraction computation — not just the filter — is judged.
    */
  private val q100: Q = (s, dir) =>
    Sampling.mixtureResample(t(s, dir, "documents"), "source", "doc_id",
        Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1))
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")

  /** Per-domain quota cap ([[Sampling.quotaCap]]): top-5 docs per
    * source by n_chars, doc_id-ascending tiebreak — the "at most N
    * documents per site" curation rule as a group-bounded window.
    */
  private val q101: Q = (s, dir) =>
    Sampling.quotaCap(t(s, dir, "documents"), "source", "n_chars", "doc_id", n = 5)
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("rank_in_domain"))
      .orderBy("source", "rank_in_domain")

  /** Overlapping chunking ([[Chunking.chunkTokens]], size 8 stride 6):
    * chunk text is md5'd so the judged relation stays compact while
    * still pinning every token of every chunk.
    */
  private val q102: Q = (s, dir) =>
    Chunking.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
        size = 8, stride = 6)
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("n_toks"), md5(col("chunk_text")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")

  /** Temperature resample ([[Sampling.temperatureResample]], α = 0.5)
    * across languages — row-level judged; the oracle re-derives the
    * closed-form keep fractions fᵈ = round((n_min/nᵈ)^0.5, 6) from its
    * own per-language counts.
    */
  private val q103: Q = (s, dir) =>
    Sampling.temperatureResample(t(s, dir, "documents"), "lang", "doc_id", alpha = 0.5)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  /** Exact-k uniform sample per stratum ([[Sampling.exactKPerStratum]],
    * k = 50 per language): both membership AND the hash-order rank are
    * judged, so the full within-stratum ordering is pinned.
    */
  private val q104: Q = (s, dir) =>
    Sampling.exactKPerStratum(t(s, dir, "documents"), "lang", "doc_id", k = 50)
      .select(col("doc_id"), col("lang"), col("sample_rank"))
      .orderBy("lang", "sample_rank")

  /** Approx-percentile rank contract ([[Sketches
    * .approxPercentileContract]], GK sketch, accuracy 1000): per
    * event type, the sketch's p50/p95 must sit within ε = 10⁻³ rank
    * error of their exact positions — verified exactly Spark-side, the
    * oracle emits literal TRUE. This is the judged form of the scale
    * escape hatch q42/q48/q96 document: per-group sketch state is
    * O(accuracy) where exact percentiles buffer the whole group. The
    * GK guarantee is deterministic, so unlike the probabilistic q94
    * contract there is no flake budget at all.
    */
  private val q105: Q = (s, dir) =>
    Sketches.approxPercentileContract(RefQueries.events(s, dir),
        "event_type", "value", Seq("p50" -> 0.5, "p95" -> 0.95),
        accuracy = 1000)
      .orderBy("event_type")

  /** Directional n-gram containment near-dup ([[Dedup
    * .containmentNearDup]], 3-shingles, max-side containment ≥ 0.6,
    * stop-shingle cap 1000): the quote/subset detector Jaccard misses —
    * a short document inside a long one scores containment ~1.0 but
    * low Jaccard. Same inverted-index pair space and cap as q92; the
    * oracle replays both directional ratios.
    */
  private val q106: Q = (s, dir) =>
    PinnedExec.withDerivedParts(s, s"$dir/documents.parquet") {
      Dedup.containmentNearDup(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.6, shingleK = 3, maxShingleDf = 1000)
        .orderBy("id_a", "id_b")
    }

  /** Split-leakage audit: the eval-integrity check a training pipeline
    * runs before shipping a split — near-duplicate pairs (q92's exact
    * Jaccard relation) crossed with the q98 hash-split labels, counted
    * per unordered split pair. Off-diagonal rows ARE leakage: a test
    * document with a train-side near-dup is a contaminated eval. The
    * diagonal rows pin the non-leaky mass so the judged relation is
    * never vacuously empty. Pure composition — one |pairs|-sized join
    * against the split labels, nothing corpus-shaped beyond q92.
    */
  private val q107: Q = (s, dir) =>
    PinnedExec.withDerivedParts(s, s"$dir/documents.parquet") {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardNearDup(docs, "doc_id", "text",
        threshold = 0.5, shingleK = 3, maxShingleDf = 1000)
      val splits = Sampling.hashSplit(docs, "doc_id")
        .select(col("doc_id"), col("split"))
      Sampling.splitLeakageAudit(splits, "doc_id", "split", pairs)
        .orderBy("split_lo", "split_hi")
    }

  /** Token-distribution entropy ([[TextAnalysis.tokenEntropy]]) per
    * document — the perplexity-proxy quality signal (degenerate-low
    * AND noise-high ends both matter). ln-bearing terms follow q95's
    * round-9 + DECIMAL-sum discipline so the oracle replays bit-equal.
    */
  private val q108: Q = (s, dir) =>
    TextAnalysis.tokenEntropy(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Incremental cross-corpus dedup ([[Dedup.crossJaccardNearDup]]):
    * a quarter of the corpus plays the incoming crawl batch
    * (doc_id ≡ 1 mod 4), checked against the indexed remainder — the
    * pair space is batch-proportional, the production shape where
    * self-dedup of the full corpus would be wasted work. Corpus-side
    * stop-shingle cap active as in q92.
    */
  private val q109: Q = (s, dir) =>
    PinnedExec.withDerivedParts(s, s"$dir/documents.parquet") {
      val docs = t(s, dir, "documents")
      Dedup.crossJaccardNearDup(
          docs.filter(col("doc_id") % 4 === 1),
          docs.filter(col("doc_id") % 4 =!= 1),
          "doc_id", "text", threshold = 0.5, shingleK = 3, maxShingleDf = 1000)
        .orderBy("new_id", "corpus_id")
    }

  /** Leakage-safe-BY-CONSTRUCTION split ([[Sampling.clusterSafeSplit]]):
    * the remediation for what q107 audits — documents hash on their
    * near-dup-cluster representative, so no connected component ever
    * straddles a split. Row-level judged (every document's split is
    * pinned); the oracle re-derives the cluster minima with a
    * recursive-CTE closure over the same q92 pair relation and replays
    * the same md5-24-bit split decision on the representative.
    */
  private val q110: Q = (s, dir) =>
    PinnedExec.withDerivedParts(s, s"$dir/documents.parquet") {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardNearDup(docs, "doc_id", "text",
          threshold = 0.5, shingleK = 3, maxShingleDf = 1000)
        .select(col("id_a"), col("id_b"))
      Sampling.clusterSafeSplit(docs, "doc_id", pairs)
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }

  /** Keep-best dedup resolution ([[Dedup.keepBest]]): one keeper per
    * q92 near-dup component, chosen by n_chars (keep the most complete
    * version) with doc_id tiebreak. Row-level judged — every
    * document's cluster assignment AND keep decision is pinned; the
    * oracle re-derives components with a recursive-CTE closure and
    * replays the same window.
    */
  private val q111: Q = (s, dir) =>
    PinnedExec.withDerivedParts(s, s"$dir/documents.parquet") {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardNearDup(docs, "doc_id", "text",
          threshold = 0.5, shingleK = 3, maxShingleDf = 1000)
        .select(col("id_a"), col("id_b"))
      Dedup.keepBest(docs, "doc_id", pairs, "n_chars")
        .select(col("doc_id"), col("cluster_id"), col("is_keeper"))
        .orderBy("doc_id")
    }

  /** ANN recall contract ([[Similarity.annRecallContract]]): mean
    * recall@10 of the multi-table LSH index (4 tables × 4 md5
    * hyperplanes), its MULTI-PROBE variant (each probe additionally
    * queries every per-table key at Hamming distance 1 — candidates a
    * strict superset, so its bound sits above the multi-table one), and
    * the IVF index (probe 4 of 8 lowest-id-seeded cells) against the
    * brute cosine top-10, over the fixed probe set vec_id ≡ 7 (mod 50)
    * — the approximation-quality claim q27/q37 leave unjudged. The comparison is exact integer arithmetic
    * (Σ hits ≥ bound·k·|probes|), deterministic given the md5 plane
    * family, so the oracle emits literal TRUE; measured means run
    * 0.42–0.92 (LSH), 0.68–0.97 (IVF), and 0.92–0.99 (multiprobe)
    * across sf0.001→sf1 against bounds 0.3/0.35/0.7, while a
    * geometry-free bucketer collapses all LSH rows to ~0.06 (the spec
    * proves the contract catches it).
    */
  private val q112: Q = (s, dir) =>
    PinnedExec.withDerivedParts(s, s"$dir/embeddings.parquet") {
      Similarity.annRecallContract(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = ExtQueries.embDim)
        .orderBy("method")
    }

  /** PQ-tier recall contract ([[graft.ops.ProductQuantize
    * .pqRecallContract]]): the q112 question asked of the LOSSY
    * compression stack — mean recall@10 against the brute cosine top-10
    * over the same fixed probe set (vec_id ≡ 7 mod 50) for the raw ADC
    * ranking, the ADC-cut → exact-re-rank serving path (corpus-scaled
    * overfetch: the candidate cut widens with density, which is what
    * keeps the SERVED row's recall scale-stable — measured 0.77–0.92
    * from 500 to 20k vectors), and the cell-pruned IVF-PQ composition.
    * The served path carries an absolute 0.6 floor; the raw tiers
    * carry chance-relative floors (≥ 5× the k/n recall of a random
    * ranking — at a fixed code budget their absolute top-k recall
    * necessarily decays with corpus density, so an absolute floor
    * would be vacuous or broken at scale). Deterministic given the
    * lowest-id seeds and decimal-exact Lloyd means, so the oracle
    * emits literal TRUE; `ProductQuantizeSpec` proves the contract
    * bites by feeding a degenerate single-codeword codebook.
    */
  private val q156: Q = (s, dir) =>
    // the contract materializes eagerly inside the call — pin its
    // exchanges to the input-derived partition count (PinnedExec)
    PinnedExec.withDerivedParts(s, s"$dir/embeddings.parquet") {
      graft.ops.ProductQuantize.pqRecallContract(
          t(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("method")
    }

  /** Residual-tier recall contract ([[graft.ops.ProductQuantize
    * .residualRecallContract]]): q156's question asked of the residual
    * IVF-PQ composition (q157/q160's scheme) — the quality floor the
    * r15 round left unquantified for exactly this tier. Same probe
    * set, same corpus-capped stride, same bound regimes
    * (chance-relative for the raw residual-ADC sweep and the
    * cell-pruned serving tier, absolute 0.6 for the two-tier served
    * path); centroids are Lloyd-refined per the residual scheme's own
    * contract. Measured means (sf0.001 / sf0.01 / sf0.1 —
    * n = 500/500/2000): residual_adc 0.32/0.36/0.19 vs chance floors
    * 0.10/0.10/0.025, ivfpq_residual 0.32/0.39/0.16,
    * residual_two_tier 0.86/0.89/0.78 vs the absolute 0.6 — ≥3× margin
    * on every row at every scale
    * ([[graft.tools.MeasureResidualRecall]] reproduces the numbers).
    */
  private val q169: Q = (s, dir) =>
    PinnedExec.withDerivedParts(s, s"$dir/embeddings.parquet") {
      graft.ops.ProductQuantize.residualRecallContract(
          t(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("method")
    }

  /** Incremental index write-back ([[Dedup.ShingleIndex]] /
    * [[Dedup.foldIn]]): the full production dedup loop q109 stops short
    * of — corpus index built once, batch 1 (doc_id ≡ 1 mod 4) deduped
    * against it, batch 1's SURVIVORS folded back in (postings/sizes
    * appended, dfs merge-compacted), then batch 2 (doc_id ≡ 2 mod 4)
    * deduped against the UPDATED index. Judged output: batch 2's pairs —
    * which include pairs against batch-1 survivors, so a broken
    * write-back (survivors missing, df drift, size drift) changes the
    * relation. The oracle recomputes everything from scratch
    * (corpus ∪ survivors), pinning the incremental ≡ from-scratch
    * equivalence externally; `OpsPropertySpec` pins it in-JVM as a law.
    */
  private val q113: Q = (s, dir) =>
    PinnedExec.withDerivedParts(s, s"$dir/documents.parquet") {
    val docs = t(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 4 =!= 1 && col("doc_id") % 4 =!= 2)
    val batch1 = docs.filter(col("doc_id") % 4 === 1)
    val batch2 = docs.filter(col("doc_id") % 4 === 2)
    val ix0 = Dedup.buildShingleIndex(corpus, "doc_id", "text", shingleK = 3)
    val sh1 = Dedup.shingleTable(batch1, "doc_id", "text", 3).localCheckpoint()
    val pairs1 = Dedup.dedupAgainstIndex(sh1, ix0, "doc_id",
      threshold = 0.5, maxShingleDf = 1000)
    val survivors1 = batch1.select(col("doc_id"))
      .join(pairs1.select(col("new_id").as("doc_id")), Seq("doc_id"), "left_anti")
    val ix1 = Dedup.foldIn(ix0, sh1, survivors1, "doc_id")
    val sh2 = Dedup.shingleTable(batch2, "doc_id", "text", 3)
    Dedup.dedupAgainstIndex(sh2, ix1, "doc_id",
        threshold = 0.5, maxShingleDf = 1000)
      .orderBy("new_id", "corpus_id")
    }

  /** End-to-end curation pipeline in ONE judged pass — the 100 TB
    * demonstration the per-stage queries build toward: q84's gate
    * (language/quality/repetition/exact-dup/decontamination) feeds ONE
    * near-dup pair relation (q92's exact Jaccard over the gated
    * corpus), from which ONE connected-components relation drives BOTH
    * the keep-best resolution (q111's window) AND the leakage-safe
    * split (q110's representative hash — here a pure column expression
    * over the already-materialized cluster_id, zero extra joins).
    * Output: one row per gated document — (doc_id, cluster_id,
    * is_keeper, split, quality) — the exact relation a training
    * pipeline writes. Oracle: the composition of the per-stage oracles
    * (the gate CTE block is literally q84's, the closure is q110/q111's
    * recursive CTE restricted to the gated corpus).
    */
  private val q114: Q = (s, dir) =>
    PinnedExec.withDerivedParts(s, s"$dir/documents.parquet") {
    val docs = t(s, dir, "documents")
    // ONE corpus tokenize for the whole pipeline: the shared signal
    // base feeds the gate's language/quality/repetition aggregates,
    // its 5-gram decontamination shingles, AND the 3-gram Jaccard
    // dedup downstream — previously the dedup re-tokenized the gated
    // corpus from text, a second full scan+split of the dominant
    // column at 100 TB. The dedup's shingle relation is the shared
    // 3-gram table restricted to gate survivors (identical to
    // shingling the gated docs: per-doc shingle sets and the gated
    // df cap are unchanged), persisted across the posting join's
    // multiple consumers and released with the base at the end.
    val sig = graft.ops.CurationSignals.build(docs, "doc_id", "text")
    val gate = ExtQueries.curationGateFromSignals(sig).localCheckpoint()
    val sh3 = sig.shingles(3)
      .join(gate.select("doc_id"), Seq("doc_id"), "leftsemi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = graft.ops.CacheLifecycle.resolveAndRelease(
      Dedup.jaccardFromShingles(sh3, "doc_id",
          threshold = 0.5, maxShingleDf = 1000)
        .select(col("id_a"), col("id_b")),
      sh3)
    val clusters = Dedup.duplicateClusters(pairs).toDF("doc_id", "cluster_id")
    // n_chars rides a PRUNED re-read of the two narrow metadata
    // columns (never the text bytes) — the token base stays the only
    // text consumer
    val gated = docs.select(col("doc_id"), col("n_chars"))
      .join(gate.select("doc_id"), Seq("doc_id"), "leftsemi")
    val out = Dedup.keepBestWithClusters(gated, "doc_id", clusters, "n_chars")
      .join(gate.select(col("doc_id"), col("quality")), Seq("doc_id"))
      .select(col("doc_id"), col("cluster_id"), col("is_keeper"),
        Sampling.splitOn(col("cluster_id")).as("split"), col("quality"))
      .orderBy("doc_id")
    graft.ops.CacheLifecycle.resolveAndRelease(out, sig.base)
    }

  /** q196: q114's curation pipeline run OFF ITS AT-REST INDEXES — the
    * capstone of the round-16/17 "decisions read the index you already
    * paid for" arc: the dedup pair relation comes from the STORED
    * shingle index of the gated corpus ([[Dedup.jaccardFromIndex]] —
    * q144's source), the gate's contamination leg probes the STORED
    * benchmark index ([[graft.ops.Decontamination
    * .overlapFromIndexShingles]] — q179's store, fed by the pipeline's
    * ONE tokenize rather than a re-read of text), and only the
    * stateless per-document signals (language/quality/repetition/
    * exact-dup hash) are computed in-session — they have no state to
    * store. Output and oracle are q114's VERBATIM: the decision
    * relation a training pipeline writes cannot depend on whether its
    * pair source and contamination probe were in-session or at rest.
    * At 100 TB the difference is the whole game: the periodic curation
    * pass re-reads indexes (corpus-metadata-sized), not the corpus.
    */
  private val curationStoreDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  rmTreeAtExit(curationStoreDirs)
  private val q196: Q = (s, dir) =>
    PinnedExec.withDerivedParts(s, s"$dir/documents.parquet") {
    val docs = t(s, dir, "documents")
    val root = curationStoreDirs.computeIfAbsent(dir, _ => {
      val p = s"${sys.props("java.io.tmpdir")}/graft_curation_ix_" +
        s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      // the eval split's bench index, frozen at the gate's (k=5, cap 0)
      Decontamination.writeBenchIndex(
        docs.filter(col("doc_id") % 20 === 7), "doc_id", "text",
        s"$p/bench", k = 5)
      // the GATED corpus's shingle index — the pair source the
      // maintenance pass reads (built once, here; maintained by the
      // q140/q167 append/delete lifecycle in production)
      val gated = docs.join(
        ExtQueries.curationGate(docs).select(col("doc_id")),
        Seq("doc_id"), "leftsemi")
      Dedup.writeStoredIndex(
        Dedup.buildShingleIndex(gated, "doc_id", "text", shingleK = 3),
        "doc_id", s"$p/shingle")
      p
    })
    val sig = graft.ops.CurationSignals.build(docs, "doc_id", "text")
    val contaminated = Decontamination.overlapFromIndexShingles(
        sig.shingles(5).filter(col("doc_id") % 20 =!= 7)
          .select(col("doc_id").as("corpus_id"), col("sh")),
        s"$root/bench", minOverlap = 3)
      .select(col("corpus_id").as("doc_id")).distinct()
    val gate = ExtQueries.curationGateFromSignals(sig, Some(contaminated))
      .localCheckpoint()
    val pairs = Dedup.jaccardFromIndex(
        Dedup.readStoredIndex(s, "doc_id", s"$root/shingle"),
        "doc_id", threshold = 0.5, maxShingleDf = 1000)
      .select(col("id_a"), col("id_b"))
    val clusters = Dedup.duplicateClusters(pairs).toDF("doc_id", "cluster_id")
    val gated = docs.select(col("doc_id"), col("n_chars"))
      .join(gate.select("doc_id"), Seq("doc_id"), "leftsemi")
    val out = Dedup.keepBestWithClusters(gated, "doc_id", clusters, "n_chars")
      .join(gate.select(col("doc_id"), col("quality")), Seq("doc_id"))
      .select(col("doc_id"), col("cluster_id"), col("is_keeper"),
        Sampling.splitOn(col("cluster_id")).as("split"), col("quality"))
      .orderBy("doc_id")
    graft.ops.CacheLifecycle.resolveAndRelease(out, sig.base)
    }

  /** SemDeDup ([[Similarity.semDedup]]): k-means semantic partition
    * (q82's exact one-round Lloyd) ∧ LSH-blocked exact-cosine near-dup
    * pairs (q28's 8-plane blocking, cosine ≥ 0.35) → within-cell
    * connected components → keep the component-minimum vector. The
    * embedding-space counterpart of the text-side q111: q28 finds
    * near-identical pairs, q82 names the semantic neighborhoods, this
    * keeps one representative per within-neighborhood duplicate group.
    * Row-level judged (every vector's cell, component, and keep
    * decision); oracle = q82's k-means CTEs + q28's pair CTE + the
    * recursive closure, composed.
    */
  private val q115: Q = (s, dir) =>
    PinnedExec.withDerivedParts(s, s"$dir/embeddings.parquet") {
      Similarity.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, iters = 1, numPlanes = 8, threshold = 0.35, dim = ExtQueries.embDim)
        .orderBy("vec_id")
    }

  val all: Map[String, Q] = Map(
    "q105_approx_percentile" -> q105,
    "q114_curation_pipeline" -> q114,
    "q196_curation_at_rest" -> q196,
    "q115_semdedup" -> q115,
    "q112_ann_recall" -> q112,
    "q156_pq_recall" -> q156,
    "q169_residual_recall" -> q169,
    "q161_bpe_train" -> q161,
    "q162_bpe_tokens" -> q162,
    "q165_bpe_encode" -> q165,
    "q111_keep_best" -> q111,
    "q106_ngram_containment" -> q106,
    "q143_stored_containment" -> q143,
    "q144_stored_keep_best" -> q144,
    "q152_bm25_stored" -> q152,
    "q153_bm25_stored_ingest" -> q153,
    "q154_bm25_bucketed" -> q154,
    "q155_bm25_optimize" -> q155,
    "q163_bm25_batch" -> q163,
    "q166_bm25_delete" -> q166,
    "q167_shingle_delete" -> q167,
    "q107_split_leakage" -> q107,
    "q108_token_entropy" -> q108,
    "q109_cross_dedup" -> q109,
    "q113_incremental_index" -> q113,
    "q110_cluster_safe_split" -> q110,
    "q92_ngram_jaccard" -> q92,
    "q93_bloom_join" -> q93,
    "q94_cms_topk" -> q94,
    "q95_bm25" -> q95,
    "q96_robust_outliers" -> q96,
    "q97_pagerank" -> q97,
    "q98_hash_split" -> q98,
    "q99_stratified_sample" -> q99,
    "q100_mixture_resample" -> q100,
    "q101_quota_cap" -> q101,
    "q102_chunk_overlap" -> q102,
    "q103_temperature_resample" -> q103,
    "q104_exact_k_sample" -> q104,
    "q127_hybrid_rrf" -> q127,
    "q131_bigram_lm" -> q131,
    "q190_lm_count_store" -> q190,
    "q191_lm_unlearn" -> q191,
    "q209_lm_snapshot_serve" -> q209,
    "q210_epoch_shard_plan" -> q210,
    "q211_gate_calibration" -> q211,
    "q212_corpus_datacard" -> q212,
    "q213_nb_snapshot_serve" -> q213,
    "q135_bigram_score_heldout" -> q135,
    "q173_nb_classify" -> q173,
    "q174_nb_stored" -> q174,
    "q178_nb_incremental" -> q178,
    "q181_nb_unlearn" -> q181,
    "q186_nb_chargram" -> q186,
  )

  // ----------------------------------------------------------------- oracle

  private val bm25Terms = Seq("vector", "stream", "window")
  private val bm25TermList = bm25Terms.map(t => s"'$t'").mkString(", ")

  /** q95's BM25 pipeline as a CTE block ending in `bm(doc_id, score)` —
    * the top-20 keyword ranking, shared verbatim by the hybrid-RRF
    * oracle (q127).
    */
  /** The term-dependent half of the BM25 oracle, suffixed so several
    * queries can share one corpus pass (tok/dl/stats) — ends in
    * `bm$sfx(doc_id, score)`, the top-20 for `termList`.
    */
  private def bm25BodyFor(termList: String, sfx: String): String =
    s"""tf$sfx AS (SELECT doc_id, tok, count(*) AS tf FROM tok
       |       WHERE tok IN ($termList) GROUP BY 1, 2),
       |dfreq$sfx AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok
       |          WHERE tok IN ($termList) GROUP BY 1),
       |scored$sfx AS (
       |  SELECT tf$sfx.doc_id,
       |         CAST(round(
       |           (ln(1.0 + (CAST(stats.n_docs - dfreq$sfx.df AS DOUBLE) + 0.5)
       |                     / (CAST(dfreq$sfx.df AS DOUBLE) + 0.5))
       |            * (CAST(tf$sfx.tf AS DOUBLE) * 2.2))
       |           / (CAST(tf$sfx.tf AS DOUBLE)
       |              + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
       |                              / (CAST(stats.sum_dl AS DOUBLE) / CAST(stats.n_docs AS DOUBLE)))),
       |           9) AS DECIMAL(28,10)) AS c
       |  FROM tf$sfx
       |  JOIN dfreq$sfx USING (tok)
       |  JOIN dl USING (doc_id), stats),
       |bm$sfx AS (SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS score
       |       FROM scored$sfx GROUP BY doc_id
       |       ORDER BY score DESC, doc_id LIMIT 20)""".stripMargin

  /** The shared corpus-pass head: tokens, document lengths, globals. */
  private lazy val bm25Head: String =
    s"""${ExtQueries.tokensCte},
       |tok AS (SELECT doc_id, u.t AS tok FROM w, UNNEST(w.w) AS u(t)),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl)""".stripMargin

  private lazy val bm25Ctes: String =
    s"""$bm25Head,
       |${bm25BodyFor(bm25TermList, "")}""".stripMargin

  /** q95's complete oracle SQL — the from-text BM25 top-20. Shared
    * verbatim by every stored-layout/ingest/OPTIMIZE replay (q152–q155
    * here, q159 in [[StreamingQueries]]): where and how the statistics
    * live cannot change a score.
    */
  private[queries] lazy val bm25TopSql: String =
    s"""WITH $bm25Ctes
       |SELECT doc_id, score FROM bm
       |ORDER BY score DESC, doc_id""".stripMargin

  /** One BPE merge round over the symbolized word relation
    * `w{r}(word, freq, syms)` → `w{r+1}` — the relational replay of
    * [[graft.ops.Bpe.applyMerge]]: positions with next-symbol, exact
    * long pair counts, (cnt desc, lhs, rhs) argmax, greedy
    * left-to-right non-overlap via the even-offset-within-run rule
    * (runs of consecutive match positions only exist for lhs = rhs),
    * kept matches emit the concatenation and consume position p+1.
    * The multiply-referenced CTEs are MATERIALIZED: DuckDB inlines
    * CTEs by default, and a 10-round unroll where each round
    * references the previous ~3× would otherwise expand to 3¹⁰ corpus
    * scans (observed as fd exhaustion before it could even be slow).
    */
  private def bpeRoundCte(r: Int): String =
    s"""pos$r AS MATERIALIZED (
       |          SELECT word, freq, g.i AS p, syms[g.i] AS s, syms[g.i + 1] AS nxt
       |          FROM w$r, UNNEST(generate_series(1, len(syms))) AS g(i)),
       |pc$r AS (SELECT s AS lhs, nxt AS rhs, sum(freq) AS cnt
       |         FROM pos$r WHERE nxt IS NOT NULL GROUP BY 1, 2),
       |best$r AS MATERIALIZED (SELECT lhs, rhs, cnt FROM pc$r ORDER BY cnt DESC, lhs, rhs LIMIT 1),
       |mm$r AS (SELECT p.word, p.p, row_number() OVER (PARTITION BY p.word ORDER BY p.p) AS rn
       |         FROM pos$r p, best$r b WHERE p.s = b.lhs AND p.nxt = b.rhs),
       |kept$r AS MATERIALIZED (SELECT word, p FROM (
       |             SELECT word, p, row_number() OVER (PARTITION BY word, p - rn ORDER BY p) AS k
       |             FROM mm$r) WHERE k % 2 = 1),
       |w${r + 1} AS MATERIALIZED (
       |  SELECT p.word, min(p.freq) AS freq,
       |         list(CASE WHEN k1.p IS NOT NULL THEN p.s || p.nxt ELSE p.s END ORDER BY p.p) AS syms
       |  FROM pos$r p
       |  LEFT JOIN kept$r k1 ON k1.word = p.word AND k1.p = p.p
       |  LEFT JOIN kept$r k2 ON k2.word = p.word AND k2.p = p.p - 1
       |  WHERE k2.p IS NULL
       |  GROUP BY p.word)""".stripMargin

  /** The 10-round BPE unroll over the corpus word table, ending in
    * `w11` (the trained tokenization) and `best1..best10` (the merge
    * sequence) — shared by the q161 and q162 oracles.
    */
  private lazy val bpeCtes: String =
    s"""${ExtQueries.tokensCte},
       |tok AS (SELECT doc_id, u.t AS tok FROM w, UNNEST(w.w) AS u(t)),
       |wt AS (SELECT tok AS word, count(*) AS freq FROM tok GROUP BY 1),
       |w1 AS MATERIALIZED (SELECT word, freq, string_split(word, '') AS syms FROM wt),
       |${(1 to 10).map(bpeRoundCte).mkString(",\n")}""".stripMargin

  /** One ENCODE round: [[bpeRoundCte]]'s application half (match →
    * greedy non-overlap keep → positional rewrite) over the held-out
    * word relation `h$r`, with the pair coming from the TRAIN split's
    * `best$r` instead of being re-chosen — merges frozen, applied in
    * rank order: the relational replay of [[graft.ops.Bpe.encode]].
    */
  private def bpeApplyCte(r: Int): String =
    s"""hpos$r AS MATERIALIZED (
       |          SELECT word, freq, g.i AS p, syms[g.i] AS s, syms[g.i + 1] AS nxt
       |          FROM h$r, UNNEST(generate_series(1, len(syms))) AS g(i)),
       |hmm$r AS (SELECT p.word, p.p, row_number() OVER (PARTITION BY p.word ORDER BY p.p) AS rn
       |         FROM hpos$r p, best$r b WHERE p.s = b.lhs AND p.nxt = b.rhs),
       |hkept$r AS MATERIALIZED (SELECT word, p FROM (
       |             SELECT word, p, row_number() OVER (PARTITION BY word, p - rn ORDER BY p) AS k
       |             FROM hmm$r) WHERE k % 2 = 1),
       |h${r + 1} AS MATERIALIZED (
       |  SELECT p.word, min(p.freq) AS freq,
       |         list(CASE WHEN k1.p IS NOT NULL THEN p.s || p.nxt ELSE p.s END ORDER BY p.p) AS syms
       |  FROM hpos$r p
       |  LEFT JOIN hkept$r k1 ON k1.word = p.word AND k1.p = p.p
       |  LEFT JOIN hkept$r k2 ON k2.word = p.word AND k2.p = p.p - 1
       |  WHERE k2.p IS NULL
       |  GROUP BY p.word)""".stripMargin

  /** q165's unroll: train 10 rounds on the doc_id % 4 ≠ 3 split
    * (best1..best10), then apply them in rank order to the HELD-OUT
    * quarter's own word table (h1..h11).
    */
  private lazy val bpeEncodeCtes: String =
    s"""${ExtQueries.tokensCte},
       |tok AS (SELECT doc_id, u.t AS tok FROM w, UNNEST(w.w) AS u(t)),
       |wt AS (SELECT tok AS word, count(*) AS freq FROM tok WHERE doc_id % 4 <> 3 GROUP BY 1),
       |w1 AS MATERIALIZED (SELECT word, freq, string_split(word, '') AS syms FROM wt),
       |${(1 to 10).map(bpeRoundCte).mkString(",\n")},
       |hwt AS (SELECT tok AS word, count(*) AS freq FROM tok WHERE doc_id % 4 = 3 GROUP BY 1),
       |h1 AS MATERIALIZED (SELECT word, freq, string_split(word, '') AS syms FROM hwt),
       |${(1 to 10).map(bpeApplyCte).mkString(",\n")}""".stripMargin

  /** u(key)·2²⁴ in DuckDB: the first 6 md5 hex chars of the doc id as
    * an exact integer — the replay of [[graft.ops.Sampling.hashUniform]].
    * Declared BEFORE the oracle map that interpolates it: a plain val
    * below the map would still be null during object initialization.
    */
  private val hashU24 =
    "CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT)"

  /** The 3-iteration PageRank unroll: r0 = 1/N, then three grouped
    * contribution sums with the Spark side's exact rounding points.
    */
  private lazy val pagerankOracle: String = {
    val steps = (1 to 3).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS id,
         |         round((1.0 - 0.85) / any_value(nn.nd)
         |               + 0.85 * CAST(sum(CAST(round(r.rank / CAST(e.deg AS DOUBLE), 12)
         |                                       AS DECIMAL(28,12))) AS DOUBLE), 12) AS rank
         |  FROM ed e JOIN r${i - 1} r ON r.id = e.src, nn
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${ExtQueries.embCte},
       |b AS (SELECT vec_id, v, ${ExtQueries.duckBucket(ExtQueries.planes8)} AS bucket,
       |             sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, bb.vec_id AS id_b
       |  FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
       |  WHERE round(list_dot_product(a.v, bb.v) / (a.nrm * bb.nrm), 6) >= 0.35),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM deg),
       |r0 AS (SELECT src AS id, 1.0 / nn.nd AS rank FROM deg, nn),
       |$steps
       |SELECT id AS vec_id, rank FROM r3 ORDER BY vec_id""".stripMargin
  }

  /** q106's oracle — shared verbatim by q143: the containment relation
    * is a property of the corpus's shingle sets, never of whether the
    * postings/sizes/dfs were computed in-session or read back from the
    * stored index.
    */
  private lazy val containmentOracle: String =
    s"""WITH ${ExtQueries.tokensCte},
       |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
       |       FROM w, UNNEST(generate_series(1, greatest(len(w)-2, 0))) AS g(i)
       |       WHERE len(w) >= 3),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 1000),
       |post AS (SELECT * FROM sh ANTI JOIN hot USING (sh)),
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
       |          FROM post a JOIN post b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |       CAST(n_inter AS DOUBLE) / CAST(na.n AS DOUBLE) AS cont_a_in_b,
       |       CAST(n_inter AS DOUBLE) / CAST(nb.n AS DOUBLE) AS cont_b_in_a
       |FROM inter
       |JOIN sizes na ON na.doc_id = id_a
       |JOIN sizes nb ON nb.doc_id = id_b
       |WHERE greatest(CAST(n_inter AS DOUBLE) / CAST(na.n AS DOUBLE),
       |               CAST(n_inter AS DOUBLE) / CAST(nb.n AS DOUBLE)) >= 0.6
       |ORDER BY id_a, id_b""".stripMargin

  /** q111's oracle — shared verbatim by q144: cluster minima and keep
    * decisions are a property of the pair relation, never of where the
    * pairs' postings/sizes/dfs lived.
    */
  private lazy val keepBestOracle: String =
    s"""WITH RECURSIVE ${ExtQueries.tokensCte},
       |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
       |       FROM w, UNNEST(generate_series(1, greatest(len(w)-2, 0))) AS g(i)
       |       WHERE len(w) >= 3),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 1000),
       |post AS (SELECT * FROM sh ANTI JOIN hot USING (sh)),
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
       |          FROM post a JOIN post b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes na ON na.doc_id = id_a
       |  JOIN sizes nb ON nb.doc_id = id_b
       |  WHERE CAST(n_inter AS DOUBLE) / CAST(na.n + nb.n - n_inter AS DOUBLE) >= 0.5),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |r(id, reach) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.reach FROM edges e JOIN r ON e.dst = r.id),
       |cl AS (SELECT id, min(reach) AS rep FROM r GROUP BY id),
       |lab AS (SELECT d.doc_id, d.n_chars, coalesce(cl.rep, d.doc_id) AS cluster_id
       |        FROM documents d LEFT JOIN cl ON cl.id = d.doc_id)
       |SELECT doc_id, cluster_id,
       |       (row_number() OVER (PARTITION BY cluster_id
       |                           ORDER BY n_chars DESC, doc_id ASC) = 1) AS is_keeper
       |FROM lab ORDER BY doc_id""".stripMargin

  /** Naive Bayes replayed relationally — priors, per-label Laplace
    * likelihoods, per-label floors for unseen tokens, round-9
    * contributions summed as DECIMAL, argmax with label-asc tie-break.
    * ONE string for q173 (in-session) and q174 (model at rest): where
    * the counts live cannot change a posterior.
    */
  /** q114's end-to-end pipeline SQL — the gate CTE block (literally
    * q84's), the gated 3-gram Jaccard pair pipeline, the recursive
    * closure, the keeper window, and the cluster-hash split. Shared
    * VERBATIM by q196 (the same pipeline run off its at-rest indexes):
    * a decision relation is a property of the gate and the pair
    * relation, not of where either was read from.
    */
  private[queries] val curationPipelineSql: String =
    s"""WITH RECURSIVE ${ExtQueries.curationGateCtes},
       |sh3 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
       |        FROM w, UNNEST(generate_series(1, greatest(len(w)-2, 0))) AS g(i)
       |        WHERE len(w) >= 3),
       |shg AS (SELECT * FROM sh3 SEMI JOIN gate USING (doc_id)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shg GROUP BY 1),
       |hot AS (SELECT sh FROM shg GROUP BY sh HAVING count(*) > 1000),
       |post AS (SELECT * FROM shg ANTI JOIN hot USING (sh)),
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
       |          FROM post a JOIN post b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes na ON na.doc_id = id_a
       |  JOIN sizes nb ON nb.doc_id = id_b
       |  WHERE CAST(n_inter AS DOUBLE) / CAST(na.n + nb.n - n_inter AS DOUBLE) >= 0.5),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |r(id, reach) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.reach FROM edges e JOIN r ON e.dst = r.id),
       |cl AS (SELECT id, min(reach) AS rep FROM r GROUP BY id),
       |lab AS (SELECT g.doc_id, d.n_chars, g.quality,
       |               coalesce(cl.rep, g.doc_id) AS cluster_id
       |        FROM gate g
       |        JOIN documents d ON d.doc_id = g.doc_id
       |        LEFT JOIN cl ON cl.id = g.doc_id),
       |u AS (SELECT *,
       |             CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 6)) AS BIGINT)
       |               / 16777216.0 AS uu
       |      FROM lab)
       |SELECT doc_id, cluster_id,
       |       (row_number() OVER (PARTITION BY cluster_id
       |                           ORDER BY n_chars DESC, doc_id ASC) = 1) AS is_keeper,
       |       CASE WHEN uu < 0.8 THEN 'train'
       |            WHEN uu < 0.9 THEN 'val'
       |            ELSE 'test' END AS split,
       |       quality
       |FROM u ORDER BY doc_id""".stripMargin

  /** q131's self-trained bigram-LM SQL, restricted to the docs
    * matching `pred` on BOTH the training and scoring side — the
    * retrain-from-scratch oracle the unlearn query (q191) is judged
    * against; with `TRUE` it is q131's oracle itself, shared verbatim
    * by the count-store decomposition (q190).
    */
  private[queries] def bigramLmSqlFor(pred: String): String =
    s"""WITH ${ExtQueries.tokensCte},
       |d AS (SELECT doc_id, w FROM w WHERE $pred),
       |bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
       |       FROM d, UNNEST(generate_series(1, len(w)-1)) AS g(i)
       |       WHERE len(w) >= 2),
       |cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
       |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
       |vocab AS (SELECT count(DISTINCT u.t) AS v FROM d, UNNEST(d.w) AS u(t)),
       |scored AS (SELECT bg.doc_id,
       |                  CAST(round(-ln(CAST(cb.cb + 1 AS DOUBLE)
       |                                 / CAST(c1.c1 + vocab.v AS DOUBLE)), 9)
       |                       AS DECIMAL(28,10)) AS c
       |           FROM bg JOIN cb USING (w1, w2) JOIN c1 USING (w1), vocab)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |       round(CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS nll
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private[queries] val bigramLmSql = bigramLmSqlFor("TRUE")

  /** The NB posterior chain through `sc(doc_id, lang, score)` plus the
    * per-doc rank `rk` — shared by the classify oracles (argmax) and
    * the q211 calibration oracle (margin = rank-1 − rank-2).
    */
  private def nbScoreCtes(trainPred: String, wCte: String): String =
    s"""$wCte,
       |tr AS (SELECT w.doc_id, d.lang, w.w FROM w
       |       JOIN documents d ON d.doc_id = w.doc_id
       |       WHERE $trainPred),
       |he AS (SELECT doc_id, w FROM w WHERE doc_id % 4 = 3),
       |ttok AS (SELECT lang, u.t AS tok FROM tr, UNNEST(tr.w) AS u(t)),
       |nl AS (SELECT lang, count(*) AS n FROM ttok GROUP BY 1),
       |v AS (SELECT count(DISTINCT tok) AS v FROM ttok),
       |nd AS (SELECT count(*) AS n FROM tr),
       |pri AS (SELECT tr.lang,
       |               round(ln(CAST(count(*) AS DOUBLE) / CAST(nd.n AS DOUBLE)), 9) AS lp
       |        FROM tr CROSS JOIN nd GROUP BY tr.lang, nd.n),
       |fl AS (SELECT nl.lang, round(ln(1.0 / CAST(nl.n + v.v AS DOUBLE)), 9) AS fl
       |       FROM nl CROSS JOIN v),
       |lik AS (SELECT t.lang, t.tok,
       |               round(ln(CAST(count(*) + 1 AS DOUBLE)
       |                        / CAST(nl.n + v.v AS DOUBLE)), 9) AS ll
       |        FROM ttok t JOIN nl ON t.lang = nl.lang CROSS JOIN v
       |        GROUP BY t.lang, t.tok, nl.n, v.v),
       |htok AS (SELECT doc_id, u.t AS tok FROM he, UNNEST(he.w) AS u(t)),
       |sc AS (SELECT h.doc_id, p.lang,
       |              round(p.lp + CAST(sum(CAST(COALESCE(l.ll, f.fl)
       |                AS DECIMAL(28,10))) AS DOUBLE), 6) AS score
       |       FROM htok h
       |       CROSS JOIN pri p
       |       JOIN fl f ON f.lang = p.lang
       |       LEFT JOIN lik l ON l.lang = p.lang AND l.tok = h.tok
       |       GROUP BY h.doc_id, p.lang, p.lp),
       |rk AS (SELECT doc_id, lang, score,
       |              row_number() OVER (PARTITION BY doc_id
       |                ORDER BY score DESC, lang) AS rk
       |       FROM sc)""".stripMargin

  private[queries] def nbClassifySqlFor(trainPred: String,
      wCte: String = ExtQueries.tokensCte): String =
    s"""WITH ${nbScoreCtes(trainPred, wCte)}
       |SELECT doc_id, lang AS pred_label, score
       |FROM rk WHERE rk = 1 ORDER BY doc_id""".stripMargin

  private[queries] val nbClassifySql = nbClassifySqlFor("w.doc_id % 4 <> 3")

  /** q186's feature extraction replayed in SQL: character bigrams of
    * the lowercased text WITH multiplicity (1-based inclusive slices),
    * empty for length < 2.
    */
  private val charBigramCte =
    """w AS (SELECT doc_id,
      |            list_transform(
      |              generate_series(1, greatest(len(lower(text)) - 1, 0)),
      |              i -> lower(text)[i:i+1]) AS w
      |      FROM documents)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q173_nb_classify" -> nbClassifySql,
    // the at-rest model MUST reproduce the in-session posterior exactly
    "q174_nb_stored" -> nbClassifySql,
    // ... and so must the batch-decomposed count store (LSM deltas,
    // mid-loop compaction, idempotent retry)
    "q178_nb_incremental" -> nbClassifySql,
    // deleted labeled data == data never ingested: the oracle retrains
    // from scratch on the surviving batches
    "q181_nb_unlearn" -> nbClassifySqlFor("w.doc_id % 4 IN (0, 1)"),
    // same posterior algebra over a different feature family: character
    // bigrams WITH multiplicity (the multinomial event model), in place
    // of word occurrences
    "q186_nb_chargram" -> nbClassifySqlFor("w.doc_id % 4 <> 3", charBigramCte),
    // deterministic mean-recall bounds (exact integer comparison on the
    // Spark side): the oracle recomputes the probe-set size and emits
    // literal TRUE per method
    // the probe stride is corpus-capped (greatest(50, n//40) — the
    // q156 convention: the brute truth tier is a probes×corpus sweep,
    // so the sample stays ~40 at any scale)
    "q112_ann_recall" ->
      """WITH c AS (SELECT count(*) AS n FROM embeddings),
        |p AS (SELECT count(*) AS n_probes FROM embeddings, c
        |      WHERE vec_id % greatest(50, c.n // 40) = 7)
        |SELECT method, n_probes, true AS recall_ok
        |FROM (SELECT 'ivf' AS method FROM p
        |      UNION ALL SELECT 'lsh_multitable' FROM p
        |      UNION ALL SELECT 'lsh_multiprobe' FROM p), p
        |ORDER BY method""".stripMargin,

    // same literal-TRUE shape as q112's: the bound comparisons are
    // deterministic exact-integer arithmetic Spark-side. The probe
    // stride is corpus-capped (greatest(50, n//40) — the contract's
    // raw-ADC tier is a probes×corpus sweep, so the sample stays ~40)
    "q156_pq_recall" ->
      """WITH c AS (SELECT count(*) AS n FROM embeddings),
        |p AS (SELECT count(*) AS n_probes FROM embeddings, c
        |      WHERE vec_id % greatest(50, c.n // 40) = 7)
        |SELECT method, n_probes, true AS recall_ok
        |FROM (SELECT 'ivfpq' AS method FROM p
        |      UNION ALL SELECT 'pq_adc' FROM p
        |      UNION ALL SELECT 'pq_two_tier' FROM p), p
        |ORDER BY method""".stripMargin,

    // q156's literal-TRUE shape for the residual tiers: the bound
    // comparisons are deterministic exact-integer arithmetic Spark-side
    "q169_residual_recall" ->
      """WITH c AS (SELECT count(*) AS n FROM embeddings),
        |p AS (SELECT count(*) AS n_probes FROM embeddings, c
        |      WHERE vec_id % greatest(50, c.n // 40) = 7)
        |SELECT method, n_probes, true AS recall_ok
        |FROM (SELECT 'ivfpq_residual' AS method FROM p
        |      UNION ALL SELECT 'residual_adc' FROM p
        |      UNION ALL SELECT 'residual_two_tier' FROM p), p
        |ORDER BY method""".stripMargin,

    // deterministic GK rank guarantee: the oracle recomputes n and
    // emits literal TRUE per contract column
    "q105_approx_percentile" ->
      """SELECT event_type, count(*) AS n,
        |       true AS within_p50, true AS within_p95
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    // pair_freq is CAST: DuckDB widens sum(BIGINT) to HUGEINT, Spark
    // emits BIGINT, and the driver's hash is type-sensitive — the
    // repo-wide integer-results-as-BIGINT rule (RefQueries.scala) that
    // tools/check_oracle.py now enforces mechanically
    "q161_bpe_train" ->
      s"""WITH $bpeCtes
         |SELECT * FROM (
         |  ${(1 to 10).map(r =>
              s"SELECT $r AS merge_rank, lhs, rhs, CAST(cnt AS BIGINT) AS pair_freq FROM best$r")
              .mkString("\n  UNION ALL ")})
         |ORDER BY merge_rank""".stripMargin,

    "q162_bpe_tokens" ->
      s"""WITH $bpeCtes
         |SELECT tok.doc_id,
         |       CAST(sum(len(w11.syms)) AS BIGINT) AS n_bpe,
         |       count(*) AS n_words
         |FROM tok JOIN w11 ON w11.word = tok.tok
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q165_bpe_encode" ->
      s"""WITH $bpeEncodeCtes
         |SELECT tok.doc_id,
         |       CAST(sum(len(h11.syms)) AS BIGINT) AS n_bpe,
         |       count(*) AS n_words
         |FROM tok JOIN h11 ON h11.word = tok.tok
         |WHERE tok.doc_id % 4 = 3
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q106_ngram_containment" -> containmentOracle,

    // the STORED-index detector must return exactly what the from-text
    // detector returns — one oracle string, two judged plans (the
    // q125/q37 argument, for the shingle index)
    "q143_stored_containment" -> containmentOracle,

    "q107_split_leakage" ->
      s"""WITH ${ExtQueries.tokensCte},
         |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
         |       FROM w, UNNEST(generate_series(1, greatest(len(w)-2, 0))) AS g(i)
         |       WHERE len(w) >= 3),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 1000),
         |post AS (SELECT * FROM sh ANTI JOIN hot USING (sh)),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |          FROM post a JOIN post b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes na ON na.doc_id = id_a
         |  JOIN sizes nb ON nb.doc_id = id_b
         |  WHERE CAST(n_inter AS DOUBLE) / CAST(na.n + nb.n - n_inter AS DOUBLE) >= 0.5),
         |lab AS (SELECT doc_id,
         |               CASE WHEN $hashU24 / 16777216.0 < 0.8 THEN 'train'
         |                    WHEN $hashU24 / 16777216.0 < 0.9 THEN 'val'
         |                    ELSE 'test' END AS split
         |        FROM documents d)
         |SELECT least(la.split, lb.split) AS split_lo,
         |       greatest(la.split, lb.split) AS split_hi,
         |       count(*) AS n_pairs
         |FROM pairs
         |JOIN lab la ON la.doc_id = id_a
         |JOIN lab lb ON lb.doc_id = id_b
         |GROUP BY 1, 2 ORDER BY split_lo, split_hi""".stripMargin,

    "q108_token_entropy" ->
      s"""WITH ${ExtQueries.tokensCte},
         |tok AS (SELECT doc_id, u.t AS t FROM w, UNNEST(w.w) AS u(t)),
         |tf AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
         |agg AS (SELECT doc_id, sum(c) AS n,
         |               sum(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)), 9)
         |                        AS DECIMAL(28,10))) AS s
         |        FROM tf GROUP BY 1)
         |SELECT doc_id,
         |       round(ln(CAST(n AS DOUBLE)) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6)
         |         AS token_entropy
         |FROM agg ORDER BY doc_id""".stripMargin,

    "q109_cross_dedup" ->
      s"""WITH ${ExtQueries.tokensCte},
         |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
         |       FROM w, UNNEST(generate_series(1, greatest(len(w)-2, 0))) AS g(i)
         |       WHERE len(w) >= 3),
         |newsh AS (SELECT * FROM sh WHERE doc_id % 4 = 1),
         |oldsh AS (SELECT * FROM sh WHERE doc_id % 4 <> 1),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |hot AS (SELECT sh FROM oldsh GROUP BY sh HAVING count(*) > 1000),
         |post AS (SELECT * FROM oldsh ANTI JOIN hot USING (sh)),
         |inter AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, count(*) AS n_inter
         |          FROM newsh a JOIN post b ON a.sh = b.sh
         |          GROUP BY 1, 2)
         |SELECT new_id, corpus_id,
         |       CAST(n_inter AS DOUBLE) / CAST(na.n + nb.n - n_inter AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN sizes na ON na.doc_id = new_id
         |JOIN sizes nb ON nb.doc_id = corpus_id
         |WHERE CAST(n_inter AS DOUBLE) / CAST(na.n + nb.n - n_inter AS DOUBLE) >= 0.5
         |ORDER BY new_id, corpus_id""".stripMargin,

    // from-scratch replay of the incremental loop: batch-1 pairs →
    // survivors → corpus ∪ survivors → batch-2 pairs (the Spark side
    // computes batch 2 against the FOLDED index; equality of the two IS
    // the write-back contract)
    "q113_incremental_index" ->
      s"""WITH ${ExtQueries.tokensCte},
         |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
         |       FROM w, UNNEST(generate_series(1, greatest(len(w)-2, 0))) AS g(i)
         |       WHERE len(w) >= 3),
         |c0 AS (SELECT * FROM sh WHERE doc_id % 4 <> 1 AND doc_id % 4 <> 2),
         |b1 AS (SELECT * FROM sh WHERE doc_id % 4 = 1),
         |b2 AS (SELECT * FROM sh WHERE doc_id % 4 = 2),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |hot0 AS (SELECT sh FROM c0 GROUP BY sh HAVING count(*) > 1000),
         |post0 AS (SELECT * FROM c0 ANTI JOIN hot0 USING (sh)),
         |i1 AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, count(*) AS n_inter
         |       FROM b1 a JOIN post0 b ON a.sh = b.sh GROUP BY 1, 2),
         |p1 AS (SELECT new_id FROM i1
         |       JOIN sizes na ON na.doc_id = new_id
         |       JOIN sizes nb ON nb.doc_id = corpus_id
         |       WHERE CAST(n_inter AS DOUBLE) / CAST(na.n + nb.n - n_inter AS DOUBLE) >= 0.5),
         |surv AS (SELECT doc_id FROM documents
         |         WHERE doc_id % 4 = 1 AND doc_id NOT IN (SELECT new_id FROM p1)),
         |c1 AS (SELECT * FROM c0
         |       UNION ALL SELECT * FROM b1 SEMI JOIN surv USING (doc_id)),
         |hot1 AS (SELECT sh FROM c1 GROUP BY sh HAVING count(*) > 1000),
         |post1 AS (SELECT * FROM c1 ANTI JOIN hot1 USING (sh)),
         |i2 AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, count(*) AS n_inter
         |       FROM b2 a JOIN post1 b ON a.sh = b.sh GROUP BY 1, 2)
         |SELECT new_id, corpus_id,
         |       CAST(n_inter AS DOUBLE) / CAST(na.n + nb.n - n_inter AS DOUBLE) AS jaccard
         |FROM i2
         |JOIN sizes na ON na.doc_id = new_id
         |JOIN sizes nb ON nb.doc_id = corpus_id
         |WHERE CAST(n_inter AS DOUBLE) / CAST(na.n + nb.n - n_inter AS DOUBLE) >= 0.5
         |ORDER BY new_id, corpus_id""".stripMargin,

    // per-stage oracle composition: q82's k-means CTEs verbatim (→ a2)
    // + q28's 8-plane LSH pair CTE + the recursive closure over
    // within-cell pairs + the component-minimum keep rule
    "q115_semdedup" ->
      s"""WITH RECURSIVE ${ExtQueries.kmeansCtes},
         |bk AS (SELECT vec_id, v, ${ExtQueries.duckBucket(ExtQueries.planes8)} AS bucket,
         |              sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |pairs AS (
         |  SELECT a.vec_id AS id_a, bb.vec_id AS id_b
         |  FROM bk a JOIN bk bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
         |  WHERE round(list_dot_product(a.v, bb.v) / (a.nrm * bb.nrm), 6) >= 0.35),
         |cellpairs AS (
         |  SELECT p.id_a, p.id_b FROM pairs p
         |  JOIN a2 xa ON xa.vec_id = p.id_a
         |  JOIN a2 xb ON xb.vec_id = p.id_b
         |  WHERE xa.cell = xb.cell),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM cellpairs
         |          UNION SELECT id_b, id_a FROM cellpairs),
         |r(id, reach) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e2.src, r.reach FROM edges e2 JOIN r ON e2.dst = r.id),
         |cl AS (SELECT id, min(reach) AS rep FROM r GROUP BY id)
         |SELECT a2.vec_id, a2.cell,
         |       coalesce(cl.rep, a2.vec_id) AS sem_rep,
         |       (coalesce(cl.rep, a2.vec_id) = a2.vec_id) AS is_keeper
         |FROM a2 LEFT JOIN cl ON cl.id = a2.vec_id
         |ORDER BY vec_id""".stripMargin,

    // per-stage oracle composition: q84's gate CTEs verbatim → shingles
    // restricted to the gated corpus → q92's pair CTE → q110/q111's
    // recursive closure → keeper window + representative-hash split
    "q114_curation_pipeline" -> curationPipelineSql,
    // q114's oracle VERBATIM: the pipeline's decision relation cannot
    // depend on whether its pair source and contamination probe were
    // computed in-session or read from the at-rest indexes
    "q196_curation_at_rest" -> curationPipelineSql,

    "q111_keep_best" -> keepBestOracle,

    // ... and neither can the keep-best pass care whether its pairs
    // were re-shingled from text or read from the stored index
    "q144_stored_keep_best" -> keepBestOracle,

    "q110_cluster_safe_split" ->
      s"""WITH RECURSIVE ${ExtQueries.tokensCte},
         |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
         |       FROM w, UNNEST(generate_series(1, greatest(len(w)-2, 0))) AS g(i)
         |       WHERE len(w) >= 3),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 1000),
         |post AS (SELECT * FROM sh ANTI JOIN hot USING (sh)),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |          FROM post a JOIN post b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes na ON na.doc_id = id_a
         |  JOIN sizes nb ON nb.doc_id = id_b
         |  WHERE CAST(n_inter AS DOUBLE) / CAST(na.n + nb.n - n_inter AS DOUBLE) >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |r(id, reach) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.reach FROM edges e JOIN r ON e.dst = r.id),
         |cl AS (SELECT id, min(reach) AS rep FROM r GROUP BY id),
         |lab AS (SELECT d.doc_id, coalesce(cl.rep, d.doc_id) AS rep
         |        FROM documents d LEFT JOIN cl ON cl.id = d.doc_id),
         |u AS (SELECT doc_id,
         |             CAST(('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 6)) AS BIGINT)
         |               / 16777216.0 AS u
         |      FROM lab)
         |SELECT doc_id,
         |       CASE WHEN u < 0.8 THEN 'train'
         |            WHEN u < 0.9 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM u ORDER BY doc_id""".stripMargin,

    // q92's pair pipeline over the surviving corpus — delete semantics
    // for the shingle store: pairs, sizes, and the stop-shingle df cap
    // all recomputed over survivors only
    "q167_shingle_delete" ->
      s"""WITH w AS (SELECT doc_id,
         |            list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
         |          FROM documents WHERE doc_id % 7 <> 3),
         |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
         |       FROM w, UNNEST(generate_series(1, greatest(len(w)-2, 0))) AS g(i)
         |       WHERE len(w) >= 3),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 1000),
         |post AS (SELECT * FROM sh ANTI JOIN hot USING (sh)),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |          FROM post a JOIN post b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |       CAST(n_inter AS DOUBLE) / CAST(na.n + nb.n - n_inter AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN sizes na ON na.doc_id = id_a
         |JOIN sizes nb ON nb.doc_id = id_b
         |WHERE CAST(n_inter AS DOUBLE) / CAST(na.n + nb.n - n_inter AS DOUBLE) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    "q92_ngram_jaccard" ->
      s"""WITH ${ExtQueries.tokensCte},
         |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
         |       FROM w, UNNEST(generate_series(1, greatest(len(w)-2, 0))) AS g(i)
         |       WHERE len(w) >= 3),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 1000),
         |post AS (SELECT * FROM sh ANTI JOIN hot USING (sh)),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |          FROM post a JOIN post b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |       CAST(n_inter AS DOUBLE) / CAST(na.n + nb.n - n_inter AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN sizes na ON na.doc_id = id_a
         |JOIN sizes nb ON nb.doc_id = id_b
         |WHERE CAST(n_inter AS DOUBLE) / CAST(na.n + nb.n - n_inter AS DOUBLE) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    // the bloom filter is pruning-only: the oracle is the plain semi join
    "q93_bloom_join" ->
      """SELECT o_orderstatus AS status, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY 1 ORDER BY status""".stripMargin,

    // epsilon contract: exact counts recomputed, bounds emitted as TRUE
    "q94_cms_topk" ->
      s"""WITH ${ExtQueries.tokensCte},
         |tok AS (SELECT doc_id, u.t AS t FROM w, UNNEST(w.w) AS u(t))
         |SELECT t AS term, count(*) AS exact_n, true AS within_bound
         |FROM tok GROUP BY 1
         |ORDER BY exact_n DESC, term LIMIT 20""".stripMargin,

    "q95_bm25" -> bm25TopSql,

    // delete semantics: a deleted document is indistinguishable from
    // one never ingested — q95's pipeline over the surviving corpus
    // (dl/stats/df all recomputed over survivors only)
    "q166_bm25_delete" ->
      s"""WITH w AS (SELECT doc_id,
         |            list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
         |          FROM documents WHERE doc_id % 7 <> 3),
         |tok AS (SELECT doc_id, u.t AS tok FROM w, UNNEST(w.w) AS u(t)),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         |${bm25BodyFor(bm25TermList, "")}
         |SELECT doc_id, score FROM bm
         |ORDER BY score DESC, doc_id""".stripMargin,

    // the stored-index serving path, its ingest replay, the
    // term-bucketed layout, and its OPTIMIZE must each return exactly
    // what the from-text scorer returns — ONE oracle string, five
    // judged plans (the q125/q143 argument, for retrieval)
    "q152_bm25_stored" -> bm25TopSql,
    "q153_bm25_stored_ingest" -> bm25TopSql,
    "q154_bm25_bucketed" -> bm25TopSql,
    "q155_bm25_optimize" -> bm25TopSql,

    // batched serving: one corpus-pass head, one suffixed scoring body
    // per query, unioned with the query id — batching cannot change
    // any single query's ranking
    "q163_bm25_batch" -> {
      val bodies = bm25BatchQueries.map { case (qid, ts) =>
        bm25BodyFor(ts.map(t => s"'$t'").mkString(", "), s"_b$qid")
      }.mkString(",\n")
      val union = bm25BatchQueries.map { case (qid, _) =>
        s"SELECT CAST($qid AS BIGINT) AS query_id, doc_id, score FROM bm_b$qid"
      }.mkString("\n  UNION ALL ")
      s"""WITH $bm25Head,
         |$bodies
         |SELECT * FROM (
         |  $union)
         |ORDER BY query_id, score DESC, doc_id""".stripMargin
    },

    // hybrid retrieval: the bm25 CTEs (q95's, verbatim) and the dense
    // cosine cut (q26's shape at poolK=20) ranked independently, fused
    // by reciprocal rank — integer ranks make the fusion arithmetic
    // exact cross-engine (identical IEEE divisions, fixed-order sum)
    "q127_hybrid_rrf" ->
      s"""WITH $bm25Ctes,
         |rs AS (SELECT doc_id,
         |              row_number() OVER (ORDER BY score DESC, doc_id) AS rs
         |       FROM bm),
         |${ExtQueries.embCte},
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |dn AS (SELECT e.vec_id AS doc_id,
         |              round(list_dot_product(e.v, q.qv)
         |                / (sqrt(list_dot_product(e.v, e.v))
         |                   * sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
         |       FROM e, q
         |       WHERE e.vec_id <> 0 AND list_dot_product(e.v, e.v) > 0
         |       ORDER BY sim DESC, e.vec_id LIMIT 20),
         |rd AS (SELECT doc_id,
         |              row_number() OVER (ORDER BY sim DESC, doc_id) AS rd
         |       FROM dn)
         |SELECT COALESCE(rs.doc_id, rd.doc_id) AS doc_id,
         |       round(COALESCE(1.0::DOUBLE / CAST(60 + rs.rs AS DOUBLE), 0.0)
         |           + COALESCE(1.0::DOUBLE / CAST(60 + rd.rd AS DOUBLE), 0.0), 6) AS rrf
         |FROM rs FULL OUTER JOIN rd ON rs.doc_id = rd.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,

    // the Laplace bigram model replayed relationally: history counts
    // from the bigram relation, vocabulary over ALL tokens, identical
    // double division → ln → round-9 → DECIMAL-sum → round-6 mean
    "q131_bigram_lm" -> bigramLmSql,
    // q131's oracle VERBATIM: batch decomposition, compaction, and
    // post-compaction retries cannot change a score
    "q190_lm_count_store" -> bigramLmSql,
    // unlearn == retrain-without: the oracle trains from scratch on
    // the surviving slice (q181's law for the generative gate)
    "q191_lm_unlearn" -> bigramLmSqlFor("doc_id % 4 <> 3"),

    // both serving paths retrained from scratch: live = the self-
    // trained full-corpus model (inner joins — every bigram is in
    // training), snap = the b0∪b1 model scoring EVERYTHING held-out-
    // style (left joins + Laplace floor for b2's unseen mass). The
    // count store's snapshot serve must equal both, or where the
    // counts lived (live vs compaction-retired partitions) leaked
    // into a score.
    "q209_lm_snapshot_serve" ->
      s"""WITH ${ExtQueries.tokensCte},
         |bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
         |       FROM w, UNNEST(generate_series(1, len(w)-1)) AS g(i)
         |       WHERE len(w) >= 2),
         |lcb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
         |lc1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
         |lv AS (SELECT count(DISTINCT u.t) AS v FROM w, UNNEST(w.w) AS u(t)),
         |lsc AS (SELECT bg.doc_id,
         |               CAST(round(-ln(CAST(lcb.cb + 1 AS DOUBLE)
         |                              / CAST(lc1.c1 + lv.v AS DOUBLE)), 9)
         |                    AS DECIMAL(28,10)) AS c
         |        FROM bg JOIN lcb USING (w1, w2) JOIN lc1 USING (w1), lv),
         |live AS (SELECT 'live' AS serving, doc_id,
         |                CAST(count(*) AS BIGINT) AS n_bigrams,
         |                round(CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS nll
         |         FROM lsc GROUP BY doc_id),
         |tbg AS (SELECT w1, w2 FROM bg WHERE doc_id % 3 <> 2),
         |scb AS (SELECT w1, w2, count(*) AS cb FROM tbg GROUP BY 1, 2),
         |sc1 AS (SELECT w1, count(*) AS c1 FROM tbg GROUP BY 1),
         |sv AS (SELECT count(DISTINCT u.t) AS v
         |       FROM w, UNNEST(w.w) AS u(t) WHERE w.doc_id % 3 <> 2),
         |ssc AS (SELECT bg.doc_id,
         |               CAST(round(-ln(CAST(COALESCE(scb.cb, 0) + 1 AS DOUBLE)
         |                              / CAST(COALESCE(sc1.c1, 0) + sv.v AS DOUBLE)), 9)
         |                    AS DECIMAL(28,10)) AS c
         |        FROM bg LEFT JOIN scb USING (w1, w2)
         |                LEFT JOIN sc1 USING (w1), sv),
         |snap AS (SELECT 'snap' AS serving, doc_id,
         |                CAST(count(*) AS BIGINT) AS n_bigrams,
         |                round(CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS nll
         |         FROM ssc GROUP BY doc_id)
         |SELECT * FROM live UNION ALL SELECT * FROM snap
         |ORDER BY serving, doc_id""".stripMargin,

    // the epoch shuffle replayed as ONE global window (the oracle can
    // afford the single partition the engine must avoid): seeded md5
    // order, exclusive prefix sum, exact integer shard division
    "q210_epoch_shard_plan" ->
      s"""WITH ${ExtQueries.tokensCte},
         |o AS (SELECT doc_id, len(w) AS n_tokens,
         |             md5('42:' || CAST(doc_id AS VARCHAR)) AS hkey
         |      FROM w),
         |c AS (SELECT doc_id, hkey, n_tokens,
         |             COALESCE(SUM(n_tokens) OVER (ORDER BY hkey
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |               0) AS prev
         |      FROM o)
         |SELECT doc_id, hkey, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       CAST(prev // 2000 AS BIGINT) AS shard
         |FROM c ORDER BY doc_id""".stripMargin,

    // the calibration sweep replayed over the q173 posterior chain:
    // margin = rank-1 − rank-2 score (both 6-rounded), per-threshold
    // conditional counts against ground truth, ratios rounded at 6.
    // The grid guarantees n_above ≥ 1 at every test scale, so the
    // plain division mirrors the engine's non-NULL branch exactly.
    "q211_gate_calibration" ->
      s"""WITH ${nbScoreCtes("w.doc_id % 4 <> 3", ExtQueries.tokensCte)},
         |mg AS (SELECT a.doc_id, a.lang AS pred_label,
         |              round(a.score - b.score, 6) AS margin
         |       FROM rk a JOIN rk b
         |         ON a.doc_id = b.doc_id AND a.rk = 1 AND b.rk = 2),
         |tv AS (SELECT m.margin,
         |              CASE WHEN m.pred_label = d.lang THEN 1 ELSE 0 END AS ok
         |       FROM mg m JOIN documents d ON d.doc_id = m.doc_id),
         |n AS (SELECT count(*) AS n_docs FROM tv),
         |th AS (SELECT * FROM (VALUES (0.0), (0.25), (0.5), (0.75), (1.0))
         |       t(threshold))
         |SELECT CAST(th.threshold AS DOUBLE) AS threshold,
         |       CAST(n.n_docs AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN tv.margin >= th.threshold
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
         |       CAST(sum(CASE WHEN tv.margin >= th.threshold AND tv.ok = 1
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_correct_above,
         |       round(CAST(sum(CASE WHEN tv.margin >= th.threshold
         |                          THEN 1 ELSE 0 END) AS DOUBLE)
         |             / CAST(n.n_docs AS DOUBLE), 6) AS coverage,
         |       round(CAST(sum(CASE WHEN tv.margin >= th.threshold AND tv.ok = 1
         |                          THEN 1 ELSE 0 END) AS DOUBLE)
         |             / CAST(sum(CASE WHEN tv.margin >= th.threshold
         |                            THEN 1 ELSE 0 END) AS DOUBLE), 6) AS acc_above
         |FROM tv CROSS JOIN th CROSS JOIN n
         |GROUP BY th.threshold, n.n_docs
         |ORDER BY th.threshold""".stripMargin,

    "q212_corpus_datacard" ->
      s"""WITH ${ExtQueries.tokensCte},
         |base AS (SELECT d.lang, len(w.w) AS n_tok, md5(d.text) AS h
         |         FROM documents d JOIN w ON w.doc_id = d.doc_id),
         |mult AS (SELECT h, count(*) AS nh FROM base GROUP BY 1)
         |SELECT b.lang,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(b.n_tok) AS BIGINT) AS n_tokens,
         |       round(CAST(sum(b.n_tok) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 6) AS avg_tokens,
         |       CAST(sum(CASE WHEN m.nh >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS dup_docs,
         |       round(CAST(sum(CASE WHEN m.nh >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 6) AS dup_frac,
         |       CAST(sum(CASE WHEN b.n_tok < 10 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS short_docs,
         |       round(CAST(sum(CASE WHEN b.n_tok < 10 THEN 1 ELSE 0 END) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 6) AS short_frac
         |FROM base b JOIN mult m USING (h)
         |GROUP BY b.lang ORDER BY b.lang""".stripMargin,

    // both serving paths retrained from scratch: live = the %4<>3
    // model (q178's oracle), snap = the b0∪b1 model — a pinned label
    // decision cannot depend on batches after the pin, nor on where
    // the counts live (live vs compaction-retired partitions)
    "q213_nb_snapshot_serve" ->
      s"""SELECT * FROM (
         |  SELECT 'live' AS serving, q.* FROM (
         |${nbClassifySqlFor("w.doc_id % 4 <> 3")}) q
         |  UNION ALL
         |  SELECT 'snap' AS serving, q.* FROM (
         |${nbClassifySqlFor("w.doc_id % 4 IN (0, 1)")}) q
         |) ORDER BY serving, doc_id""".stripMargin,

    // the train/score split replayed relationally: frozen counts and V
    // from the doc_id % 4 <> 3 slice, held-out bigrams LEFT-joined so
    // unseen bigrams/histories hit the Laplace floor (COALESCE 0) —
    // q131's arithmetic against a model the scored rows never touched
    "q135_bigram_score_heldout" ->
      s"""WITH ${ExtQueries.tokensCte},
         |train AS (SELECT doc_id, w FROM w WHERE doc_id % 4 <> 3),
         |tbg AS (SELECT w[i] AS w1, w[i+1] AS w2
         |        FROM train, UNNEST(generate_series(1, len(w)-1)) AS g(i)
         |        WHERE len(w) >= 2),
         |cb AS (SELECT w1, w2, count(*) AS cb FROM tbg GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM tbg GROUP BY 1),
         |vocab AS (SELECT count(DISTINCT u.t) AS v
         |          FROM train, UNNEST(train.w) AS u(t)),
         |sbg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
         |        FROM w, UNNEST(generate_series(1, len(w)-1)) AS g(i)
         |        WHERE doc_id % 4 = 3 AND len(w) >= 2),
         |scored AS (SELECT sbg.doc_id,
         |                  CAST(round(-ln(CAST(COALESCE(cb.cb, 0) + 1 AS DOUBLE)
         |                                 / CAST(COALESCE(c1.c1, 0) + vocab.v AS DOUBLE)), 9)
         |                       AS DECIMAL(28,10)) AS c
         |           FROM sbg LEFT JOIN cb USING (w1, w2)
         |                    LEFT JOIN c1 USING (w1), vocab)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |       round(CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS nll
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q96_robust_outliers" ->
      """WITH med AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        |             FROM events GROUP BY 1),
        |mad AS (SELECT e.event_type,
        |               round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
        |        FROM events e JOIN med m USING (event_type) GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        |       round(abs(e.value - m.med) / (1.4826 * d.mad), 6) AS robust_z
        |FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
        |WHERE d.mad > 0
        |  AND round(abs(e.value - m.med) / (1.4826 * d.mad), 6) > 3.0
        |ORDER BY event_id""".stripMargin,

    "q97_pagerank" -> pagerankOracle,

    "q98_hash_split" ->
      s"""WITH u AS (SELECT *, $hashU24 / 16777216.0 AS u
         |           FROM documents d),
         |lab AS (SELECT lang, n_chars,
         |               CASE WHEN u < 0.8 THEN 'train'
         |                    WHEN u < 0.9 THEN 'val'
         |                    ELSE 'test' END AS split
         |        FROM u)
         |SELECT split, lang, count(*) AS n,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM lab GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,

    "q99_stratified_sample" ->
      s"""WITH fr(lang, keep_frac) AS (VALUES
         |  ('en', 0.5), ('es', 0.25), ('de', 0.25), ('fr', 0.125))
         |SELECT d.doc_id, d.lang
         |FROM documents d JOIN fr ON d.lang = fr.lang
         |WHERE $hashU24 / 16777216.0 < fr.keep_frac
         |ORDER BY doc_id""".stripMargin,

    "q100_mixture_resample" ->
      s"""WITH w(source, wt) AS (VALUES
         |  ('src0', 0.4), ('src1', 0.3), ('src2', 0.2), ('src3', 0.1)),
         |n AS (SELECT d.source, wt, count(*) AS n
         |      FROM documents d JOIN w ON d.source = w.source GROUP BY 1, 2),
         |t AS (SELECT min(CAST(n AS DOUBLE) / wt) AS t FROM n),
         |fr AS (SELECT source, round(wt * t.t / CAST(n AS DOUBLE), 6) AS keep_frac
         |       FROM n, t)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN fr ON d.source = fr.source
         |WHERE $hashU24 / 16777216.0 < fr.keep_frac
         |ORDER BY doc_id""".stripMargin,

    "q101_quota_cap" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
        |                  row_number() OVER (PARTITION BY source
        |                                     ORDER BY n_chars DESC, doc_id ASC)
        |                    AS rank_in_domain
        |           FROM documents)
        |SELECT doc_id, source, n_chars, rank_in_domain
        |FROM r WHERE rank_in_domain <= 5
        |ORDER BY source, rank_in_domain""".stripMargin,

    "q102_chunk_overlap" ->
      s"""WITH ${ExtQueries.tokensCte},
         |starts AS (SELECT doc_id, w, g.s AS s
         |           FROM w, UNNEST(generate_series(0, len(w) - 1, 6)) AS g(s)
         |           WHERE len(w) > 0),
         |ch AS (SELECT doc_id, s // 6 AS chunk_id,
         |              w[s + 1 : least(s + 8, len(w))] AS toks
         |       FROM starts)
         |SELECT doc_id, chunk_id, len(toks) AS n_toks,
         |       md5(array_to_string(toks, ' ')) AS chunk_md5
         |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,

    "q103_temperature_resample" ->
      s"""WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         |mn AS (SELECT min(n) AS nmin FROM n),
         |fr AS (SELECT lang,
         |              round(pow(CAST(mn.nmin AS DOUBLE) / CAST(n AS DOUBLE), 0.5), 6)
         |                AS keep_frac
         |       FROM n, mn)
         |SELECT d.doc_id, d.lang
         |FROM documents d JOIN fr ON d.lang = fr.lang
         |WHERE $hashU24 / 16777216.0 < fr.keep_frac
         |ORDER BY doc_id""".stripMargin,

    "q104_exact_k_sample" ->
      s"""WITH r AS (SELECT doc_id, lang,
         |                  row_number() OVER (
         |                    PARTITION BY lang
         |                    ORDER BY $hashU24 / 16777216.0 ASC, doc_id ASC)
         |                    AS sample_rank
         |           FROM documents d)
         |SELECT doc_id, lang, sample_rank
         |FROM r WHERE sample_rank <= 50
         |ORDER BY lang, sample_rank""".stripMargin,
  )
}
