package graft.ops

import graft.io.Swap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH
  * near-dup, SimHash, and n-gram Jaccard verification.
  *
  * Scale design:
  *  - exact dedup is one hash-groupBy — a single shuffle on a 32-char key,
  *    map-side partial aggregation applies;
  *  - MinHash/LSH avoids the O(n²) pair space: candidate pairs come from a
  *    band-bucket self-join, so the shuffle carries (band, bucket) groups,
  *    not the cross product. Only candidates get the exact Jaccard pass;
  *  - hash functions are md5-based (seeded by suffix), so signatures are
  *    engine-independent and reproducible — no JVM `hashCode` anywhere.
  */
object Dedup {

  /** Lexicographically-first-wins exact duplicate groups: one row per
    * distinct text hash with the keeper id and the duplicate count.
    */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Distinct k-word shingles of a token array (1-based positions,
    * matching SQL semantics; short documents yield no shingles).
    */
  def shingles(toks: Column, k: Int = 3): Column = {
    val idx = when(size(toks) >= k, sequence(lit(1), size(toks) - (k - 1)))
      .otherwise(array().cast("array<int>"))
    array_distinct(transform(idx, i =>
      concat_ws(" ", (0 until k).map(o => element_at(toks, i + o)): _*)))
  }

  /** One row per (doc, distinct shingle).
    *
    * Built explode-first — `posexplode(split(...))` + row filter + window
    * `lead` — rather than over token arrays: Spark's higher-order array
    * functions (`transform`/`filter`) evaluate interpreted, outside
    * whole-stage codegen. Measured steady-state at sf0.1 (ProfileForms,
    * 2026-08-12, same pattern as simhash): the relational form wins by
    * 1.5-8x depending on how many times the HOF plan re-evaluates the
    * shared array. Costs one shuffle (the window partition by doc), which
    * the downstream signature groupBy reuses conceptually; every operator
    * here is codegen'd.
    */
  def shingleTable(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    val tok = df
      .select(col(idCol), posexplode(split(lower(col(textCol)), " ")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val parts = col("tok") +: (1 until k).map(o => lead(col("tok"), o).over(w))
    tok
      .select(col(idCol), concat_ws(" ", parts: _*).as("sh"), parts.last.isNotNull.as("full"))
      .filter(col("full"))
      .select(col(idCol), col("sh"))
      .dropDuplicates(idCol, "sh")
  }

  /** The 8-hex-char (32-bit) hash family used for MinHash: hash s of a
    * shingle is a substring of md5 digest number s/4 (digest d appends d
    * '#' marks), so n hashes cost ceil(n/4) md5 evaluations per shingle —
    * the md5 is by far the dominant cost at scale.
    */
  private[ops] def hashExpr(sh: Column, s: Int): Column = {
    val digest = md5(concat(sh +: Seq.fill(s / 4)(lit("#")): _*))
    substring(digest, (s % 4) * 8 + 1, 8)
  }

  /** MinHash signature: h_s(doc) = min over shingles of the s-th 32-bit
    * md5-derived hash. Output: (id, h0..h{n-1}). One shuffle; map-side
    * partial min keeps it light.
    *
    * The digests are materialized as projected columns BEFORE the
    * aggregation: aggregate codegen does not share subexpressions across
    * aggregate functions, so `min(substring(md5(..)))` ×8 would evaluate
    * md5 eight times per shingle — projecting the ceil(n/4) distinct
    * digests first pays exactly 2 md5 evaluations per shingle for 8
    * hashes (measured ~25% off the signature stage at sf0.1).
    */
  def minhashSignatures(shingleDf: DataFrame, idCol: String, numHashes: Int = 8): DataFrame = {
    val nDigests = (numHashes + 3) / 4
    val withDigests = shingleDf.select(
      col(idCol) +: (0 until nDigests).map(d =>
        md5(concat(col("sh") +: Seq.fill(d)(lit("#")): _*)).as(s"__d$d")): _*)
    def h(s: Int): Column = substring(col(s"__d${s / 4}"), (s % 4) * 8 + 1, 8)
    withDigests.groupBy(col(idCol))
      .agg(
        min(h(0)).as("h0"),
        (1 until numHashes).map(s => min(h(s)).as(s"h$s")) :+
          count(lit(1)).as("n_shingles"): _*)
  }

  /** LSH banding: signature split into `bands` bands of `rowsPerBand`
    * hashes; docs sharing any full band key become candidate pairs.
    * Returns distinct (id_a, id_b) with id_a < id_b.
    */
  def lshCandidatePairs(signatures: DataFrame, idCol: String,
      bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    val bandKeys = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|", (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*)
          .as("bkey"))
    }
    val exploded = signatures
      .select(col(idCol), explode(array(bandKeys: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val a = exploded.as("a")
    val b = exploded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** End-to-end MinHash near-duplicate detection: shingle → signature →
    * LSH candidates → exact Jaccard filter at `threshold`.
    */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, numHashes: Int = 8, bands: Int = 4,
      shingleK: Int = 3): DataFrame = {
    // The shingle relation is consumed four times (signatures, pair
    // intersection twice, sizes). Persist it; materialization rides on
    // the cand.count() below (whose signature groupBy consumes every sh
    // partition), so the later consumers read a fully-built cache
    // without paying a separate materialization job.
    val sh = shingleTable(df, idCol, textCol, shingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The signature relation is 1 row × (numHashes+2) cols per doc —
    // tiny. Persisting it lets both the band join AND the set-size
    // lookup read it without re-running the md5 aggregation (its
    // n_shingles column IS the set size the Jaccard denominator needs).
    val sig = minhashSignatures(sh, idCol, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // LSH keeps |cand| << n^2 AND << n·shingles — everything after this
    // line is proportional to the candidate set, never the corpus.
    // Persist + materialize: cand feeds three consumers (two id-set
    // semi-joins and the intersection join); its job also materializes
    // the sh and sig caches upstream.
    val cand = lshCandidatePairs(sig, idCol, bands, numHashes / bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cand.count()
    // Restrict the corpus-sized shingle relation to candidate docs with
    // broadcast semi-joins BEFORE the exact-Jaccard pass: the round-2
    // shape joined the full shingle table twice (two corpus-wide
    // shuffles); this shape shuffles only candidate docs' shingles.
    // Semantics are identical — non-candidate shingles can't contribute
    // to a candidate pair's intersection. The candidate id set stays
    // broadcastable even at 100 TB corpus scale as long as the dup rate
    // is sane; if it isn't, drop the hint and the semi-join still holds
    // the shuffle to |cand-docs|·shingles.
    val idsA = cand.select(col("id_a")).distinct()
    val idsB = cand.select(col("id_b")).distinct()
    val shA = sh.toDF("id_a", "sh").join(broadcast(idsA), "id_a", "leftsemi")
    val shB = sh.toDF("id_b", "sh").join(broadcast(idsB), "id_b", "leftsemi")
    // set sizes ride the cached signature relation (one row per doc) —
    // no extra aggregate over the corpus-sized shingle relation
    val sizes = sig.select(col(idCol), col("n_shingles").as("n"))
    val inter = cand.join(shA, "id_a").join(shB, Seq("id_b", "sh"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    val pairs = inter
      .join(sizes.toDF("id_a", "n_a").join(broadcast(idsA), "id_a", "leftsemi"), "id_a")
      .join(sizes.toDF("id_b", "n_b").join(broadcast(idsB), "id_b", "leftsemi"), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // Materialize the (candidate-proportional) pair list and RELEASE the
    // three pins — the un-persist-on-completion contract. Without it the
    // corpus-sized shingle cache outlives the call in a long session.
    CacheLifecycle.resolveAndRelease(pairs, sh, sig, cand)
  }

  /** EXACT n-gram Jaccard near-duplicate pairs via an inverted shingle
    * index — the deterministic counterpart of [[nearDuplicates]]:
    * MinHash+LSH finds candidates *probabilistically* (a pair can be
    * missed when no band agrees); this enumerates every pair sharing at
    * least one surviving shingle, so for `maxShingleDf = 0` the output
    * is the complete, exact Jaccard-≥-τ pair set (any pair with
    * Jaccard > 0 shares a shingle by definition).
    *
    * Scale shape: the pair space is generated per posting list (the
    * docs sharing one shingle), never all-pairs — cost Σ_sh df(sh)².
    * That sum is dominated by stop-shingles: one boilerplate shingle
    * appearing in 10⁶ docs alone yields 10¹² candidate rows. The
    * `maxShingleDf` cap drops postings longer than the cap BEFORE the
    * self-join, bounding candidates by maxDf · |postings| (linear in
    * the corpus). The cap is the documented trade: a true pair is lost
    * only if EVERY shared shingle is capped — and a shingle shared by
    * millions of docs carries no near-dup signal. Set sizes (the
    * Jaccard denominator) always come from the UNCAPPED relation, and
    * with the cap active the reported similarity is a LOWER BOUND on
    * the true value (the intersection count is restricted to uncapped
    * shingles while the union stays full); it is exact for any pair
    * sharing no capped shingle. The judged oracles replay the identical
    * capped computation, so cross-engine hashes stay consistent.
    */
  def jaccardNearDup(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, shingleK: Int = 3,
      maxShingleDf: Int = 0): DataFrame = {
    // consumed by sizes AND (possibly capped) by both join sides
    val sh = shingleTable(df, idCol, textCol, shingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the pair list, release the shingle pin (see
    // [[CacheLifecycle]]) — the output is candidate-proportional
    CacheLifecycle.resolveAndRelease(
      jaccardFromShingles(sh, idCol, threshold, maxShingleDf), sh)
  }

  /** JUDGED RECALL CONTRACT for MinHash-LSH dedup — the [[graft.ops
    * .Similarity.annRecallContract]] question asked of the DEDUP index:
    * what fraction of the TRUE near-dup pairs (exact shingle-Jaccard ≥
    * threshold, the [[jaccardNearDup]] relation) does the banded
    * MinHash detector surface? One judged row per (numHashes, bands)
    * configuration asserting recall ≥ bound — the banding theory says
    * a pair at similarity s is a candidate with p = 1−(1−s^r)^b
    * (r = rows per band), so MORE bands at fixed r lift recall at
    * linear index cost: the contract pins that OR-construction lever
    * empirically (a 16×8 configuration must beat the 0.8 floor the
    * 8×4 one is not held to). Everything is deterministic given the
    * md5 hash family, and the comparison is count arithmetic on exact
    * integers — the oracle recomputes n_true from the pair SQL and
    * emits literal TRUE; a broken signature, band key, or verify join
    * flips the boolean and breaks the hash.
    *
    * Scale shape: ONE shingle relation feeds the exact truth AND every
    * configuration's signatures (persisted, released on completion);
    * each configuration adds one |docs|-row signature aggregate and
    * one band self-join — candidate-proportional, never all-pairs. The
    * truth side is the inverted-index exact join — the same plan the
    * q92 detector ships. Returns (method, n_true, recall_ok).
    */
  def minhashRecallContract(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, shingleK: Int = 3,
      configs: Seq[(Int, Int, Double)] = Seq((8, 4, 0.55), (16, 8, 0.8)))
      : DataFrame = {
    val sh = shingleTable(df, idCol, textCol, shingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val truth = jaccardFromShingles(sh, idCol, threshold, maxShingleDf = 0)
      .select(col("id_a"), col("id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    val rows = configs.map { case (numHashes, bands, bound) =>
      val cand = lshCandidatePairs(
        minhashSignatures(sh, idCol, numHashes), idCol,
        bands, numHashes / bands)
      // verified recall: the detector's output is cand ∩ truth (the
      // exact-Jaccard verify pass), so hits = the inner join's count
      truth.join(cand, Seq("id_a", "id_b"))
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(broadcast(nTrue))
        .select(lit(s"minhash_${numHashes}x$bands").as("method"),
          col("n_true"),
          (col("n_hit").cast("double") >=
            lit(bound) * col("n_true").cast("double")).as("recall_ok"))
    }
    CacheLifecycle.resolveAndRelease(
      rows.reduce(_.unionByName(_)), sh, truth)
  }

  /** The lazy pair plan of [[jaccardNearDup]] over an already-built
    * (id, sh) shingle relation — exposed so the plan-guard spec can pin
    * the physical shape (the active stop-shingle anti join) that the
    * checkpointed public result hides.
    */
  private[graft] def jaccardFromShingles(sh: DataFrame, idCol: String,
      threshold: Double, maxShingleDf: Int): DataFrame = {
    val posting =
      if (maxShingleDf <= 0) sh
      else {
        // df over the shingle relation itself; the hot set (postings
        // longer than the cap) is tiny by Zipf and broadcasts
        val hot = sh.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleDf)
          .select("sh")
        sh.join(broadcast(hot), Seq("sh"), "left_anti")
      }
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    // explicit selects, not positional toDF: the using-column anti join
    // above moves `sh` to the front of the schema when the cap is active
    val inter = posting.select(col(idCol).as("id_a"), col("sh"))
      .join(posting.select(col(idCol).as("id_b"), col("sh").as("sh_b")),
        col("sh") === col("sh_b") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.toDF("id_a", "n_a"), "id_a")
      .join(sizes.toDF("id_b", "n_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Keep-BEST dedup resolution: one keeper per near-dup connected
    * component by an explicit score (descending, id-ascending
    * tiebreak), instead of the keep-first convention of
    * [[exactDupGroups]]. A pipeline usually wants the most complete
    * version of duplicated content (longest text, highest quality
    * score), not the lowest id. Documents in no pair form singleton
    * clusters and keep themselves. Output: the input columns plus
    * `cluster_id` (component minimum; singletons: own id) and
    * `is_keeper`.
    *
    * Scale shape: the cluster relation is one row per document that
    * appears in a pair (≪ corpus when dup rate is sane) joined back
    * onto the data; the keeper choice is a window WITHIN clusters —
    * state bounded by the largest cluster, never the corpus (a
    * pathological mega-cluster is a data-quality signal upstream dedup
    * should have collapsed).
    */
  /** Dual-regime broadcast (the [[PageRank]] pattern): hint broadcast
    * when the relation's measured row count is under `maxRows`, let the
    * planner (and AQE) choose above it. The iterative operators return
    * checkpointed RDD-backed frames whose size statistics are opaque to
    * Catalyst — without the measured hint, a 14-row cluster relation
    * sort-merge-joins against the corpus. The count is one job over
    * already-materialized checkpoint blocks (callers only pass
    * materialized relations), and the 100k default bounds the broadcast
    * at a few MB of ids — far under the 8GB broadcast ceiling, far over
    * any sane dup-cluster relation short of a pathological corpus.
    */
  private[ops] def broadcastIfSmall(df: DataFrame,
      maxRows: Long = 100000L): DataFrame =
    if (df.count() <= maxRows) broadcast(df) else df

  def keepBest(df: DataFrame, idCol: String, pairs: DataFrame,
      scoreCol: String): DataFrame =
    keepBestWithClusters(df, idCol,
      duplicateClusters(pairs).toDF(idCol, "cluster_id"), scoreCol)

  /** [[keepBest]] over an ALREADY-COMPUTED (id, cluster_id) relation —
    * the composition hook that lets a pipeline derive the cluster
    * relation once and share it across resolution, splitting, and
    * auditing stages instead of re-running connected components per
    * stage (q114's one-pass shape). `clusters` must be materialized
    * ([[duplicateClusters]] output is) — the broadcast regime counts it.
    */
  def keepBestWithClusters(df: DataFrame, idCol: String,
      clusters: DataFrame, scoreCol: String): DataFrame = {
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    // clusters is ckptReset'd (materialized) — the regime count is cheap
    df.join(broadcastIfSmall(clusters), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("is_keeper", row_number().over(w) === 1)
  }

  /** CROSS-CORPUS exact Jaccard near-dup — the incremental-dedup shape
    * a production pipeline actually runs: a new crawl/batch is checked
    * against the already-indexed corpus, never against itself. Returns
    * directional (new_id, corpus_id, jaccard ≥ threshold) pairs.
    *
    * Scale shape: the pair space is Σ_sh df_new(sh)·df_corpus(sh) —
    * proportional to the BATCH, not the corpus, for any shingle the
    * cap keeps (the batch side is orders of magnitude smaller, so the
    * posting product is bounded by df_new · cap). `maxShingleDf` caps
    * the CORPUS side's posting lists (the Zipf tail lives there); the
    * batch side joins uncapped — a capped corpus shingle simply
    * contributes no candidates. Set sizes (the Jaccard denominator)
    * come from each side's own uncapped shingle relation; as in
    * [[jaccardNearDup]], the reported similarity is a lower bound when
    * a surviving pair shares a capped shingle (exact otherwise), and
    * the oracle replays the identical capped computation. Same
    * un-persist-on-completion contract as [[jaccardNearDup]].
    */
  def crossJaccardNearDup(newDf: DataFrame, corpusDf: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.5,
      shingleK: Int = 3, maxShingleDf: Int = 0): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val shNew = shingleTable(newDf, idCol, textCol, shingleK).persist(lvl)
    val shOld = shingleTable(corpusDf, idCol, textCol, shingleK).persist(lvl)
    CacheLifecycle.resolveAndRelease(
      crossFromShingles(shNew, shOld, idCol, threshold, maxShingleDf),
      shNew, shOld)
  }

  /** Lazy pair plan of [[crossJaccardNearDup]] over built batch/corpus
    * shingle relations (plan-guard hook, mirroring
    * [[jaccardFromShingles]]).
    */
  private[graft] def crossFromShingles(shNew: DataFrame, shOld: DataFrame,
      idCol: String, threshold: Double, maxShingleDf: Int): DataFrame = {
    val posting =
      if (maxShingleDf <= 0) shOld
      else {
        val hot = shOld.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleDf)
          .select("sh")
        shOld.join(broadcast(hot), Seq("sh"), "left_anti")
      }
    val sizesNew = shNew.groupBy(col(idCol)).agg(count(lit(1)).as("n_a"))
    val sizesOld = shOld.groupBy(col(idCol)).agg(count(lit(1)).as("n_b"))
    val inter = shNew.select(col(idCol).as("new_id"), col("sh"))
      .join(posting.select(col(idCol).as("corpus_id"), col("sh").as("sh_b")),
        col("sh") === col("sh_b"))
      .groupBy("new_id", "corpus_id").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizesNew.toDF("new_id", "n_a"), "new_id")
      .join(sizesOld.toDF("corpus_id", "n_b"), "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** A MAINTAINED inverted shingle index — the state the incremental
    * cross-corpus dedup loop ([[crossJaccardNearDup]]) was missing a
    * write-back for: after a batch is deduped against the index, the
    * SURVIVING documents must fold in so the NEXT batch sees them.
    * Three relations, each the in-memory stand-in for a stored table:
    *
    *  - `postings` (id, sh) — the inverted index itself;
    *  - `docSizes` (id, n) — per-doc shingle counts (the Jaccard
    *    denominator), maintained so queries never re-aggregate the
    *    corpus-sized postings;
    *  - `dfs` (sh, df) — per-shingle document frequency, maintained so
    *    the stop-shingle cap ([[jaccardNearDup]]'s `maxShingleDf`) is a
    *    broadcast filter over a summary, never a fresh corpus groupBy
    *    per batch.
    *
    * All three are materialized (`localCheckpoint`) at build/fold time —
    * the write-back IS the point; a production deployment writes
    * parquet/Delta tables instead (postings and docSizes append a
    * partition per batch, dfs merge-compacts), which is exactly the
    * append-shaped lazy-union this representation plans.
    */
  case class ShingleIndex(postings: DataFrame, docSizes: DataFrame,
      dfs: DataFrame)

  /** Build a [[ShingleIndex]] from scratch: one shingle scan of the
    * corpus (materialized), then the two summaries aggregate the
    * CHECKPOINTED postings — the text is tokenized exactly once.
    */
  def buildShingleIndex(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3): ShingleIndex = {
    val postings = shingleTable(df, idCol, textCol, shingleK).localCheckpoint()
    ShingleIndex(postings,
      postings.groupBy(col(idCol)).agg(count(lit(1)).as("n")).localCheckpoint(),
      postings.groupBy(col("sh")).agg(count(lit(1)).as("df")).localCheckpoint())
  }

  /** Dedup a batch's shingle relation against the index — semantically
    * [[crossFromShingles]] with the corpus side read FROM the maintained
    * index: the stop-shingle hot set comes from `dfs` (a broadcast
    * filter on the summary, not a corpus aggregate) and the corpus-side
    * sizes from `docSizes`. Returns directional
    * (new_id, corpus_id, jaccard ≥ threshold) pairs; the batch side is
    * uncapped, as in [[crossJaccardNearDup]] (lower-bound semantics
    * when a surviving pair shares a capped shingle, exact otherwise).
    * `OpsPropertySpec` pins the equivalence law
    * `dedupAgainstIndex(b, foldIn(ix, sh(a), survivors)) ≡
    *  crossFromShingles(b, corpus ∪ survivors-of-a)`.
    */
  def dedupAgainstIndex(batchShingles: DataFrame, index: ShingleIndex,
      idCol: String, threshold: Double = 0.5,
      maxShingleDf: Int = 0): DataFrame = {
    val posting =
      if (maxShingleDf <= 0) index.postings
      else {
        val hot = index.dfs.filter(col("df") > maxShingleDf).select("sh")
        index.postings.join(broadcast(hot), Seq("sh"), "left_anti")
      }
    val sizesNew = batchShingles.groupBy(col(idCol)).agg(count(lit(1)).as("n_a"))
    val inter = batchShingles.select(col(idCol).as("new_id"), col("sh"))
      .join(posting.select(col(idCol).as("corpus_id"), col("sh").as("sh_b")),
        col("sh") === col("sh_b"))
      .groupBy("new_id", "corpus_id").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizesNew.toDF("new_id", "n_a"), "new_id")
      .join(index.docSizes.toDF("corpus_id", "n_b"), "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The write-back: fold a batch's SURVIVING documents (`keepIds` —
    * the caller's policy, typically batch ids minus
    * [[dedupAgainstIndex]]'s new_id set) into the index.
    *
    * Scale shape — everything is batch-proportional: the kept shingle
    * delta is materialized once, `postings`/`docSizes` grow by a LAZY
    * union with the delta (production: append a partition — the
    * existing index relations are never rewritten), and only `dfs` is
    * merge-compacted (a |vocab ∪ batch-vocab|-row full-outer sum —
    * the summary a production loop rewrites or Delta-MERGEs per batch;
    * vocabulary-sized, not corpus-sized). After the fold,
    * `dedupAgainstIndex(next, folded) ≡` dedup against the
    * recomputed-from-scratch corpus ∪ survivors index, exactly.
    */
  def foldIn(index: ShingleIndex, batchShingles: DataFrame,
      keepIds: DataFrame, idCol: String): ShingleIndex = {
    val keep = batchShingles
      .join(keepIds.select(col(idCol)), Seq(idCol), "leftsemi")
      .localCheckpoint()
    val keepDf = keep.groupBy(col("sh")).agg(count(lit(1)).as("df_b"))
    val mergedDfs = index.dfs.join(keepDf, Seq("sh"), "full_outer")
      .select(col("sh"),
        (coalesce(col("df"), lit(0L)) + coalesce(col("df_b"), lit(0L))).as("df"))
      .localCheckpoint()
    ShingleIndex(
      index.postings.unionByName(keep),
      // the sizes delta stays LAZY: it is one narrow aggregate over the
      // just-checkpointed `keep` (re-derived inside whichever job next
      // consumes docSizes), so eagerly materializing it bought nothing
      // but one scheduling round trip per fold — measured as a pure
      // job-count shave in the q117/q113 loops (r19; guide §1.2). The
      // dfs merge ABOVE stays checkpointed: it is a full-outer join
      // CHAIN that would re-run once per subsequent probe.
      index.docSizes.unionByName(
        keep.groupBy(col(idCol)).agg(count(lit(1)).as("n"))),
      mergedDfs)
  }

  /** The [[ShingleIndex]] AT REST — the parquet shape [[foldIn]]'s
    * scaladoc promises for production: three relations under `path`
    * (`postings/` (id, sh), `sizes/` (id, n), `dfs/` (sh, df)), ALL
    * maintained by PURE APPENDS. The trick is `dfs`: per-shingle
    * document frequency is a merge (existing counts grow), which a
    * file format cannot do in place — so it is stored as APPEND-ONLY
    * DELTAS summed at read time (the LSM compromise: writes stay
    * appends, the read pays a vocabulary-sized aggregate, and
    * [[compactStoredDfs]] is the OPTIMIZE that folds deltas back to
    * one row per shingle whenever the delta count grows — semantics
    * unchanged because addition is associative). `readStoredIndex`
    * returns a [[ShingleIndex]] whose relations equal the in-session
    * [[foldIn]] chain exactly, so every probe/fold law carries over.
    */
  def writeStoredIndex(index: ShingleIndex, idCol: String,
      path: String, shBuckets: Int = 0): Unit = {
    val mode = org.apache.spark.sql.SaveMode.Overwrite
    writeShRel(index.postings, path, "postings", shBuckets, mode)
    index.docSizes.write.mode(mode).parquet(s"$path/sizes")
    writeShRel(index.dfs, path, "dfs", shBuckets, mode)
    writeStoredLayout(index.postings.sparkSession, path, shBuckets)
  }

  /** The deterministic shingle→bucket column of the BUCKETED stored
    * layout ([[graft.ops.Retrieval.termBucketOf]]'s map, 's'-prefixed):
    * first 6 md5 hex chars of the shingle as an integer mod
    * `numBuckets`. A FUNCTION OF THE SHINGLE, which is what makes
    * bucket pruning exact: a shingle's every posting row and every df
    * delta live wholly inside its own `sb=` partition, so pruning to a
    * batch's buckets keeps complete posting lists and complete df sums
    * for every shingle the batch can match.
    */
  private def shBucketCol(sh: Column, numBuckets: Int): Column =
    concat(lit("s"),
      pmod(conv(substring(md5(sh), 1, 6), 16, 10).cast("long"),
        lit(numBuckets.toLong)))

  private def writeShRel(rel: DataFrame, path: String, name: String,
      shBuckets: Int, mode: org.apache.spark.sql.SaveMode): Unit = {
    if (shBuckets > 0)
      rel.withColumn("sb", shBucketCol(col("sh"), shBuckets))
        .repartition(col("sb"))
        .write.mode(mode).partitionBy("sb").parquet(s"$path/$name")
    else rel.write.mode(mode).parquet(s"$path/$name")
    ()
  }

  /** `_layout/` self-description (sh_buckets; 0 = flat legacy layout) —
    * maintenance reads THIS, never a caller parameter, so the bucket
    * map is frozen at build time (the [[graft.ops.Retrieval]] rule:
    * re-bucketing per batch would scatter a shingle's postings across
    * buckets and break partition pruning).
    */
  private def writeStoredLayout(spark: org.apache.spark.sql.SparkSession,
      path: String, shBuckets: Int): Unit = {
    import spark.implicits._
    Seq(shBuckets).toDF("sh_buckets").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/_layout")
    storedLayoutCache.put(path, shBuckets)
    ()
  }

  /** `_layout` is FROZEN at build time (the scaladoc contract above),
    * so its read is memoized per JVM: a micro-batch loop otherwise pays
    * one head()-job per probe AND per fold just to re-learn a constant
    * (guide §1.2 — per-batch scheduling latency). [[writeStoredLayout]]
    * (the only writer) refreshes the entry, keeping the cache coherent
    * for every in-process flow including rebuilt stores.
    */
  private val storedLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** The stored index's bucket count; 0 for flat/legacy (no `_layout`). */
  def storedLayoutOf(spark: org.apache.spark.sql.SparkSession,
      path: String): Int =
    storedLayoutCache.computeIfAbsent(path, _ => {
      val p = new Path(s"$path/_layout")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) spark.read.parquet(p.toString).head().getInt(0)
      else 0
    }).intValue()

  /** [[dedupAgainstIndex]] against the BUCKETED stored index with the
    * scan PRUNED to the batch's shingle buckets — the measured fix for
    * the one non-flat probe in `bench_sf10_probes.json`: the flat
    * layout's probe scans the whole postings relation (3.05 s at the
    * sf10-class store vs 0.68 s at sf1-class), while BM25's bucketed
    * probe reads |query terms| buckets. Here the batch's distinct `sb`
    * values (driver exchange ≤ sh_buckets — layout-bounded, never
    * batch-bounded) become PARTITION IN-lists on BOTH postings and
    * dfs, and the probe's cost is the batch's buckets' files instead
    * of the corpus's. Decisions are IDENTICAL to the flat probe's by
    * construction (the bucket is a function of the shingle, so pruned
    * posting lists and df sums are complete for every shingle the
    * batch can match); tombstoned docs are masked exactly as in
    * [[readStoredIndex]]. Falls back to the flat read when the layout
    * is unbucketed.
    */
  def dedupAgainstStoredIndex(batchShingles: DataFrame, idCol: String,
      path: String, threshold: Double = 0.5,
      maxShingleDf: Int = 0): DataFrame = {
    val spark = batchShingles.sparkSession
    val hasPostings = Swap.healed(spark, path).exists(new Path(s"$path/postings"))
    val nb = storedLayoutOf(spark, path)
    // flat/legacy layout, or a bootstrapping loop whose layout landed
    // before its first postings append → the full-index read (which
    // handles the missing-index case as the empty index)
    if (nb <= 0 || !hasPostings)
      return dedupAgainstIndex(batchShingles,
        readStoredIndex(spark, idCol, path), idCol, threshold, maxShingleDf)
    val batch = batchShingles.localCheckpoint() // probed twice: sb + join
    val sbs = batch.select(shBucketCol(col("sh"), nb).as("sb")).distinct()
      .collect().map(_.getString(0)).toSeq
    val mask = storedTombstonesOf(spark, path)
    def masked(df: DataFrame) =
      mask.foldLeft(df)((d, ts) => d.join(ts, Seq(idCol), "left_anti"))
    val postings = masked(spark.read.parquet(s"$path/postings")
        .filter(col("sb").isin(sbs.map(x => x: Any): _*)))
      .select(col(idCol), col("sh"))
    val dfs = spark.read.parquet(s"$path/dfs")
      .filter(col("sb").isin(sbs.map(x => x: Any): _*))
      .groupBy(col("sh")).agg(sum(col("df")).as("df"))
    dedupAgainstIndex(batch,
      ShingleIndex(postings,
        masked(spark.read.parquet(s"$path/sizes")), dfs),
      idCol, threshold, maxShingleDf)
  }

  /** Fold a batch's surviving documents into the STORED index — the
    * at-rest [[foldIn]]: three partition APPENDS (kept postings, their
    * per-doc sizes, their per-shingle df deltas); nothing existing is
    * ever rewritten, and ingest cost is batch-proportional at any
    * index size.
    *
    * Concurrency contract: SINGLE WRITER — the three appends commit
    * independently (parquet has no cross-directory transaction), so
    * two concurrent appends may interleave arbitrarily. A concurrent
    * PROBE is safe in the candidate-undercount sense only: the write
    * order below is dfs → sizes → postings, so a reader that catches
    * the batch half-applied can see df/size rows for documents whose
    * postings are not yet visible (those docs simply produce no
    * candidates yet — under-counting), but never a posting whose
    * Jaccard denominator (sizes) or stop-shingle cap input (dfs) is
    * missing, which would MIS-SCORE a surviving pair rather than
    * delay it. A consistent point-in-time view requires draining
    * writers first (the maintenance-lock caveat [[compactStoredDfs]]
    * documents).
    */
  /** @param shBucketsIfNew against a path with no index yet, bootstrap
    *   the layout at this bucket count (0 = flat) — the [[graft.ops
    *   .Retrieval.appendToBm25Index]] convention that lets a streaming
    *   loop start from nothing in the bucketed shape; an existing
    *   index's frozen layout always wins.
    */
  def appendToStoredIndex(batchShingles: DataFrame, keepIds: DataFrame,
      idCol: String, path: String, shBucketsIfNew: Int = 0): Unit = {
    val spark = batchShingles.sparkSession
    val mode = org.apache.spark.sql.SaveMode.Append
    val fs = Swap.healed(spark, path)
    if (shBucketsIfNew > 0 && !fs.exists(new Path(s"$path/_layout")))
      writeStoredLayout(spark, path, shBucketsIfNew)
    val nb = storedLayoutOf(spark, path)
    val keep = batchShingles
      .join(keepIds.select(col(idCol)), Seq(idCol), "leftsemi")
      .localCheckpoint()
    // dfs and sizes land BEFORE postings — a torn concurrent read can
    // only under-count candidates, never mis-score one (see scaladoc).
    // The two are mutually unordered, so they run as concurrent jobs
    // (guide §2.6: overlap independent writes — both read the frozen
    // `keep` checkpoint and touch disjoint relations); postings waits
    // for BOTH, preserving the crash contract.
    ConcurrentJobs.settleAll(spark)(
      () => writeShRel(keep.groupBy(col("sh")).agg(count(lit(1)).as("df")),
        path, "dfs", nb, mode),
      () => keep.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
        .write.mode(mode).parquet(s"$path/sizes"))
    writeShRel(keep, path, "postings", nb, mode)
    keep.unpersist()
    ()
  }

  /** The stored index's tombstone relation (`tombstones/`, one id
    * column) — None when never written. See [[deleteFromStoredIndex]].
    */
  private def storedTombstonesOf(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[DataFrame] = {
    val p = new Path(s"$path/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /** DELETE documents from the stored shingle index — the eviction a
    * production dedup loop needs (keep-best LOSERS must leave the
    * index or they keep matching every future batch; takedowns
    * likewise). LSM semantics, the [[graft.ops.Retrieval
    * .deleteFromBm25Index]] discipline: the delete is TWO APPENDS —
    * `tombstones/` gains the ids (the guard/mask key, written FIRST),
    * `dfs/` gains the deleted docs' per-shingle NEGATIVE deltas (one
    * semi-joined read of their stored postings — delete-batch-
    * proportional with the sh filter pushed down), so the stop-shingle
    * document frequencies stay exact without rewriting anything.
    * [[readStoredIndex]] masks postings and sizes against the
    * tombstones, so every from-index detector (probe, jaccard,
    * containment, keep-best) sees survivors only; physical removal is
    * [[purgeStoredIndex]].
    *
    * No-op laws (the semi/anti joins): ids not in the index and ids
    * already tombstoned change nothing — a double delete must not
    * double-subtract df. A tombstoned id stays deleted until the purge
    * (re-appending it would be masked too); crash window (tombstones
    * landed, negative dfs not): candidates are already masked, only
    * the hot-shingle cap runs on slightly-stale df — conservative
    * (caps at most a few extra shingles), healed exactly by the purge.
    */
  def deleteFromStoredIndex(ids: DataFrame, idCol: String,
      path: String): Unit = {
    val spark = ids.sparkSession
    val sizesPath = new Path(s"$path/sizes")
    require(Swap.healed(spark, path).exists(sizesPath),
      s"deleteFromStoredIndex: no shingle index at $path")
    val indexed = spark.read.parquet(sizesPath.toString).select(col(idCol))
      .join(ids.select(col(idCol)).distinct(), Seq(idCol), "leftsemi")
    val doomed = storedTombstonesOf(spark, path)
      .map(ts => indexed.join(ts, Seq(idCol), "left_anti"))
      .getOrElse(indexed)
      // freeze before the first write: the anti-join reads the very
      // tombstones/ the first write appends to
      .localCheckpoint()
    val negDfs = spark.read.parquet(s"$path/postings")
      .join(doomed, Seq(idCol), "leftsemi")
      .groupBy(col("sh")).agg((-count(lit(1))).as("df"))
      .localCheckpoint()
    val mode = org.apache.spark.sql.SaveMode.Append
    doomed.write.mode(mode).parquet(s"$path/tombstones")
    // negative deltas land in the shingle's own sb= partition when the
    // layout is bucketed — the pruned probe's df sums stay complete
    writeShRel(negDfs, path, "dfs", storedLayoutOf(spark, path), mode)
    ()
  }

  /** Physically remove tombstoned documents from the stored index —
    * the major-compaction half of [[deleteFromStoredIndex]]'s LSM
    * delete: postings and sizes are rewritten without the tombstoned
    * rows ([[graft.io.Swap]]), dfs is RECOMPUTED EXACTLY from the purged
    * postings (folding all deltas and healing any torn-delete drift in
    * one pass), and
    * `tombstones/` is dropped LAST so the mask stays in place across a
    * mid-purge crash (a re-run finishes the job). Same maintenance-
    * lock caveat as [[compactStoredDfs]]: drain writers first.
    */
  def purgeStoredIndex(spark: org.apache.spark.sql.SparkSession,
      idCol: String, path: String): Unit = {
    val fs = Swap.healed(spark, path)
    storedTombstonesOf(spark, path).filter(_.head(1).nonEmpty).foreach { ts =>
      val t = ts.select(col(idCol)).distinct().localCheckpoint()
      val nb = storedLayoutOf(spark, path)
      Swap.replace(fs, new Path(s"$path/postings")) { tmp =>
        // the read-back carries the sb partition column when bucketed —
        // rewrite under the same frozen layout
        val rel = spark.read.parquet(s"$path/postings")
          .join(t, Seq(idCol), "left_anti")
        if (nb > 0) rel.repartition(col("sb"))
          .write.partitionBy("sb").parquet(tmp.toString)
        else rel.write.parquet(tmp.toString)
      }
      Swap.replace(fs, new Path(s"$path/sizes")) { tmp =>
        spark.read.parquet(s"$path/sizes")
          .join(t, Seq(idCol), "left_anti").write.parquet(tmp.toString)
      }
      Swap.replace(fs, new Path(s"$path/dfs")) { tmp =>
        val rel = spark.read.parquet(s"$path/postings")
          .groupBy(col("sh")).agg(count(lit(1)).as("df"))
        if (nb > 0) rel.withColumn("sb", shBucketCol(col("sh"), nb))
          .repartition(col("sb"))
          .write.partitionBy("sb").parquet(tmp.toString)
        else rel.write.parquet(tmp.toString)
      }
      fs.delete(new Path(s"$path/tombstones"), true)
      ()
    }
  }

  /** Read the stored index back as a [[ShingleIndex]]: postings and
    * sizes verbatim (tombstone-MASKED when deletes are pending —
    * [[deleteFromStoredIndex]]), dfs as the delta sum (negative delete
    * deltas included). A missing path (the very first batch of an
    * ingest loop) reads as the EMPTY index, so the production loop
    * needs no bootstrap special case.
    */
  def readStoredIndex(spark: org.apache.spark.sql.SparkSession,
      idCol: String, path: String, shingleK: Int = 3): ShingleIndex = {
    if (!Swap.healed(spark, path).exists(new Path(s"$path/postings"))) {
      import spark.implicits._
      val empty = Seq.empty[(Long, String)].toDF(idCol, "sh")
      ShingleIndex(empty,
        empty.groupBy(col(idCol)).agg(count(lit(1)).as("n")),
        empty.groupBy(col("sh")).agg(count(lit(1)).as("df")))
    } else {
      val mask = storedTombstonesOf(spark, path)
      def masked(df: DataFrame) =
        mask.foldLeft(df)((d, ts) => d.join(ts, Seq(idCol), "left_anti"))
      // the bucketed layout's sb partition column is dropped here: the
      // in-session ShingleIndex contract is (id, sh)/(id, n)/(sh, df),
      // layout-free — pruned probes go through dedupAgainstStoredIndex
      ShingleIndex(
        masked(spark.read.parquet(s"$path/postings"))
          .select(col(idCol), col("sh")),
        masked(spark.read.parquet(s"$path/sizes")),
        spark.read.parquet(s"$path/dfs")
          .groupBy(col("sh")).agg(sum(col("df")).as("df")))
    }
  }

  /** Per-relation OPTIMIZE for the stored index's dfs deltas: fold the
    * appended delta rows back to one row per shingle and swap the
    * result in ([[graft.io.Swap]]). Read-time semantics are unchanged —
    * the read aggregate sums whatever granularity is on disk.
    *
    * Requires EXCLUSIVE access to the index ([[graft.io.Swap]]'s
    * single-maintenance-writer contract): a delta appended by a
    * concurrent [[appendToStoredIndex]] between the aggregate read and
    * the swap would be destroyed unmerged — drain writers first.
    */
  def compactStoredDfs(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val dfs = new Path(s"$path/dfs")
    Swap.replace(Swap.healed(spark, path), dfs) { tmp =>
      val folded = spark.read.parquet(dfs.toString)
        .groupBy(col("sh")).agg(sum(col("df")).as("df"))
      val nb = storedLayoutOf(spark, path)
      if (nb > 0) folded.withColumn("sb", shBucketCol(col("sh"), nb))
        .repartition(col("sb"))
        .write.partitionBy("sb").parquet(tmp.toString)
      else folded.write.parquet(tmp.toString)
    }
  }

  /** Unordered candidate intersections computed from a
    * [[ShingleIndex]]'s OWN relations — (id_a, id_b, n_inter) with
    * id_a < id_b, postings capped by the index's stored `dfs` (the
    * same stop-shingle semantics [[jaccardFromShingles]] computes from
    * scratch). Shared by [[jaccardFromIndex]]/[[containmentFromIndex]].
    */
  private def interFromIndex(index: ShingleIndex, idCol: String,
      maxShingleDf: Int): DataFrame = {
    val posting =
      if (maxShingleDf <= 0) index.postings
      else {
        val hot = index.dfs.filter(col("df") > maxShingleDf).select("sh")
        index.postings.join(broadcast(hot), Seq("sh"), "left_anti")
      }
    posting.select(col(idCol).as("id_a"), col("sh"))
      .join(posting.select(col(idCol).as("id_b"), col("sh").as("sh_b")),
        col("sh") === col("sh_b") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
  }

  /** [[jaccardNearDup]]'s pair relation computed ENTIRELY from a
    * [[ShingleIndex]] (typically [[readStoredIndex]]'s) — postings,
    * set sizes, and the stop-shingle document frequencies all come
    * from the index's stored relations, never from document text. This
    * is the at-rest half of the production dedup loop: the index
    * already persists everything the detector needs, so a maintenance
    * pass (re-score after threshold change, periodic keep-best
    * resolution) runs off the index alone. Identical relation to
    * [[jaccardNearDup]] over the indexed corpus — where the index
    * lives cannot change a similarity (judged against the from-text
    * oracle verbatim).
    */
  def jaccardFromIndex(index: ShingleIndex, idCol: String,
      threshold: Double = 0.5, maxShingleDf: Int = 0): DataFrame =
    interFromIndex(index, idCol, maxShingleDf)
      .join(index.docSizes.toDF("id_a", "n_a"), "id_a")
      .join(index.docSizes.toDF("id_b", "n_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** [[containmentNearDup]]'s directional pair relation computed
    * ENTIRELY from a [[ShingleIndex]] — the quote/subset detector
    * against storage, closing the at-rest loop for the one pair
    * relation that still required document text. Same stop-shingle cap
    * and lower-bound caveat as the from-text form; identical output
    * over the indexed corpus (judged against the from-text oracle
    * verbatim).
    */
  def containmentFromIndex(index: ShingleIndex, idCol: String,
      threshold: Double = 0.8, maxShingleDf: Int = 0): DataFrame =
    interFromIndex(index, idCol, maxShingleDf)
      .join(index.docSizes.toDF("id_a", "n_a"), "id_a")
      .join(index.docSizes.toDF("id_b", "n_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") / col("n_a").cast("double"))
          .as("cont_a_in_b"),
        (col("n_inter").cast("double") / col("n_b").cast("double"))
          .as("cont_b_in_a"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)

  /** Directional n-gram CONTAINMENT near-duplicates over the same
    * inverted shingle index as [[jaccardNearDup]]: for a pair (A, B),
    * containment(A in B) = |A∩B| / |A|. Jaccard misses the
    * quote/subset case a web corpus is full of — a short document
    * wholly contained in a long one has low Jaccard (the union is
    * dominated by the long side) but containment 1.0. Returns
    * (id_a, id_b, cont_a_in_b, cont_b_in_a) for pairs whose LARGER
    * containment clears `threshold`; both directions ship so the
    * caller can pick keep-longest / keep-shortest policy downstream.
    *
    * Scale shape and the `maxShingleDf` stop-shingle cap are exactly
    * [[jaccardNearDup]]'s — pair space per posting list, sizes from
    * the uncapped relation (so capped-shingle-sharing pairs report a
    * lower bound, exact otherwise), cost Σ df². Same
    * un-persist-on-completion contract.
    */
  def containmentNearDup(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleK: Int = 3,
      maxShingleDf: Int = 0): DataFrame = {
    val sh = shingleTable(df, idCol, textCol, shingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    CacheLifecycle.resolveAndRelease(
      containmentFromShingles(sh, idCol, threshold, maxShingleDf), sh)
  }

  /** Lazy plan of [[containmentNearDup]] over a built shingle relation
    * (plan-guard hook, mirroring [[jaccardFromShingles]]).
    */
  private[graft] def containmentFromShingles(sh: DataFrame, idCol: String,
      threshold: Double, maxShingleDf: Int): DataFrame = {
    val posting =
      if (maxShingleDf <= 0) sh
      else {
        val hot = sh.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleDf)
          .select("sh")
        sh.join(broadcast(hot), Seq("sh"), "left_anti")
      }
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val inter = posting.select(col(idCol).as("id_a"), col("sh"))
      .join(posting.select(col(idCol).as("id_b"), col("sh").as("sh_b")),
        col("sh") === col("sh_b") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.toDF("id_a", "n_a"), "id_a")
      .join(sizes.toDF("id_b", "n_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") / col("n_a").cast("double"))
          .as("cont_a_in_b"),
        (col("n_inter").cast("double") / col("n_b").cast("double"))
          .as("cont_b_in_a"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
  }

  /** SimHash as a relation: explode tokens, hash each ONCE, then a
    * single grouped aggregation with 16 conditional sums. Preferred over
    * the [[simhash]] Column form: Catalyst inlines a shared subexpression
    * into each of the 16 per-bit aggregates of the Column form,
    * re-hashing every token 16 times in interpreted HOF evaluation,
    * whereas here the hash is computed once per token inside codegen and
    * the shuffle carries partial sums only. Measured steady-state at
    * sf0.1 (ProfileForms, 2026-08-12): relation 0.40 s vs Column 3.10 s
    * — 7.8x. (BENCH_r02's 3.19 s for q22 was first-iteration warm-up
    * recorded by the old adaptive bench, not this plan.)
    */
  def simhashTable(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 32): DataFrame = {
    require(bits % 4 == 0 && bits <= 60, "bits must be a multiple of 4, ≤ 60")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val tok = df
      .select(col(idCol), explode(split(lower(col(textCol)), " ")).as("t"))
      .filter(col("t") =!= "")
    // token hash = first bits/4 hex chars of md5 — one digest regardless
    // of signature width
    val v = tok.select(col(idCol),
      conv(substring(md5(col("t")), 1, bits / 4), 16, 10).cast("long").as("v"))
    // ONE native aggregate ([[graft.functions.SimhashAgg]]: a bits-long
    // counter vector per group, map-side combined) instead of `bits`
    // separate `sum(when(bit_b))` buffers — same per-bit signed-sum
    // semantics, a fraction of the per-row and shuffle overhead.
    v.groupBy(col(idCol))
      .agg(call_function("graft_simhash", col("v"), lit(bits)).as("simhash"))
  }

  /** SimHash: `bits`-bit signature from md5-derived token hashes. Bit b is
    * set when the signed sum over tokens (+1 if bit b of hex4(md5(token))
    * is set, else -1) is positive. Tokens count with multiplicity.
    * Column form for small arrays; use [[simhashTable]] at scale.
    */
  def simhash(toks: Column, bits: Int = 16): Column = {
    val withV = transform(toks, t =>
      conv(substring(md5(t), 1, 4), 16, 10).cast("int"))
    val bitCols = (0 until bits).map { b =>
      val s = aggregate(withV, lit(0),
        (acc, v) => acc + when(shiftright(v, b).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(s > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Hamming distance between two simhash values (bit-sparse longs). */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** SimHash near-duplicate pairs at Hamming distance ≤ `maxHamming`,
    * found without the O(n²) pair space: the signature is split into
    * `bands` equal bit-slices, and by pigeonhole any pair within
    * `maxHamming < bands` bit flips agrees exactly on at least one slice
    * — so the slice-value self-join produces a candidate superset, and
    * the exact `bit_count(xor)` filter keeps no false positives.
    *
    * Scale: the shuffle carries (band, slice-value) groups. The DEFAULT
    * signature is 32-bit / 4-band (8-bit slices, 256 buckets per band):
    * 16-bit/4-band profiled ~25x more candidate pairs for the same
    * output at sf0.1 (SCALE.md), so the narrow width is never the
    * shipped default. Bucket count is 2^(bits/bands) per band — at
    * 100 TB use the max 60-bit
    * signatures (15 md5 hex chars; 64 would overflow a signed long in
    * `conv`) with 6 bands of 10-bit slices (1024-way, plus the hash
    * partitioning on top), and skew in a slice value means
    * near-identical docs, which is exactly the output.
    */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 32, bands: Int = 4, maxHamming: Int = 3): DataFrame =
    hammingNearDupFromSig(simhashTable(df, idCol, textCol, bits),
      idCol, "simhash", bits, bands, maxHamming)

  /** The pigeonhole Hamming-banding pair search over an ALREADY-COMPUTED
    * signature relation — [[simhashNearDup]]'s machinery with the
    * signature source factored out, so any ≤ 60-bit fingerprint family
    * rides the same scale shape (SimHash over text, [[Multimodal.aHash]]
    * over decoded rasters, ...): split the signature into `bands` equal
    * bit-slices, self-join on slice value (by pigeonhole any pair
    * within `maxHamming < bands` flips agrees on ≥ 1 slice — a
    * candidate SUPERSET), then keep exactly the pairs the
    * `bit_count(xor)` filter verifies. The shuffle carries
    * (band, slice-value) groups, never the n² pair space.
    */
  def hammingNearDupFromSig(sig: DataFrame, idCol: String, sigCol: String,
      bits: Int = 32, bands: Int = 4, maxHamming: Int = 3): DataFrame =
    pairsFromBanded(
      bandedSig(sig, idCol, sigCol, bits, bands, maxHamming), maxHamming)

  /** The shared pair tail over a banded relation (id, sig, band, bkey):
    * band-slice equi-join, ordered-pair filter, exact Hamming verify.
    */
  private def pairsFromBanded(banded: DataFrame, maxHamming: Int): DataFrame = {
    val a = banded.select(col("id").as("id_a"), col("sig").as("sig_a"),
      col("band"), col("bkey"))
    val b = banded.select(col("id").as("id_b"), col("sig").as("sig_b"),
      col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sig_a"), col("sig_b")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** The shared banded-signature relation: (id, sig, band, bkey) —
    * `bands` rows per signature, one per bit-slice. Guards the
    * pigeonhole preconditions for every consumer.
    */
  private def bandedSig(sig: DataFrame, idCol: String, sigCol: String,
      bits: Int, bands: Int, maxHamming: Int): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole needs maxHamming ($maxHamming) < bands ($bands)")
    require(bits % bands == 0, "bands must divide bits")
    val bandBits = bits / bands
    sig.select(col(idCol).as("id"), col(sigCol).as("sig"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col(sigCol), b * bandBits)
              .bitwiseAND(lit((1L << bandBits) - 1)).as("bkey"))): _*)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** Batch-vs-corpus Hamming pair search — [[hammingNearDupFromSig]]'s
    * banding with the two sides SPLIT (the [[crossJaccardNearDup]]
    * shape, for bit signatures): candidates come from the band-slice
    * equi-join of the batch's banded rows against the corpus's, so
    * pair space is ∝ batch-side band collisions, never |batch|×|corpus|.
    * Returns (new_id, corpus_id, hamming ≤ maxHamming); an id present
    * on both sides never pairs with itself.
    */
  def crossHammingFromSig(newSig: DataFrame, corpusSig: DataFrame,
      idCol: String, sigCol: String, bits: Int = 32, bands: Int = 4,
      maxHamming: Int = 3): DataFrame = {
    val a = bandedSig(newSig, idCol, sigCol, bits, bands, maxHamming)
      .toDF("new_id", "sig_a", "band", "bkey")
    val b = bandedSig(corpusSig, idCol, sigCol, bits, bands, maxHamming)
      .toDF("corpus_id", "sig_b", "band", "bkey")
    a.join(b, Seq("band", "bkey"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select(col("new_id"), col("corpus_id"),
        hammingDistance(col("sig_a"), col("sig_b")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("new_id", "corpus_id")
  }

  // ---------------------------------------------- signature store at rest

  /** The in-plan partition value of a banded signature row: `g` +
    * (band · sigBuckets + bkey mod sigBuckets) — string-prefixed (the
    * [[graft.ops.Retrieval.termBucketOf]] convention, so partition
    * type inference can never re-type the column). Frozen at build
    * time via `_layout`.
    */
  private def sigBucketCol(sigBuckets: Int): Column =
    concat(lit("g"), col("band").cast("long") * sigBuckets +
      pmod(col("bkey"), lit(sigBuckets.toLong)))

  /** The SIGNATURE INDEX AT REST — the cross-batch story for any
    * ≤ 60-bit fingerprint family ([[Multimodal.aHash]] over images is
    * the motivating one: text has the full at-rest loop via the
    * shingle store, and the image crawl loop needs the same). Two
    * relations under `path`, both maintained by pure appends:
    *  - `sigs/` (idCol, sigCol) — the record of truth AND the append
    *    guard key;
    *  - `bands/` (id, sig, band, bkey) PARTITIONED by the frozen
    *    [[sigBucketCol]] map (`sb=g<k>` dirs): a probing batch's
    *    banded rows hit a BOUNDED set of partition values
    *    (≤ bands·sigBuckets — and far fewer for the small batches a
    *    streaming loop probes with), so the scan prunes to those
    *    directories' FILES instead of footer-reading the whole store.
    * `_layout/` freezes (bits, bands, sig_buckets) for the index's
    * lifetime — probe and append read THEM, never parameters (the
    * [[graft.ops.Retrieval]] frozen-bucket-map rule).
    */
  def writeSignatureStore(sigs: DataFrame, idCol: String, sigCol: String,
      path: String, bits: Int = 48, bands: Int = 4,
      sigBuckets: Int = 16): Unit = {
    import sigs.sparkSession.implicits._
    val mode = org.apache.spark.sql.SaveMode.Overwrite
    sigs.select(col(idCol), col(sigCol)).write.mode(mode)
      .parquet(s"$path/sigs")
    bandedSig(sigs, idCol, sigCol, bits, bands, maxHamming = bands - 1)
      .withColumn("sb", sigBucketCol(sigBuckets))
      .repartition(col("sb"))
      .write.mode(mode).partitionBy("sb").parquet(s"$path/bands")
    Seq((bits, bands, sigBuckets)).toDF("bits", "bands", "sig_buckets")
      .coalesce(1).write.mode(mode).parquet(s"$path/_layout")
    sigLayoutCache.put(path, (bits, bands, sigBuckets))
    ()
  }

  /** Frozen-layout memo, the [[storedLayoutCache]] argument: a crawl
    * loop's every probe and fold re-read a build-time constant as a
    * head() job. [[writeSignatureStore]] (the only writer) refreshes it.
    */
  private val sigLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int, Int)]()

  /** The store's frozen (bits, bands, sig_buckets). */
  def signatureStoreLayout(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int, Int) =
    sigLayoutCache.computeIfAbsent(path, _ => {
      val r = spark.read.parquet(s"$path/_layout").head()
      (r.getInt(0), r.getInt(1), r.getInt(2))
    })

  /** Heal every swap under the signature store and its `bands/`
    * buckets ([[graft.io.Swap]]) — the first step of every store entry
    * point that does not hand `bands/` to an [[AnnIndex]] entry point
    * (which heals it); returns the filesystem.
    */
  private def healedSigStore(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.hadoop.fs.FileSystem = {
    val fs = Swap.healed(spark, path)
    Swap.healAll(fs, new Path(s"$path/bands"))
    fs
  }

  /** Fold a batch of NEW signatures into the store: two partition
    * appends, batch-proportional at any store size. Write order =
    * crash-safety order (the [[graft.ops.Retrieval.appendToBm25Index]]
    * discipline): the GUARD relation `sigs/` lands first, banded rows
    * last — any crash+retry leaves a batch either fully probe-able or
    * fully absent from `bands/`, never double-banded (a duplicated
    * band row would duplicate every pair it produces). Re-appending an
    * already-stored id is an idempotent no-op (the anti-join).
    */
  def appendToSignatureStore(sigs: DataFrame, idCol: String,
      sigCol: String, path: String): Unit = {
    val spark = sigs.sparkSession
    healedSigStore(spark, path)
    val (bits, bands, sigBuckets) = signatureStoreLayout(spark, path)
    val fresh = sigs
      .join(spark.read.parquet(s"$path/sigs").select(col(idCol)),
        Seq(idCol), "left_anti")
      // freeze: the bands write below must not re-read the sigs/ the
      // first write just appended to
      .localCheckpoint()
    val mode = org.apache.spark.sql.SaveMode.Append
    fresh.select(col(idCol), col(sigCol)).write.mode(mode)
      .parquet(s"$path/sigs")
    bandedSig(fresh, idCol, sigCol, bits, bands, maxHamming = bands - 1)
      .withColumn("sb", sigBucketCol(sigBuckets))
      .repartition(col("sb"))
      .write.mode(mode).partitionBy("sb").parquet(s"$path/bands")
    ()
  }

  /** DELETE signatures from the store — the eviction that closes the
    * image crawl loop (keep-best losers must leave the store or they
    * keep pairing with every future batch). Reuses the ANN tombstone
    * machinery verbatim on the banded relation: one append under
    * `bands/_tombstones` ([[AnnIndex.deleteFromIndex]] — no side
    * statistics exist to adjust), probe masks, re-append of a deleted
    * id stays blocked by the `sigs/` guard until the purge.
    */
  def deleteFromSignatureStore(ids: DataFrame, idCol: String,
      path: String): Unit = {
    Swap.healed(ids.sparkSession, path) // bands/ is healed by AnnIndex
    AnnIndex.deleteFromIndex(ids.select(col(idCol).as("id")), "id",
      s"$path/bands")
  }

  /** Physically remove tombstoned signatures: `sigs/` rewritten first
    * ([[graft.io.Swap]] — the record of truth and append-guard key must
    * drop the ids before the mask can), then [[AnnIndex.purgeIndex]]
    * over the `sb=` partitions (only directories holding doomed rows
    * rewritten; `bands/_tombstones` dropped LAST, so the mask holds
    * across a mid-purge crash and a re-run finishes the job).
    */
  def purgeSignatureStore(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val tsPath = new Path(s"$path/bands/_tombstones")
    val fs = Swap.healed(spark, path) // bands/ is healed by AnnIndex
    if (fs.exists(tsPath)) {
      val ts = spark.read.parquet(tsPath.toString).toDF("id")
        .distinct().localCheckpoint()
      if (ts.head(1).nonEmpty) {
        val live = new Path(s"$path/sigs")
        Swap.replace(fs, live) { tmp =>
          val sigs = spark.read.parquet(live.toString)
          sigs.join(ts.toDF(sigs.columns.head), Seq(sigs.columns.head), "left_anti")
            .write.parquet(tmp.toString)
        }
      }
    }
    AnnIndex.purgeIndex(spark, s"$path/bands", "id", partCol = "sb")
  }

  /** [[crossHammingFromSig]] against the STORE — the production
    * cross-batch image-dedup probe: the batch's banded rows name a
    * bounded set of `sb` partition values (collected driver-side —
    * ≤ bands·sigBuckets rows, a layout-bounded exchange like the
    * `_layout` read itself), the store scan PRUNES to those
    * directories, and the equi-join + exact `bit_count(xor)` filter
    * run on the pruned slice. Returns (new_id, corpus_id, hamming);
    * candidates ∝ batch band collisions, never |batch|×|store|.
    */
  def dedupAgainstSignatureStore(batchSigs: DataFrame, idCol: String,
      sigCol: String, path: String, maxHamming: Int = 3): DataFrame = {
    val spark = batchSigs.sparkSession
    healedSigStore(spark, path)
    val (bits, bands, sigBuckets) = signatureStoreLayout(spark, path)
    require(maxHamming < bands,
      s"pigeonhole needs maxHamming ($maxHamming) < bands ($bands)")
    val a = bandedSig(batchSigs, idCol, sigCol, bits, bands, maxHamming)
      .withColumn("sb", sigBucketCol(sigBuckets))
      .localCheckpoint() // probed twice: the sb collect and the join
    val sbs = a.select(col("sb")).distinct()
      .collect().map(_.getString(0)).toSeq
    // tombstone mask ([[deleteFromSignatureStore]]): deleted signatures
    // stay on disk until the purge — anti-joined out of every probe
    val store = AnnIndex.tombstoneMask(spark, s"$path/bands", "id",
        spark.read.parquet(s"$path/bands")
          .filter(col("sb").isin(sbs.map(x => x: Any): _*)))
      .select(col("id").as("corpus_id"), col("sig").as("sig_b"),
        col("band"), col("bkey"))
    a.select(col("id").as("new_id"), col("sig").as("sig_a"),
        col("band"), col("bkey"))
      .join(store, Seq("band", "bkey"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select(col("new_id"), col("corpus_id"),
        hammingDistance(col("sig_a"), col("sig_b")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("new_id", "corpus_id")
  }

  /** JUDGED recall contract for the Hamming banding family — the
    * [[minhashRecallContract]] question asked of the media-dedup
    * detectors (q158/q170/q177/q185 all stand on bands > distance
    * pigeonhole coverage): what fraction of the EXACT Hamming ≤ h
    * pairs does the banded detector surface, per (bands, maxHamming)
    * configuration? For a valid configuration (maxHamming < bands) the
    * pigeonhole makes recall exactly 1.0 — deterministic, not
    * probabilistic — so the contract's bound is 1.0 and any slicing
    * bug (band mask off-by-one, bkey truncation, a band dropped)
    * fails it; a config whose banding CANNOT cover the verify
    * threshold (maxHamming ≥ bands) is measured rather than rejected,
    * so the contract CATCHES it (recall < 1 on any corpus with a
    * cross-band-distance pair).
    *
    * Truth is computed independently of banding: a corpus-capped probe
    * slice is broadcast against the full signature relation for an
    * exact `bit_count(xor)` scan. The slice stride is
    * `max(probeMod, n/40)` — the [[graft.ops.ProductQuantize
    * .pqRecallContract]] convention: a FIXED mod-50 slice makes the
    * probe count grow with the corpus and the truth side O(n²/50)
    * (measured as the fastest-growing judged query at sf1, 3.4× on
    * 10× data), while statistical power is flat past a few dozen
    * probes — so the stride widens deterministically to cap the
    * sample at ~40 and truth cost at |corpus|·~40 at ANY scale. The
    * oracle replays `greatest(probeMod, n // 40)` exactly.
    * Output: (method, n_true, recall_ok) per configuration.
    */
  def hammingRecallContract(sig: DataFrame, idCol: String, sigCol: String,
      bits: Int, probeMod: Int = 50,
      configs: Seq[(Int, Int, Double)] = Seq((4, 3, 1.0), (6, 3, 1.0)))
      : DataFrame = {
    val rel = sig.select(col(idCol).as("id"), col(sigCol).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stride = math.max(probeMod.toLong, rel.count() / 40)
    val probes = rel.select(col("id").as("pid"), col("sig").as("psig"))
      .filter(pmod(col("pid"), lit(stride)) === 7)
    val rows = configs.map { case (bands, maxHamming, bound) =>
      val truth = rel.crossJoin(broadcast(probes))
        .filter(col("id") =!= col("pid"))
        .filter(hammingDistance(col("sig"), col("psig")) <= maxHamming)
        .select(col("pid"), col("id").as("cid"))
      val nTrue = truth.agg(count(lit(1)).as("n_true"))
      // banding is independent of the verify threshold; clamp only the
      // precondition argument so beyond-pigeonhole configs are MEASURED
      val clamp = math.min(maxHamming, bands - 1)
      val a = bandedSig(probes, "pid", "psig", bits, bands, clamp)
        .select(col("id").as("pid"), col("sig").as("sig_a"),
          col("band"), col("bkey"))
      val b = bandedSig(rel, "id", "sig", bits, bands, clamp)
        .select(col("id").as("cid"), col("sig").as("sig_b"),
          col("band"), col("bkey"))
      val cand = a.join(b, Seq("band", "bkey"))
        .filter(col("pid") =!= col("cid"))
        .filter(hammingDistance(col("sig_a"), col("sig_b")) <= maxHamming)
        .select(col("pid"), col("cid"))
        .dropDuplicates("pid", "cid")
      truth.join(cand, Seq("pid", "cid"))
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(broadcast(nTrue))
        .select(
          lit(s"hamming_${bits}b_${bands}x_h$maxHamming").as("method"),
          col("n_true"),
          (col("n_hit").cast("double") >=
            lit(bound) * col("n_true").cast("double")).as("recall_ok"))
    }
    CacheLifecycle.resolveAndRelease(rows.reduce(_.unionByName(_)), rel)
  }

  /** Full-store Hamming pair sweep — the MAINTENANCE pass's pair
    * source: keep-best / cluster decisions over the whole media corpus
    * read the store's at-rest `bands/` relation (already banded,
    * already bucket-partitioned) and NEVER the media bytes the
    * signatures came from. At 100 TB of images a periodic decision
    * pass costs a signature-store scan (signature-count-proportional,
    * bands× rows) instead of a full corpus re-decode; candidates stay
    * band-bucket-blocked exactly as [[hammingNearDupFromSig]]'s —
    * the two produce IDENTICAL pairs by construction (the shared
    * [[pairsFromBanded]] tail; where the signatures live cannot change
    * a pair). Tombstoned (deleted, un-purged) signatures are masked
    * out first: a decision must not see evicted media.
    */
  def hammingPairsFromSignatureStore(
      spark: org.apache.spark.sql.SparkSession, path: String,
      maxHamming: Int = 3): DataFrame = {
    healedSigStore(spark, path)
    val (_, bands, _) = signatureStoreLayout(spark, path)
    require(maxHamming < bands,
      s"pigeonhole needs maxHamming ($maxHamming) < bands ($bands)")
    val banded = AnnIndex.tombstoneMask(spark, s"$path/bands", "id",
        spark.read.parquet(s"$path/bands"))
      .select(col("id"), col("sig"), col("band"), col("bkey"))
    pairsFromBanded(banded, maxHamming)
  }

  /** Connected components over a near-duplicate pair list — the step
    * that turns pairwise matches into dedup *decisions* (keep one doc
    * per component). Min-label propagation: every node starts as its own
    * label; each round a node takes the minimum label among itself and
    * its neighbors; at fixpoint the label is the component's minimum id,
    * which is deterministic under any partitioning or execution order.
    *
    * Scale: the init aggregate is the only unconditional O(E) shuffle;
    * every later round is DELTA propagation — the edge relation joined
    * against only the labels that changed last round (broadcast when
    * small, so E is scanned, not shuffled). Rounds = graph diameter,
    * but on dense near-dup graphs (where E dominates) deltas collapse
    * after the init round: measured at sf1 (20M edges / 19k nodes,
    * avg degree ~2100) this took the full clustering 52 s → ~16 s.
    * A pathological long-chain component (diameter > maxRounds) still
    * motivates [[duplicateClustersStar]] (O(log²) rounds). The driver
    * loop exchanges only a 1-row delta count per round — never data.
    */
  /** localCheckpoint + stats reset for ITERATED relations. Spark's
    * `LogicalRDD.fromDataset` rewrites the source plan's size estimate
    * onto the checkpointed relation, so when round N's relation is a
    * join of two round-N-1 checkpoints, the estimated sizes MULTIPLY
    * round over round — the BigInteger bit-length doubles per round,
    * planning slows down with it, and Catalyst's stats visitor throws
    * `ArithmeticException: BigInteger would overflow supported range`
    * around round 30 (observed on a diameter-120 chain). Re-wrapping
    * the materialized RDD resets stats to a constant, keeping planning
    * O(1) per round. Costs one Row conversion on consumption — apply
    * it to the relations the loop rebuilds, not to loop-invariant ones.
    */
  private def ckptReset(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** [[ckptReset]] plus a release handle on the PERSISTED checkpoint
    * RDD (the `LogicalRDD` leaf the eager checkpoint created). Iterative
    * operators use it to unpersist each round's blocks the moment the
    * next round is materialized: without an explicit release the blocks
    * wait for the ContextCleaner (GC-driven, so a back-to-back workload
    * accumulates every round of every run until a collection happens —
    * measured as multi-second run-to-run noise on q110/q111's composed
    * pipelines). The released RDD is never referenced again by
    * construction — successors are materialized checkpoints, not
    * lineage over the predecessor.
    */
  private def ckptResetH(df: DataFrame): (DataFrame, Option[org.apache.spark.rdd.RDD[_]]) = {
    val ck = df.localCheckpoint()
    val h = ck.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    (ck.sparkSession.createDataFrame(ck.rdd, ck.schema), h)
  }

  private def releaseCkpt(h: Option[org.apache.spark.rdd.RDD[_]]): Unit =
    h.foreach(_.unpersist(blocking = false))

  def duplicateClusters(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxRounds: Int = 50): DataFrame = {
    // Iterative plans MUST truncate lineage per round: building round
    // N's DataFrame on round N-1's plan grows the logical plan
    // exponentially (the join references labels twice) — planning alone
    // OOMs after ~10 rounds. localCheckpoint materializes the round and
    // cuts the lineage; on a cluster with dynamic executors use
    // `checkpoint()` against reliable storage instead.
    // No distinct() on the edge relation: min-label propagation is
    // correct under duplicate edges (min is idempotent), and the
    // near-dup producers upstream already emit canonical distinct
    // pairs — dedup here would be a wasted O(E) shuffle of the
    // largest relation in the job. Heavily-duplicated input costs
    // proportional scan time, never correctness.
    val edgesCk = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .unionByName(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .localCheckpoint()
    val edgesPin = edgesCk.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    val edges: DataFrame = edgesCk
    // From identity labels, round 1 is just min(id, neighbor ids) — fuse
    // it into initialization: one aggregate, no join, and one fewer
    // convergence-check job.
    var (labels, labelsPin) = ckptResetH(edges.groupBy(col("src").as("id"))
      .agg(least(col("src"), min(col("dst"))).as("label")))
    // DELTA propagation: a node's label can only improve when a
    // neighbor's label improved last round, so each round joins the
    // edge relation against the CHANGED labels only — not all labels.
    // On dense near-dup graphs (sf1 embeddings: 20M edges over 19k
    // nodes, avg degree ~2100) the fused init round already assigns
    // most final labels, so deltas collapse after round 2 and the
    // per-round cost drops from O(E) shuffles to a scan of E joined
    // against a shrinking delta. After init, the changed set is
    // exactly the non-minimum nodes (label != id).
    var (delta, deltaPin) = ckptResetH(labels.filter(col("label") =!= col("id")))
    var nDelta = delta.count()
    var round = 1
    while (nDelta > 0 && round < maxRounds) {
      // Broadcast small deltas so the E-sized edge relation is scanned,
      // not shuffled; past the threshold let the planner shuffle both
      // sides (round-2 deltas are V-sized on a dense graph — still
      // far below E).
      val dJoin = if (nDelta <= 1000000) broadcast(delta) else delta
      val cand = edges
        .join(dJoin.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id")).agg(min(col("label")).as("cand"))
      val (improved, improvedPin) = ckptResetH(cand
        .join(labels, "id")
        .filter(col("cand") < col("label"))
        .select(col("id"), col("cand").as("label")))
      nDelta = improved.count()
      if (nDelta > 0) {
        // Broadcast the (small) improvement set so the labels relation
        // is scanned in place, not shuffled, for the update join.
        val im = (if (nDelta <= 1000000) broadcast(improved) else improved)
          .withColumnRenamed("label", "better")
        val (nl, nlPin) = ckptResetH(labels.as("l")
          .join(im.as("im"), Seq("id"), "left")
          .select(col("id"), coalesce(col("better"), col("l.label")).as("label")))
        // predecessors are materialized out of the new round's lineage —
        // release their blocks now, not at the next GC
        releaseCkpt(labelsPin); labels = nl; labelsPin = nlPin
        releaseCkpt(deltaPin); delta = improved; deltaPin = improvedPin
      } else {
        releaseCkpt(improvedPin)
      }
      round += 1
    }
    releaseCkpt(edgesPin)
    releaseCkpt(deltaPin)
    val converged = nDelta == 0
    // A silent non-converged return would split one true component into
    // several cluster ids — downstream dedup would then KEEP duplicates.
    // Fail loudly instead; a >maxRounds-diameter graph needs the
    // alternating-star variant, not a bigger budget.
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxRounds rounds " +
          "(component diameter exceeds maxRounds)")
    labels.withColumnRenamed("label", "cluster_id")
  }

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the diameter-robust alternative to
    * [[duplicateClusters]]'s label propagation. Propagation needs
    * O(diameter) rounds; the star operations contract every component to
    * a star rooted at its minimum id in O(log²) rounds, so a pathological
    * long-chain component (diameter in the hundreds) converges in a
    * handful of iterations instead of blowing the round budget.
    *
    * Each round is two grouped aggregations + joins on the node id — the
    * same shuffle shape per round as propagation, just fewer rounds. The
    * edge relation is re-canonicalized (`lo < hi`) and distinct'd every
    * step, so the working set only shrinks; the driver exchanges a 1-row
    * equality flag per round, never data. Same output contract as
    * [[duplicateClusters]]: (id, cluster_id = component minimum), one row
    * per node that appears in `pairs`.
    */
  def duplicateClustersStar(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxRounds: Int = 30): DataFrame = {
    // canonical undirected edges: (lo, hi), lo < hi, no self-loops
    def canon(df: DataFrame): DataFrame =
      df.filter(col("lo") =!= col("hi"))
        .select(least(col("lo"), col("hi")).as("lo"),
          greatest(col("lo"), col("hi")).as("hi"))
        .distinct()

    // Large-star: every node u links its strictly-larger neighbors to
    // m(u) = min(neighbors ∪ {u}).
    def largeStar(edges: DataFrame): DataFrame = {
      val dir = edges.select(col("lo").as("src"), col("hi").as("dst"))
        .unionByName(edges.select(col("hi").as("src"), col("lo").as("dst")))
      val m = dir.groupBy("src").agg(least(col("src"), min(col("dst"))).as("m"))
      // dst > src ≥ m, so (m, dst) is already lo < hi
      canon(dir.join(m, "src").filter(col("dst") > col("src"))
        .select(col("m").as("lo"), col("dst").as("hi")))
    }

    // Small-star: every node u links its smaller neighbors AND itself to
    // m(u) = min of those neighbors (all dst < src here).
    def smallStar(edges: DataFrame): DataFrame = {
      val dir = edges.select(col("hi").as("src"), col("lo").as("dst"))
      val m = dir.groupBy("src").agg(min(col("dst")).as("m"))
      val withM = dir.join(m, "src")
      canon(
        withM.select(col("m").as("lo"), col("dst").as("hi"))
          .unionByName(withM.select(col("m").as("lo"), col("src").as("hi"))))
    }

    // Convergence signature: (count, XOR of xxhash64(lo, hi)) — ONE
    // aggregation job per round over the (distinct) edge set, replacing
    // the count + count + E-sized exceptAll triple the loop originally
    // ran per round. XOR is order/partition-independent, and a hash
    // collision (two different edge sets with equal count AND equal
    // 64-bit XOR) cannot produce a silently wrong answer: a
    // falsely-early stop leaves a non-star-forest edge set, which the
    // explicit postcondition below rejects loudly.
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        bit_xor(xxhash64(col("lo"), col("hi")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // ckptReset, not bare localCheckpoint: each star round self-joins
    // the previous round's relation, so inherited stats estimates would
    // double in bit-length per round — see ckptReset.
    var (edges, edgesPin) =
      ckptResetH(canon(pairs.select(col(idA).as("lo"), col(idB).as("hi"))))
    var cur = signature(edges)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val (next, nextPin) = ckptResetH(smallStar(largeStar(edges)))
      val nextSig = signature(next)
      converged = nextSig == cur
      cur = nextSig
      // the superseded round is materialized out of `next`'s lineage —
      // release its blocks now rather than at the next GC
      releaseCkpt(edgesPin)
      edges = next; edgesPin = nextPin
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClustersStar did not converge in $maxRounds rounds")
    // The convergence check sees only the composed round; guard the
    // star-forest postcondition explicitly (every hi exactly once, no hi
    // also a lo) — a non-star fixpoint would silently mislabel.
    val dupHi = edges.groupBy("hi").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).limit(1).count()
    val hiAsLo = edges.select("lo").distinct()
      .join(edges.select(col("hi").as("lo")).distinct(), Seq("lo"), "leftsemi")
      .limit(1).count()
    if (dupHi + hiAsLo > 0)
      throw new IllegalStateException(
        "duplicateClustersStar fixpoint is not a star forest")
    // fixpoint = stars rooted at each component's minimum: every non-root
    // node appears exactly once as hi, roots label themselves
    edges.select(col("hi").as("id"), col("lo").as("cluster_id"))
      .unionByName(edges.select(col("lo").as("id"), col("lo").as("cluster_id")))
      .distinct()
  }
}
