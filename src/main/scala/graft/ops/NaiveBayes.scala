package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multinomial Naive Bayes document classifier — the trained
  * quality/domain classifier of the fasttext-filter lineage (GPT-3/
  * Llama-style "does this look like the reference corpus?" gating,
  * domain routing, language verification): next to the UNtrained
  * heuristics ([[TextAnalysis.langId]], [[TextAnalysis.qualityScore]])
  * and the generative [[LanguageModel]] gate, this is the supervised
  * member of the curation family — it learns per-label token
  * likelihoods from a labeled slice and scores any later batch.
  *
  * Model (add-one Laplace, event model = token occurrences):
  *  - prior      `lp(y)  = ln(n_docs(y) / n_docs)`
  *  - likelihood `ll(y,t) = ln((c(y,t) + 1) / (n_tok(y) + V))`
  *  - floor      `fl(y)  = ln(1 / (n_tok(y) + V))` — the smoothed mass
  *    for tokens unseen under label y (including tokens outside the
  *    training vocabulary entirely), so held-out scoring is total:
  *    no token is ever dropped (the [[Bpe.docTokenCounts]] OOV lesson).
  *  - score(d,y) = lp(y) + Σ_occurrences ll/fl; prediction = argmax,
  *    ties broken by label ascending.
  *
  * Two serving shapes, the [[LanguageModel]] contract: [[trainModel]] +
  * [[classify]] fused in one session, or [[writeModel]] /
  * [[readModel]] persisting the model as two tables (`priors/` —
  * per-label scalars lp + fl, |labels| rows; `lik/` — (label, tok,
  * ll), vocabulary×labels-proportional) so a production gate scores
  * every future batch against the FROZEN counts: a document's class
  * must not depend on what arrived after it.
  *
  * Scale shape: training is two grouped aggregates over the token
  * relation (map-side combined) plus |labels|-row scalars; scoring
  * equi-joins the batch's token occurrences against the likelihood
  * table on (label, tok) — batch-sized vs vocabulary-sized, never a
  * cross product against the corpus; priors/floors ride a broadcast.
  * Per-doc sums follow the BM25 determinism discipline: contributions
  * rounded to 9 and summed as DECIMAL (order-invariant), the final
  * score rounded to 6 — so a DuckDB oracle replays the arithmetic
  * bit-exactly. The label fan-out multiplies the batch token relation
  * by |labels| (small: a classifier with thousands of labels would
  * instead prune candidates first); the argmax window partitions by
  * document with |labels| rows per partition — no skew possible.
  */
object NaiveBayes {

  /** Whitespace tokens, lowercased, empties dropped — the shared
    * tokenizer of [[TextAnalysis.tokens]]/[[LanguageModel]], and the
    * default FEATURE EXTRACTOR. The extractor is pluggable (an
    * `array<string>`-valued Column function) because the model is
    * feature-agnostic: q173 trains on word occurrences, q186 on
    * character bigrams ([[TextAnalysis.charBigrams]] — the TRAINED
    * form of the q24/langIdCharNgram heuristics). Train and classify
    * must use the SAME extractor; it is part of the frozen model's
    * contract exactly like the BPE merge table is part of the
    * tokenizer's.
    */
  val wordFeatures: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    t => filter(split(lower(t), " "), x => x =!= "")

  /** The trained model: `priors` = (label, lp, fl) — one row per label;
    * `lik` = (label, tok, ll) — one row per (label, training token).
    */
  final case class Model(priors: DataFrame, lik: DataFrame)

  /** Train on `docs` (labelCol is the supervision). Documents with no
    * tokens still count toward the prior (they are labeled evidence),
    * they just contribute no likelihood rows.
    */
  def trainModel(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String,
      featuresOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        wordFeatures): Model = {
    val (lab, tok, pin) = countRelations(docs, textCol, labelCol, featuresOf)
    val m = modelFromCounts(lab, tok)
    Model(
      CacheLifecycle.resolveAndRelease(m.priors),
      CacheLifecycle.resolveAndRelease(m.lik, pin))
  }

  /** The sufficient statistics of the multinomial-NB model, as two
    * count relations: `lab` = (label, n_y, n_tok) and `tok` =
    * (label, tok, c). Counts are ADDITIVE — the property the at-rest
    * [[writeCountBatch]] ingest path is built on.
    */
  private def countRelations(docs: DataFrame, textCol: String,
      labelCol: String,
      featuresOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column):
      (DataFrame, DataFrame, DataFrame) = {
    val tokOcc = docs
      .select(col(labelCol).as("label"),
        explode(featuresOf(col(textCol))).as("tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tok = tokOcc.groupBy(col("label"), col("tok"))
      .agg(count(lit(1)).as("c"))
    // LEFT join: a label whose every training document is token-free
    // has no row on the occurrence side but is still labeled evidence —
    // it keeps its prior (n_y) with n_tok = 0, and the floor formula
    // ln(1/(0+V)) already handles the zero
    val lab = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_y"))
      .join(tokOcc.groupBy(col("label")).agg(count(lit(1)).as("n_tok")),
        Seq("label"), "left")
      .select(col("label"), col("n_y"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"))
    (lab, tok, tokOcc)
  }

  /** The shared model tail: smoothed log-quantities from summed counts.
    * Identical arithmetic whether the counts came from one in-session
    * pass ([[trainModel]]) or from summed at-rest delta partitions
    * ([[readCountModel]]) — where the counts live cannot change a
    * posterior.
    */
  private def modelFromCounts(lab0: DataFrame, tok0: DataFrame): Model = {
    // summed counts can reach zero under [[deleteCountBatch]]'s
    // negative deltas: a zeroed token exits the vocabulary (it would
    // score at the floor either way — ln((0+1)/(n+V)) IS fl — but V
    // must shrink exactly as a retrain's would), a zeroed label exits
    // the model entirely (its prior is ln 0)
    val tok = tok0.filter(col("c") >= 1)
    val lab = lab0.filter(col("n_y") >= 1)
    val v = tok.agg(countDistinct(col("tok")).as("v"))
    val nDocs = lab.agg(sum(col("n_y")).as("n_docs"))
    val priors = lab
      .crossJoin(broadcast(nDocs))
      .crossJoin(broadcast(v))
      .select(col("label"),
        round(log(col("n_y").cast("double") / col("n_docs").cast("double")),
          9).as("lp"),
        round(log(lit(1.0) / (col("n_tok") + col("v")).cast("double")),
          9).as("fl"))
    val lik = tok
      .join(lab.select(col("label"), col("n_tok")), Seq("label"))
      .crossJoin(broadcast(v))
      .select(col("label"), col("tok"),
        round(log((col("c") + 1).cast("double") /
          (col("n_tok") + col("v")).cast("double")), 9).as("ll"))
    Model(priors, lik)
  }

  /** Score `docs` against a (frozen or fresh) model: (id, pred_label,
    * score). Every token occurrence contributes — OOV and
    * label-unseen tokens land at the label's Laplace floor. Documents
    * with zero tokens are excluded (no evidence; mirror of
    * [[LanguageModel]]'s `len >= 2` rule).
    */
  def classify(docs: DataFrame, idCol: String, textCol: String,
      model: Model,
      featuresOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        wordFeatures): DataFrame = {
    val arg = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("label").asc)
    scoreLabels(docs, idCol, textCol, model, featuresOf)
      .withColumn("rk", row_number().over(arg))
      .filter(col("rk") === 1)
      .select(col(idCol), col("label").as("pred_label"), col("score"))
  }

  /** The per-(doc, label) posterior relation [[classify]] argmaxes
    * over — shared with [[calibrationSweep]], which needs the
    * runner-up too.
    */
  private def scoreLabels(docs: DataFrame, idCol: String, textCol: String,
      model: Model,
      featuresOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        wordFeatures): DataFrame =
    docs
      .select(col(idCol), explode(featuresOf(col(textCol))).as("tok"))
      .crossJoin(broadcast(model.priors))
      .join(model.lik, Seq("label", "tok"), "left")
      .select(col(idCol), col("label"), col("lp"),
        coalesce(col("ll"), col("fl"))
          .cast(DecimalType(28, 10)).as("c"))
      .groupBy(col(idCol), col("label"), col("lp"))
      .agg(sum(col("c")).as("s"))
      .select(col(idCol), col("label"),
        round(col("lp") + col("s").cast("double"), 6).as("score"))

  /** SELECTIVE-PREDICTION calibration sweep — the missing half of
    * shipping a trained gate: before auto-labeling (or auto-dropping)
    * at scale, measure what the "accept the prediction iff its MARGIN
    * (top posterior − runner-up) clears t" rule buys at each candidate
    * t. One row per threshold: how many documents the gate accepts
    * (`n_above`, `coverage`) and how accurate the accepted predictions
    * are against `labelCol` ground truth (`n_correct_above`,
    * `acc_above` — NULL at thresholds that accept nothing). The
    * operating point is then a read, not a guess.
    *
    * Scale shape: the posterior relation is |docs|·|labels| rows (the
    * [[classify]] cost exactly — one token-explode shuffle plus the
    * broadcast prior/likelihood joins), the top-2 window partitions by
    * document, and the sweep itself is a conditional aggregate against
    * a |thresholds|-row broadcast literal — the corpus is never
    * re-scanned per threshold. Determinism: margins are differences of
    * 6-rounded scores, re-rounded to 6; counts are exact; ratios
    * round at 6 (the cross-engine float discipline).
    */
  def calibrationSweep(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, model: Model, thresholds: Seq[Double],
      featuresOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        wordFeatures): DataFrame = {
    require(thresholds.nonEmpty, "calibrationSweep: no thresholds")
    import docs.sparkSession.implicits._
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("label").asc)
    val rk = scoreLabels(docs, idCol, textCol, model, featuresOf)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .localCheckpoint()
    val top = rk.filter(col("rk") === 1)
      .select(col(idCol), col("label").as("pred_label"), col("score").as("s1"))
    val snd = rk.filter(col("rk") === 2)
      .select(col(idCol), col("score").as("s2"))
    val truth = top.join(snd, idCol)
      .join(docs.select(col(idCol), col(labelCol).as("__true")), idCol)
      .select(round(col("s1") - col("s2"), 6).as("margin"),
        (col("pred_label") === col("__true")).cast("long").as("ok"))
    val nd = truth.agg(count(lit(1)).as("n_docs"))
    truth.crossJoin(broadcast(thresholds.toDF("threshold")))
      .groupBy(col("threshold"))
      .agg(
        sum(when(col("margin") >= col("threshold"), 1L).otherwise(0L))
          .as("n_above"),
        sum(when(col("margin") >= col("threshold") && col("ok") === 1L, 1L)
          .otherwise(0L)).as("n_correct_above"))
      .crossJoin(broadcast(nd))
      .select(col("threshold"), col("n_docs"), col("n_above"),
        col("n_correct_above"),
        round(col("n_above").cast("double") /
          col("n_docs").cast("double"), 6).as("coverage"),
        when(col("n_above") === 0L, lit(null).cast("double"))
          .otherwise(round(col("n_correct_above").cast("double") /
            col("n_above").cast("double"), 6)).as("acc_above"))
      .orderBy(col("threshold"))
  }

  /** Persist a trained model: `priors/` (|labels| rows, coalesced to
    * one file) + `lik/` (vocabulary×labels rows).
    */
  def writeModel(model: Model, path: String): Unit = {
    val mode = org.apache.spark.sql.SaveMode.Overwrite
    model.priors.coalesce(1).write.mode(mode).parquet(s"$path/priors")
    model.lik.write.mode(mode).parquet(s"$path/lik")
  }

  /** Read a stored model back — scoring against it is byte-identical
    * to scoring against the in-session relations (where the counts
    * live cannot change a posterior).
    */
  def readModel(spark: SparkSession, path: String): Model =
    Model(spark.read.parquet(s"$path/priors"),
      spark.read.parquet(s"$path/lik"))

  // ------------------------------------------------- counts at rest (LSM)

  /** The INCREMENTAL at-rest form: because NB's sufficient statistics
    * are additive counts, the stored model can be an LSM of per-batch
    * COUNT DELTAS — `lab_counts/bid=<batch>/` (label, n_y, n_tok) and
    * `tok_counts/bid=<batch>/` (label, tok, c) — summed at read and
    * smoothed by the same [[trainModel]] tail. That is what [[Model]]'s
    * frozen `lik` table cannot give you: folding a new labeled batch
    * into a log-likelihood is not additive (every ll(y,t) moves when
    * n_tok(y) or V moves), folding it into counts is.
    *
    * Crash safety (the [[graft.ops.Retrieval.appendToBm25Index]] write-
    * order discipline): token deltas land FIRST, label deltas LAST —
    * [[readCountModel]] admits only batches whose `lab_counts`
    * partition exists, so a torn write is invisible until its retry,
    * and the retry is IDEMPOTENT because each batch overwrites only its
    * own `bid=` partitions. Batch size never matters to correctness;
    * serve-time read cost grows with batch count until
    * [[compactCountModel]] folds the deltas ("OPTIMIZE"). Retries stay
    * idempotent ACROSS a compaction too: folding records every folded
    * bid in a `folded/` ledger, and a retry of an already-folded
    * batchId is a no-op (its counts already live in `bid=__compacted`;
    * a fresh partition would double-count them at read).
    */
  def writeCountBatch(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, path: String, batchId: String,
      featuresOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        wordFeatures): Unit = {
    require(batchId.matches("[A-Za-z0-9_-]+"),
      s"batchId '$batchId' must be a plain partition token")
    val root = CountLsm.healedRoot(docs.sparkSession, path)
    // idempotent-retry guard across compaction: a bid that was already
    // FOLDED into __compacted must not land again — its counts are in
    // the compacted partition, and a fresh bid= partition would
    // double-count the batch at read (the q184 streaming-restart +
    // interleaved-compaction window)
    if (CountLsm.foldedBids(docs.sparkSession, root).contains(batchId)) return
    val (lab, tok, pin) = countRelations(docs, textCol, labelCol, featuresOf)
    try {
      val mode = org.apache.spark.sql.SaveMode.Overwrite
      tok.write.mode(mode).parquet(s"$root/tok/bid=$batchId")
      lab.coalesce(1).write.mode(mode).parquet(s"$root/lab/bid=$batchId")
    } finally { pin.unpersist(blocking = false); () }
  }

  /** UNLEARN a labeled batch — deletion for the classifier, free by
    * construction in the count-delta LSM: the batch's counts are
    * re-derived from the SAME docs and appended NEGATED (c → −c,
    * n_y → −n_y, n_tok → −n_tok) under their own `bid=` partitions, so
    * the summed model equals one trained without the batch EXACTLY —
    * vocabulary shrinkage included ([[modelFromCounts]] drops zeroed
    * tokens from V and zeroed labels from the model, precisely what a
    * retrain would do). The eviction story every other index family
    * already has (q166–q171), for the model: a take-down or opt-out of
    * labeled training data must leave the posterior as if the data had
    * never arrived. Same commit marker, same idempotent retry.
    */
  def deleteCountBatch(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, path: String, batchId: String,
      featuresOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        wordFeatures): Unit = {
    require(batchId.matches("[A-Za-z0-9_-]+"),
      s"batchId '$batchId' must be a plain partition token")
    val root = CountLsm.healedRoot(docs.sparkSession, path)
    // same folded-bid retry guard as [[writeCountBatch]]: a compacted
    // tombstone batch re-deleted would subtract the docs twice
    if (CountLsm.foldedBids(docs.sparkSession, root).contains(batchId)) return
    val (lab, tok, pin) = countRelations(docs, textCol, labelCol, featuresOf)
    try {
      val mode = org.apache.spark.sql.SaveMode.Overwrite
      tok.select(col("label"), col("tok"), (-col("c")).as("c"))
        .write.mode(mode).parquet(s"$root/tok/bid=$batchId")
      lab.select(col("label"), (-col("n_y")).as("n_y"),
          (-col("n_tok")).as("n_tok"))
        .coalesce(1).write.mode(mode).parquet(s"$root/lab/bid=$batchId")
    } finally { pin.unpersist(blocking = false); () }
  }

  /** Sum the committed delta partitions and smooth — the identical
    * [[trainModel]] arithmetic, so a model assembled from any batch
    * decomposition equals the one-shot model exactly. Only batches
    * whose `lab` partition landed are admitted (the commit marker —
    * see [[writeCountBatch]]).
    */
  def readCountModel(spark: SparkSession, path: String): Model = {
    val root = CountLsm.healedRoot(spark, path)
    // admitted = committed (lab/ landed) minus already-FOLDED bids: a
    // bid= partition re-appended after its counts were compacted (the
    // belt-and-braces side of the [[writeCountBatch]] guard) reads as
    // the compacted copy only, never both
    val folded = CountLsm.foldedBids(spark, root)
    val lab0 = CountLsm.dropFolded(
      CountLsm.readDeltas(spark, root, "lab"), folded)
    val committed = lab0.select(col("bid")).distinct()
    val tok = CountLsm.readDeltas(spark, root, "tok")
      .join(broadcast(committed), Seq("bid"), "left_semi")
      .groupBy(col("label"), col("tok")).agg(sum(col("c")).as("c"))
    val lab = lab0.groupBy(col("label"))
      .agg(sum(col("n_y")).as("n_y"), sum(col("n_tok")).as("n_tok"))
    modelFromCounts(lab, tok)
  }

  /** Pin the count store's CURRENT batch set as snapshot `snapId` —
    * [[CountLsm.writeSnapshot]] with NB's commit marker (`lab`, the
    * relation [[writeCountBatch]] lands LAST): the classifier twin of
    * [[LanguageModel.snapshotCountModel]], on the same machinery.
    */
  def snapshotCountModel(spark: SparkSession, path: String,
      snapId: String): Unit =
    CountLsm.writeSnapshot(spark, path, snapId, "lab")

  /** The model AS OF snapshot `snapId` — [[readCountModel]]'s exact
    * summing/smoothing arithmetic over exactly the manifest's batches,
    * assembled from live ∪ compaction-retired delta partitions
    * ([[CountLsm.deltasAtSnapshot]]). Classifying against it replays
    * the decisions the store served at manifest time bit-for-bit,
    * across any later ingest, unlearning or compaction; a vacuumed
    * manifest bid fails loudly rather than serving a partial model.
    */
  def readCountModelAt(spark: SparkSession, path: String,
      snapId: String): Model = {
    val manifest = CountLsm.snapshotBids(spark, path, snapId)
    val lab = CountLsm.deltasAtSnapshot(spark, path, "lab", manifest)
      .groupBy(col("label"))
      .agg(sum(col("n_y")).as("n_y"), sum(col("n_tok")).as("n_tok"))
    val tok = CountLsm.deltasAtSnapshot(spark, path, "tok", manifest)
      .groupBy(col("label"), col("tok")).agg(sum(col("c")).as("c"))
    modelFromCounts(lab, tok)
  }

  /** Fold every committed delta partition into one `bid=__compacted`
    * partition — the count store's OPTIMIZE: serve-time reads stop
    * growing with ingest cadence, and the summed counts are the same
    * numbers the pre-compaction read produced. Both relations live
    * under ONE `counts/` root, swapped as one ([[CountLsm.compactSwap]]).
    *
    * Folded delta partitions are RETIRED for snapshot reproducibility
    * ([[CountLsm.writeSnapshot]]'s contract), not destroyed: the
    * physical purge of unlearned counts is compaction + [[CountLsm
    * .vacuumRetired]] once no live snapshot pins the batch.
    */
  def compactCountModel(spark: SparkSession, path: String): Unit = {
    val root = CountLsm.healedRoot(spark, path)
    val priorFolded = CountLsm.foldedBids(spark, root)
    val lab0 = CountLsm.dropFolded(
      CountLsm.readDeltas(spark, root, "lab"), priorFolded)
    val committed = lab0.select(col("bid")).distinct()
    val tok = CountLsm.readDeltas(spark, root, "tok")
      .join(broadcast(committed), Seq("bid"), "left_semi")
      .groupBy(col("label"), col("tok")).agg(sum(col("c")).as("c"))
      .localCheckpoint()
    val lab = lab0.groupBy(col("label"))
      .agg(sum(col("n_y")).as("n_y"), sum(col("n_tok")).as("n_tok"))
      .localCheckpoint()
    // the folded-bid ledger ACCUMULATES across compactions: every bid
    // ever folded into __compacted stays barred from re-append forever
    // (the [[writeCountBatch]] retry guard reads this list)
    val foldedNow = (priorFolded ++
      committed.collect().map(_.getString(0)).filter(_ != "__compacted")).toSeq
    CountLsm.compactSwap(spark, path, root, foldedNow) { tmp =>
      tok.write.parquet(s"$tmp/tok/bid=__compacted")
      lab.coalesce(1).write.parquet(s"$tmp/lab/bid=__compacted")
    }
  }
}
