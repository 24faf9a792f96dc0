package graft.warehouse

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The warehouse layer: keyed upsert (MERGE), insert-only dimension load,
  * and the count-verify protocol — the semantics of the reference's five
  * Snowflake procedures (reference: location.sql:43-59,
  * current_weather.sql:58-82, forecast_day_weather.sql:70-100,
  * forecast_hour_weather.sql:73-106, condition.sql:34-79).
  *
  * Scale notes:
  *  - `upsert` is one anti-join per batch. When the batch (stage) is small
  *    relative to the target — the normal incremental case — Spark's
  *    auto-broadcast turns it into a broadcast hash anti-join: the target
  *    is scanned once, never shuffled. For 100 TB targets the practical
  *    deployment partitions the target by a key prefix / date and rewrites
  *    only affected partitions (dynamic partition overwrite); the merge
  *    algebra below is unchanged.
  *  - a merge's cost is set by the batch, not the session: the streaming
  *    pipeline runs each micro-batch's five merges side by side under a
  *    batch-sized, non-adaptive conf, and [[ParquetWarehouse]] writes a
  *    merge result as ⌈bytes / split⌉ files, so neither the task count
  *    nor the file count of an incremental merge grows with the cycles.
  *  - stage-internal duplicates are resolved *last-wins* via one window
  *    (the reference relies on ≤1 row per key per batch; MERGE would throw
  *    on duplicates — we make the semantics explicit instead).
  */
object Merge {

  /** Last-wins dedup of `stage` on `keys`, ordered by `version` ascending
    * (highest version kept). With no version column, an arbitrary-but-
    * deterministic row wins via a total order over the key columns only.
    */
  def dedupLastWins(stage: DataFrame, keys: Seq[String], version: Seq[Column]): DataFrame = {
    val ord = if (version.nonEmpty) version.map(_.desc) else Seq(lit(1).asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    stage.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** MERGE upsert (M1/M3/M4/M5): rows of `stage` replace same-key rows of
    * `target`; unmatched target rows survive; unmatched stage rows insert.
    * Algebra: `dedup(stage) ∪ (target ⟕anti stage-keys)`.
    */
  /** @param broadcastStage hint the stage-key side of the anti join as a
    *   broadcast build (default: the normal incremental case, where the
    *   batch is tiny next to the target). Disable for giant backfills —
    *   the hint forces a broadcast regardless of size, and a 100 GB
    *   stage must shuffle-join instead.
    */
  def upsert(target: DataFrame, stage: DataFrame, keys: Seq[String],
      version: Seq[Column] = Nil, broadcastStage: Boolean = true): DataFrame = {
    val s = dedupLastWins(stage, keys, version)
    // Join only against the key projection: the anti join needs nothing
    // else, and the narrow build side keeps it broadcastable.
    val stageKeys = s.select(keys.map(col): _*).distinct()
    val build = if (broadcastStage) broadcast(stageKeys) else stageKeys
    s.unionByName(target.join(build, keys, "left_anti"))
  }

  /** Insert-only dimension load (M2/D2/D5): distinct new rows whose key is
    * absent from the dim are appended; existing rows are never updated
    * (reference: condition.sql:34-79).
    */
  def insertNew(dim: DataFrame, rows: DataFrame, keys: Seq[String]): DataFrame = {
    val fresh = rows.select(dim.columns.map(col).toSeq: _*).distinct()
      .join(broadcast(dim.select(keys.map(col): _*).distinct()), keys, "left_anti")
    dim.unionByName(dedupLastWins(fresh, keys, Nil))
  }

  /** The load-verification protocol (D3/D4/K5): distinct stage keys vs
    * distinct target keys that appear in the stage (semi join). The
    * reference truncates the stage only when the two counts agree
    * (reference: location.sql:36-79 et al.). Returns (staged, merged).
    */
  def verifyCounts(target: DataFrame, stage: DataFrame, key: String): (Long, Long) = {
    val staged = stage.agg(count_distinct(col(key))).head().getLong(0)
    val merged = target.join(stage.select(col(key)).distinct(), Seq(key), "left_semi")
      .agg(count_distinct(col(key))).head().getLong(0)
    (staged, merged)
  }
}
