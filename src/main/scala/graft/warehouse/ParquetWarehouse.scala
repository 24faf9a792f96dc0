package graft.warehouse

import graft.io.LocalFs
import graft.queries.MicroBatchLoop.rmTree
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Parquet-directory warehouse: one dir per target table, updated by
  * keyed MERGE ([[Merge.upsert]]) or insert-only append
  * ([[Merge.insertNew]]) — the stand-in for the reference's Snowflake
  * target tables (reference: location.sql:11-18 et al.) in an offline,
  * no-Delta environment. On a real cluster this layer is a
  * transactional table format (Delta/Iceberg) with the same merge
  * algebra; at 100 TB the target is partitioned (by key prefix or date)
  * and only affected partitions rewrite ([[BucketedWarehouse]]).
  *
  *  - '''Swap.''' A Spark plan cannot overwrite a path it reads, so a
  *    merge writes `.<t>_tmp`, renames the live dir aside to `.<t>_old`,
  *    renames `.<t>_tmp` into place and only then deletes `.<t>_old`. A
  *    failed rename throws. A crash between the two renames leaves only
  *    `.<t>_old`; the next access renames it back, so a replayed batch
  *    merges into the full history instead of into nothing.
  *  - '''File sizing.''' A merge rewrites the whole table, so it writes
  *    ⌈(target on-disk bytes + batch input bytes) / split⌉ files (split =
  *    `spark.sql.files.maxPartitionBytes`), at least 1: the file count
  *    tracks the table's size instead of growing by the merged plan's
  *    partition count on every cycle.
  *  - '''Schema memo.''' The schema each table was last written with is
  *    remembered per JVM (keyed by path; the writer is the only one that
  *    sets it), so [[read]] passes it to `spark.read.schema(..)` instead
  *    of running a schema-inference job. A table this JVM did not write
  *    is read with inference.
  *  - '''Filesystem.''' Constructing a warehouse installs graft's local
  *    filesystem ([[graft.io.LocalFs]]) on `spark`.
  */
final class ParquetWarehouse(spark: SparkSession, root: String) {
  import ParquetWarehouse._

  LocalFs.install(spark)

  def path(table: String): String = s"$root/$table"

  private def aside(table: String, suffix: String): java.io.File =
    new java.io.File(root, s".${table}_$suffix")

  /** Finish or undo a swap a crash interrupted: `.<t>_old` alone is the
    * live table; next to a swapped-in table it is garbage.
    */
  private def heal(table: String): Unit = {
    val old = aside(table, "old")
    if (old.exists()) {
      val dest = new java.io.File(path(table))
      if (dest.exists()) rmTree(old) else rename(old, dest)
    }
  }

  def exists(table: String): Boolean = {
    heal(table)
    new java.io.File(path(table)).exists()
  }

  /** `table` under `spark`'s session (a merge reads its target under the
    * stage's session, so the whole merge plan runs under one conf).
    */
  private def readIn(s: SparkSession, table: String): DataFrame = {
    heal(table)
    val p = path(table)
    Option(schemas.get(p)).fold(s.read)(s.read.schema(_)).parquet(p)
  }

  def read(table: String): DataFrame = readIn(spark, table)

  /** Overwrite `table` with `df` via write-aside + swap (class doc).
    * `inputBytes` is the bytes `df` adds to the table's current on-disk
    * size; together they size the file count.
    */
  def overwrite(table: String, df: DataFrame, inputBytes: Long = 0L): Unit = {
    val dest = new java.io.File(path(table))
    val tmp = aside(table, "tmp")
    val old = aside(table, "old")
    heal(table)
    val split = math.max(1L, org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "128m")))
    val bytes = dataBytes(dest) + inputBytes
    val files = math.max(1L, (bytes + split - 1) / split)
    df.coalesce(files.toInt)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (dest.exists()) rename(dest, old)
    rename(tmp, dest)
    schemas.put(path(table), df.schema)
    rmTree(old)
  }

  /** MERGE `stage` into `table` on `keys` (M1/M3-M5 semantics);
    * `stageBytes` sizes the files ([[overwrite]]).
    */
  def mergeInto(table: String, stage: DataFrame, keys: Seq[String],
      stageBytes: Long = 0L): Unit = {
    val merged =
      if (exists(table)) Merge.upsert(readIn(stage.sparkSession, table), stage, keys)
      else Merge.dedupLastWins(stage, keys, Nil)
    overwrite(table, merged, stageBytes)
  }

  /** Insert-only dimension append (M2/D5 semantics). */
  def insertNewInto(table: String, rows: DataFrame, keys: Seq[String],
      rowsBytes: Long = 0L): Unit = {
    val merged =
      if (exists(table)) Merge.insertNew(readIn(rows.sparkSession, table), rows, keys)
      else Merge.dedupLastWins(rows.distinct(), keys, Nil)
    overwrite(table, merged, rowsBytes)
  }
}

object ParquetWarehouse {

  /** Table path → the schema it was last written with (class doc). */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def rename(from: java.io.File, to: java.io.File): Unit =
    if (!from.renameTo(to)) throw new java.io.IOException(s"cannot rename $from to $to")

  /** Bytes of the data files in table dir `dir`; 0 when it is absent. */
  private def dataBytes(dir: java.io.File): Long =
    Option(dir.listFiles).fold(0L)(_.filterNot { f =>
      f.getName.startsWith(".") || f.getName.startsWith("_")
    }.map(_.length).sum)
}
