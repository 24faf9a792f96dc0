package graft.warehouse

import graft.io.{LocalFs, Swap}
import org.apache.hadoop.fs.{FileSystem, Path}
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
  *    merge replaces its table through [[graft.io.Swap]], and every
  *    access heals the table first: a replayed batch merges into the
  *    full history, never into nothing.
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

  private val fs: FileSystem = Swap.fs(spark, root)

  /** `table`'s live path, after healing a swap a crash cut short. */
  private def healed(table: String): Path = {
    val live = new Path(path(table))
    Swap.heal(fs, live)
    live
  }

  def exists(table: String): Boolean = fs.exists(healed(table))

  /** `table` under `spark`'s session (a merge reads its target under the
    * stage's session, so the whole merge plan runs under one conf).
    */
  private def readIn(s: SparkSession, table: String): DataFrame = {
    val p = healed(table).toString
    Option(schemas.get(path(table))).fold(s.read)(s.read.schema(_)).parquet(p)
  }

  def read(table: String): DataFrame = readIn(spark, table)

  /** Overwrite `table` with `df` through [[graft.io.Swap]].
    * `inputBytes` is the bytes `df` adds to the table's current on-disk
    * size; together they size the file count.
    */
  def overwrite(table: String, df: DataFrame, inputBytes: Long = 0L): Unit = {
    val live = healed(table)
    val split = math.max(1L, org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "128m")))
    val bytes = dataBytes(live) + inputBytes
    val files = math.max(1L, (bytes + split - 1) / split)
    Swap.replace(fs, live) { tmp =>
      df.coalesce(files.toInt).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    }
    schemas.put(path(table), df.schema)
  }

  /** Bytes of the data files in table dir `dir`; 0 when it is absent. */
  private def dataBytes(dir: Path): Long =
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).filterNot { f =>
      f.getPath.getName.startsWith(".") || f.getPath.getName.startsWith("_")
    }.map(_.getLen).sum

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
}
