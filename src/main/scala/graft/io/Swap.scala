package graft.io

import java.io.{FileNotFoundException, IOException}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one way graft replaces a stored relation, and the one heal of a
  * replacement a crash cut short. Every at-rest store (warehouse tables,
  * count stores, shingle/signature/BM25 stores, ANN and IVF indexes)
  * swaps through here; none renames a relation by hand.
  *
  * A relation lives at `live`. Its replacement is written beside it at
  * `.<name>_tmp` ([[replace]]; a job that rewrites many relations at
  * once may write them all under one dot-prefixed dir and swap each in
  * with [[swapIn]]), then:
  *  1. `live` is renamed to `.<name>_old` (skipped when `live` is absent);
  *  2. the replacement is renamed to `live`;
  *  3. `.<name>_old` is dropped — a recursive delete unless the store
  *     passes its own drop (the count stores retire their deltas).
  * Every rename's result is checked: a failed step 1 throws with `live`
  * untouched, a failed step 2 renames `.<name>_old` back and throws.
  *
  * A crash leaves one of three states, and [[heal]] settles each:
  *  - `.<name>_old` without `live` (cut after step 1): renamed back, so
  *    the relation is what it was before the swap began;
  *  - `.<name>_old` beside `live` (cut after step 2): dropped;
  *  - a stale `.<name>_tmp`: deleted.
  * Stores heal at every entry point — read, append, delete, compact,
  * purge, rebuild — before they list or write anything; a heal costs
  * one `stat` pair or one directory listing and runs no Spark job.
  * Dot-prefixed names are hidden from Spark's file listing and partition
  * discovery, so no aside dir ever shows up in a read.
  *
  * Single maintenance writer: one caller at a time replaces a given
  * relation, and nothing accesses that relation while its swap runs —
  * a concurrent access would heal the half-done swap as if it had
  * crashed. Stores run maintenance from the one scheduler that owns
  * their maintenance window; relations with different names are
  * independent (the warehouse merges its tables side by side).
  */
object Swap {

  /** How a store drops the renamed-aside `.<name>_old`. */
  type Drop = (FileSystem, Path) => Unit

  val remove: Drop = (fs, old) => { fs.delete(old, true); () }

  private val Aside = """\.(.+)_(?:tmp|old)""".r

  def tmp(live: Path): Path = aside(live, "tmp")

  def old(live: Path): Path = aside(live, "old")

  private def aside(live: Path, kind: String): Path =
    new Path(live.getParent, s".${live.getName}_$kind")

  /** The filesystem of `path` under `spark`'s Hadoop conf. */
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Replace `live` with what `write` writes at [[tmp]]`(live)`. */
  def replace(fs: FileSystem, live: Path, drop: Drop = remove)(write: Path => Unit): Unit = {
    val next = tmp(live)
    fs.delete(next, true)
    write(next)
    swapIn(fs, live, next, drop)
  }

  /** Steps 1–3 (class doc): swap the written replacement `next` in as `live`. */
  def swapIn(fs: FileSystem, live: Path, next: Path, drop: Drop = remove): Unit = {
    val aside = old(live)
    val had = fs.exists(live)
    if (had) rename(fs, live, aside)
    if (!fs.rename(next, live)) {
      if (had) rename(fs, aside, live)
      throw new IOException(s"cannot rename $next to $live")
    }
    if (had) drop(fs, aside)
  }

  /** Settle the swap of `live` a crash cut short (class doc). */
  def heal(fs: FileSystem, live: Path, drop: Drop = remove): Unit = {
    val aside = old(live)
    if (fs.exists(aside)) {
      if (fs.exists(live)) drop(fs, aside) else rename(fs, aside, live)
    }
    fs.delete(tmp(live), true); ()
  }

  /** [[heal]] every relation directly under `dir` that has an aside dir:
    * one listing of `dir`, nothing more when no swap was cut short.
    */
  def healAll(fs: FileSystem, dir: Path): Unit = {
    val names =
      try fs.listStatus(dir).map(_.getPath.getName)
      catch { case _: FileNotFoundException => Array.empty[String] }
    names.collect { case Aside(name) => name }.distinct
      .foreach(name => heal(fs, new Path(dir, name)))
  }

  /** [[healAll]] on `dir` under `spark`'s Hadoop conf; returns the filesystem. */
  def healed(spark: SparkSession, dir: String): FileSystem = {
    val f = fs(spark, dir)
    healAll(f, new Path(dir))
    f
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new IOException(s"cannot rename $from to $to")
}
