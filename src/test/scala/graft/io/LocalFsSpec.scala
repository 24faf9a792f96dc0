package graft.io

import java.io.{File, RandomAccessFile}
import java.lang.ref.Reference
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.queries.MicroBatchLoop.rmTree
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** [[LocalFs]]: no process spawns on graft's write paths, and every
  * check of the stock local filesystem kept — permission bits, `.crc`
  * side files and their verification, symlink reporting — plus an
  * install that is idempotent and never runs a delete-on-exit list.
  */
class LocalFsSpec extends SparkSpec {

  private val fsKey = "fs.file.impl"
  private val afsKey = "fs.AbstractFileSystem.file.impl"
  private val stockAfs = "org.apache.hadoop.fs.local.LocalFs"
  private val local = URI.create("file:///")

  private def conf: Configuration = spark.sparkContext.hadoopConfiguration

  private def withDir[A](f: File => A): A = {
    val dir = Files.createTempDirectory("graft_localfs_").toFile
    try f(dir) finally rmTree(dir)
  }

  /** The commands of the processes `f` starts, from JFR's
    * `jdk.ProcessStart` events.
    */
  private def spawns(f: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withoutStackTrace()
    rec.start()
    try f finally rec.stop()
    val file = Files.createTempFile("graft_spawns_", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(file) }
  }

  /** Collect every unreachable session and wait until the cleanups
    * Spark's `ArtifactManager` registers for them have run: each forks
    * an `rm -rf` of the session's artifact dir on a `Cleaner` thread
    * whenever a GC collects the session (earlier suites leave finished
    * streams' session clones behind), which must not land inside a
    * recording.
    */
  private def settleSessionCleanups(): Unit = {
    val quiet = Iterator.range(0, 20).exists(_ => spawns { System.gc(); Thread.sleep(200) }.isEmpty)
    assert(quiet, "session cleanups still forking after 20 collections")
  }

  /** Runs `f` with the stock local filesystem cached and configured,
    * then installs graft's again.
    */
  private def onStockFs[A](f: => A): A = {
    conf.unset(fsKey)
    conf.set(afsKey, stockAfs)
    FileSystem.get(local, conf).close()
    try f finally LocalFs.install(spark)
  }

  /** A partitioned parquet append, then a 2-batch `AvailableNow` file
    * stream into `foreachBatch` (its offset and commit logs are written
    * by `FileContext` renames).
    */
  private def writeSteps(dir: File): StreamingQuery = {
    val df = spark.range(40).select(col("id"), (col("id") % 4).as("p"))
    df.write.mode("append").partitionBy("p").parquet(s"$dir/table")
    df.repartition(2).write.parquet(s"$dir/in")
    val sink: (DataFrame, Long) => Unit =
      (batch, _) => batch.write.mode("append").parquet(s"$dir/out")
    val query = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
      .writeStream.option("checkpointLocation", s"$dir/ck")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(sink)
      .start()
    query.awaitTermination()
    assert(new File(dir, "ck/commits").list.filterNot(_.startsWith(".")).sorted.toSeq ===
      Seq("0", "1"))
    assert(spark.read.parquet(s"$dir/out").count() === 40)
    query
  }

  test("graft's write paths spawn no process; on the stock filesystem they do") {
    withDir { dir =>
      assert(FileSystem.get(local, conf).isInstanceOf[NioLocalFileSystem])
      settleSessionCleanups()
      var query: StreamingQuery = null
      // the query holds the stream's session clone: reachable, it is
      // not collected (and its artifact dir not removed) mid-recording
      val nio = spawns { query = writeSteps(new File(dir, "nio")) }
      Reference.reachabilityFence(query)
      assert(nio === Nil)
      val stock = onStockFs(spawns(writeSteps(new File(dir, "stock"))))
      assert(stock.count(c => c.startsWith("chmod") || c.startsWith("readlink")) > 0, stock)
      assert(FileSystem.get(local, conf).isInstanceOf[NioLocalFileSystem])
    }
  }

  /** `unix:mode` (rwx plus the sticky bit) of each path `make` creates
    * on `fs` and on a `FileContext` over `afs`, under `umask`.
    */
  private def modes(fs: FileSystem, afs: String, umask: String, dir: File): Seq[(String, Int)] = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c.set(afsKey, afs)
    fs.initialize(local, c)
    val fc = FileContext.getFileContext(local, c)
    def p(name: String) = new Path(s"$dir/$name")
    fs.create(p("a/created")).close()
    fs.mkdirs(p("mkdirs"))
    fs.mkdirs(p("mkdirs_755"), new FsPermission("755"))
    fc.create(p("fc_created"), EnumSet.of(CreateFlag.CREATE)).close()
    fc.mkdir(p("fc_mkdir"), FsPermission.getDirDefault, true)
    val set = Seq("640", "700", "777", "000", "1777").map { m =>
      fs.create(p(s"set_$m")).close()
      fs.setPermission(p(s"set_$m"), new FsPermission(m))
      s"set_$m"
    }
    val names = Seq("a", "a/created", "mkdirs", "mkdirs_755", "fc_created", "fc_mkdir") ++ set
    val got = names.map(n =>
      n -> (Files.getAttribute(Paths.get(s"$dir/$n"), "unix:mode").asInstanceOf[Int] & 0xfff))
    set.foreach(n => new File(dir, n).setWritable(true))
    got
  }

  test("files and directories get the stock permission bits under the same umask") {
    for (umask <- Seq("022", "027", "077")) withDir { dir =>
      val stock = modes(new LocalFileSystem(), stockAfs, umask, new File(dir, "stock"))
      val nio = modes(new NioLocalFileSystem(), classOf[NioLocalFs].getName, umask,
        new File(dir, "nio"))
      assert(nio === stock, s"umask $umask")
      assert(nio.toMap.apply("set_1777") === Integer.parseInt("1777", 8))
    }
  }

  private def flipByte(f: File, at: Long): Unit = {
    val raf = new RandomAccessFile(f, "rw")
    try { raf.seek(at); val b = raf.read(); raf.seek(at); raf.write(b ^ 0xff) }
    finally raf.close()
  }

  test(".crc side files are written and one flipped byte fails the read") {
    withDir { dir =>
      val bytes = Array.tabulate[Byte](4096)(_.toByte)
      val fs = FileSystem.get(local, conf)
      assert(fs.isInstanceOf[NioLocalFileSystem])
      val viaFs = new Path(s"$dir/fs.bin")
      val out = fs.create(viaFs)
      out.write(bytes)
      out.close()
      val fc = FileContext.getFileContext(local, conf)
      assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
      val viaFc = new Path(s"$dir/fc.bin")
      val fcOut = fc.create(viaFc, EnumSet.of(CreateFlag.CREATE))
      fcOut.write(bytes)
      fcOut.close()
      for (name <- Seq("fs.bin", "fc.bin")) {
        assert(new File(dir, s".$name.crc").isFile, name)
        flipByte(new File(dir, name), 2000)
      }
      def readAll(in: java.io.InputStream): Unit =
        try { in.readAllBytes(); () } finally in.close()
      intercept[ChecksumException](readAll(fs.open(viaFs)))
      // with a buffer size: `FileContext.open(path)` reaches the raw
      // filesystem through `FilterFs` and verifies nothing, stock or not
      intercept[ChecksumException](readAll(fc.open(viaFc, 4096)))
    }
  }

  test("a symlink is reported by getFileLinkStatus as on the stock filesystem") {
    withDir { dir =>
      val target = new File(dir, "target")
      Files.write(target.toPath, Array[Byte](1, 2, 3))
      Files.createSymbolicLink(new File(dir, "link").toPath, target.toPath)
      Files.createSymbolicLink(new File(dir, "dangling").toPath, new File(dir, "gone").toPath)
      val c = new Configuration()
      val nio = new NioRawLocalFileSystem()
      nio.initialize(local, c)
      val stock = new RawLocalFileSystem()
      stock.initialize(local, c)
      def shape(fs: FileSystem, name: String): Either[String, (Boolean, Path, Long)] =
        try {
          val s: FileStatus = fs.getFileLinkStatus(new Path(s"$dir/$name"))
          Right((s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.getLen))
        } catch { case e: java.io.FileNotFoundException => Left(e.getClass.getName) }
      for (name <- Seq("link", "dangling", "target", "missing"))
        assert(shape(nio, name) === shape(stock, name), name)
      assert(shape(nio, "link").exists { case (link, to, len) =>
        link && to.toUri.getPath == target.getPath && len == 3L })
      assert(shape(nio, "dangling").exists(_._1))
      val fc = FileContext.getFileContext(local, conf)
      assert(fc.getFileLinkStatus(new Path(s"$dir/link")).isSymlink)
      assert(!fc.getFileLinkStatus(new Path(s"$dir/target")).isSymlink)
    }
  }

  test("a second install is a no-op") {
    val before = FileSystem.get(local, conf)
    val keys = Seq(fsKey, afsKey).map(conf.get)
    LocalFs.install(spark)
    assert(FileSystem.get(local, conf) eq before)
    assert(before.isInstanceOf[NioLocalFileSystem])
    assert(Seq(fsKey, afsKey).map(conf.get) === keys)
    assert(keys === Seq(classOf[NioLocalFileSystem].getName, classOf[NioLocalFs].getName))
  }

  test("install never runs a pending delete-on-exit list, and keeps a caller's own impl") {
    withDir { dir =>
      val keep = new File(dir, "keep")
      Files.write(keep.toPath, Array[Byte](1))
      onStockFs {
        val stock = FileSystem.get(local, conf)
        assert(!stock.isInstanceOf[NioLocalFileSystem])
        stock.deleteOnExit(new Path(keep.toString))
        LocalFs.install(spark)
        assert(keep.exists)
        assert(FileSystem.get(local, conf) eq stock)
        stock.cancelDeleteOnExit(new Path(keep.toString))
        LocalFs.install(spark)
        assert(FileSystem.get(local, conf).isInstanceOf[NioLocalFileSystem])
        assert(keep.exists)
      }
    }
    val own = new Configuration()
    own.set(fsKey, classOf[RawLocalFileSystem].getName)
    own.set(afsKey, "org.apache.hadoop.fs.local.RawLocalFs")
    LocalFs.install(own)
    assert(own.get(fsKey) === classOf[RawLocalFileSystem].getName)
    assert(own.get(afsKey) === "org.apache.hadoop.fs.local.RawLocalFs")
  }
}
