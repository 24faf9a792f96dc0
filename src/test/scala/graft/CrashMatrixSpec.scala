package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.ops.{AnnIndex, Dedup, IvfIndex, LanguageModel, NaiveBayes, Retrieval}
import graft.queries.MicroBatchLoop.rmTree
import graft.warehouse.ParquetWarehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll

/** Every swap of a stored relation, cut by a crash after its first and
  * after its second rename, then followed by the store's next read and
  * by its next append or maintenance call: each serves exactly what the
  * uninterrupted run serves, and no `.<name>_old`/`.<name>_tmp` is left.
  *
  * A cut is staged as the on-disk state the crash leaves (the swap
  * protocol is [[graft.io.Swap]]'s): the relation before the swap moved
  * to `.<name>_old`, and its replacement — copied from a run of the same
  * maintenance that was not cut — at `.<name>_tmp` (first rename) or at
  * the live path (second rename). A job that swaps many relations in
  * from one shared tmp dir is cut in the middle of its run: the
  * relations before the cut one already swapped in, the cut one's
  * replacement under the shared tmp (first rename), and the ones after
  * it still waiting there.
  */
class CrashMatrixSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  /** Each site's uncut stores, shared by its two rows. */
  private val fixtures = scala.collection.mutable.ListBuffer.empty[File]

  override def afterAll(): Unit = fixtures.foreach(rmTree)

  /** One swap site. Each store lives at `<container>/store`:
    *  - `build` writes the state the maintenance starts from;
    *  - `maintain` is the call whose swap is cut;
    *  - `rels` names the swapped relations relative to the container,
    *    in swap order, given the store before and after an uncut
    *    `maintain`;
    *  - `read` is the store's read, as sorted rows;
    *  - `next` is its next append (or, for the warehouse, the replay of
    *    the cut merge);
    *  - `sharedTmp` names the dir, beside the relations, that a job
    *    swapping many of them writes all replacements under.
    */
  private case class Site(name: String, build: String => Unit,
      maintain: String => Unit, rels: (File, File) => Seq[String],
      read: String => Seq[String], next: String => Unit,
      sharedTmp: Option[String] = None)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def store(container: File): String = new File(container, "store").getPath

  private def copyTree(from: File, to: File): Unit = {
    val src = from.toPath
    Files.walk(src).iterator().asScala.foreach { p =>
      val dst = to.toPath.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  private def copy(container: File): File = {
    val c = Files.createTempDirectory("graft_crash_").toFile
    copyTree(container, c)
    c
  }

  /** The child dirs of a store whose file names differ after `maintain`, sorted. */
  private def changedDirs(before: File, after: File): Seq[String] = {
    def files(d: File) = Option(d.list).fold(Set.empty[String])(_.toSet)
    before.listFiles.filter(d => d.isDirectory && !d.getName.startsWith("_"))
      .map(_.getName).sorted.toSeq
      .filter(n => files(new File(before, n)) != files(new File(after, n)))
      .map(n => s"store/$n")
  }

  private def asides(dir: File): Seq[String] =
    Files.walk(dir.toPath).iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches("""\..+_(tmp|old)""")).toSeq

  /** Stage the cut of the swap of the middle relation of `rels`. */
  private def stage(c: File, post: File, rels: Seq[String], sharedTmp: Option[String],
      afterRename: Int): Unit = {
    val k = rels.size / 2
    val live = new File(c, rels(k))
    def aside(kind: String) = new File(live.getParentFile, s".${live.getName}_$kind")
    def pending(rel: String) = sharedTmp.fold(aside("tmp"))(t =>
      new File(new File(live.getParentFile, t), new File(rel).getName))
    sharedTmp.foreach(t => new File(live.getParentFile, t).mkdirs())
    rels.take(k).foreach { rel =>
      rmTree(new File(c, rel))
      copyTree(new File(post, rel), new File(c, rel))
    }
    Files.move(live.toPath, aside("old").toPath)
    copyTree(new File(post, rels(k)), if (afterRename == 1) pending(rels(k)) else live)
    rels.drop(k + 1).foreach(rel => copyTree(new File(post, rel), pending(rel)))
  }

  private def matrix(site: Site): Unit = {
    lazy val base = {
      val c = Files.createTempDirectory("graft_crash_").toFile
      fixtures += c
      site.build(store(c))
      c
    }
    lazy val post = {
      val c = copy(base)
      fixtures += c
      site.maintain(store(c))
      c
    }
    lazy val rels = site.rels(new File(store(base)), new File(store(post)))
    lazy val before = site.read(store(base))
    lazy val after = site.read(store(post))
    lazy val afterNext = {
      val c = copy(post)
      try { site.next(store(c)); site.read(store(c)) } finally rmTree(c)
    }
    for (cut <- Seq(1, 2))
      test(s"${site.name}: a swap cut after rename $cut heals on the next read and the next call") {
        // a shared-tmp job is cut with relations on both sides of the cut one
        assert(if (site.sharedTmp.isEmpty) rels.size == 1 else rels.size >= 3, rels)
        val (r, n) = (copy(base), copy(base))
        try {
          Seq(r, n).foreach(stage(_, post, rels, site.sharedTmp, cut))
          assert(site.read(store(r)) == (if (cut == 1) before else after))
          assert(asides(r).isEmpty)
          site.next(store(n))
          assert(site.read(store(n)) == afterNext)
          assert(asides(n).isEmpty)
        } finally Seq(r, n).foreach(rmTree)
      }
  }

  // ---- warehouse

  private def kv(xs: (String, Int)*): DataFrame = xs.toDF("k", "v")

  matrix(Site("ParquetWarehouse.overwrite",
    build = p => new ParquetWarehouse(spark, p).mergeInto("t", kv("a" -> 1, "b" -> 1), Seq("k")),
    maintain = p => new ParquetWarehouse(spark, p).mergeInto("t", kv("b" -> 2, "c" -> 2), Seq("k")),
    rels = (_, _) => Seq("store/t"),
    read = p => rows(new ParquetWarehouse(spark, p).read("t")),
    next = p => new ParquetWarehouse(spark, p).mergeInto("t", kv("b" -> 2, "c" -> 2), Seq("k"))))

  // ---- count stores

  private val texts = Seq(
    (1L, "a b a b c", "x"), (2L, "a a d b", "x"), (3L, "c c a b", "y"),
    (4L, "b d d a", "y"), (5L, "e f e f", "x"), (6L, "a e b f", "y")
  ).toDF("doc_id", "text", "lang")
  private def batch(ids: Long*) = texts.filter(col("doc_id").isin(ids: _*))

  matrix(Site("CountLsm.compactSwap (NaiveBayes)",
    build = p => {
      NaiveBayes.writeCountBatch(batch(1, 2), "doc_id", "text", "lang", p, "b0")
      NaiveBayes.writeCountBatch(batch(3, 4), "doc_id", "text", "lang", p, "b1")
    },
    maintain = NaiveBayes.compactCountModel(spark, _),
    rels = (_, _) => Seq("store/counts"),
    read = p => {
      val m = NaiveBayes.readCountModel(spark, p)
      rows(m.priors) ++ rows(m.lik)
    },
    next = NaiveBayes.writeCountBatch(batch(5, 6), "doc_id", "text", "lang", _, "b2")))

  matrix(Site("CountLsm.compactSwap (LanguageModel)",
    build = p => {
      LanguageModel.writeCountBatch(batch(1, 2), "doc_id", "text", p, "b0")
      LanguageModel.writeCountBatch(batch(3, 4), "doc_id", "text", p, "b1")
    },
    maintain = LanguageModel.compactCountModel(spark, _),
    rels = (_, _) => Seq("store/counts"),
    read = p => rows(LanguageModel.scoreFromCounts(spark, p, texts, "doc_id", "text")),
    next = LanguageModel.writeCountBatch(batch(5, 6), "doc_id", "text", _, "b2")))

  // ---- text stores

  matrix(Site("Retrieval.compactBm25Index",
    build = p => {
      Retrieval.writeBm25Index(batch(1, 2), "doc_id", "text", p, termBuckets = 2)
      Retrieval.appendToBm25Index(batch(3, 4), "doc_id", "text", p)
    },
    maintain = Retrieval.compactBm25Index(spark, _),
    rels = (_, _) => Seq("store/lens"),
    read = p => rows(Retrieval.bm25BatchFromIndex(spark, p, "doc_id",
      Seq(1L -> Seq("a", "b"), 2L -> Seq("c", "e", "f")))),
    next = Retrieval.appendToBm25Index(batch(5, 6), "doc_id", "text", _)))

  private def shingles(ids: Long*) = Dedup.shingleTable(batch(ids: _*), "doc_id", "text")

  private def readShingles(p: String): Seq[String] = {
    val ix = Dedup.readStoredIndex(spark, "doc_id", p)
    rows(ix.postings) ++ rows(ix.docSizes) ++ rows(ix.dfs.filter(col("df") =!= 0))
  }

  private def appendShingles(p: String): Unit =
    Dedup.appendToStoredIndex(shingles(5, 6), batch(5, 6).select("doc_id"), "doc_id", p)

  matrix(Site("Dedup.compactStoredDfs",
    build = p => {
      Dedup.writeStoredIndex(Dedup.buildShingleIndex(batch(1, 2), "doc_id", "text"), "doc_id", p)
      Dedup.appendToStoredIndex(shingles(3, 4), batch(3, 4).select("doc_id"), "doc_id", p)
    },
    maintain = Dedup.compactStoredDfs(spark, _),
    rels = (_, _) => Seq("store/dfs"),
    read = readShingles,
    next = appendShingles))

  matrix(Site("Dedup.purgeStoredIndex",
    build = p => {
      Dedup.writeStoredIndex(Dedup.buildShingleIndex(batch(1, 2, 3, 4), "doc_id", "text"), "doc_id", p)
      Dedup.deleteFromStoredIndex(Seq(2L).toDF("doc_id"), "doc_id", p)
    },
    maintain = Dedup.purgeStoredIndex(spark, "doc_id", _),
    rels = (_, _) => Seq("store/postings"),
    read = readShingles,
    next = appendShingles))

  private def sigs(ids: Range) =
    ids.map(i => (i.toLong, (0x5a5a5a5a5aL >> (i % 3)) ^ (1L << (i % 40)))).toDF("id", "sig")

  matrix(Site("Dedup.purgeSignatureStore",
    build = p => {
      Dedup.writeSignatureStore(sigs(1 to 12), "id", "sig", p, sigBuckets = 2)
      Dedup.deleteFromSignatureStore(Seq(3L, 4L).toDF("id"), "id", p)
    },
    maintain = Dedup.purgeSignatureStore(spark, _),
    rels = (_, _) => Seq("store/sigs"),
    read = p => rows(Dedup.hammingPairsFromSignatureStore(spark, p)),
    next = Dedup.appendToSignatureStore(sigs(13 to 16), "id", "sig", _)))

  // ---- vector indexes

  private def vecs(ids: Range) = ids.map { i =>
    (i.toLong, Seq(math.sin(i), math.cos(0.7 * i), (i % 5) - 2.0, 1.0 + i % 3))
  }.toDF("id", "v")

  private def allPairs(p: String) =
    rows(AnnIndex.cosinePairsFromIndex(spark, p, "id", threshold = -2.0))

  matrix(Site("IvfIndex.rebuild",
    build = p => {
      IvfIndex.write(vecs(1 to 12), "id", "v", p, numCentroids = 3)
      IvfIndex.append(spark, vecs(13 to 24), "id", "v", p)
    },
    maintain = IvfIndex.rebuild(spark, _, "id", numCentroids = 3),
    rels = (_, _) => Seq("store"),
    read = p => rows(IvfIndex.probe(spark, p, "id", Array(1.0, 0.5, -1.0, 2.0),
      k = 100, nprobe = 3)),
    next = IvfIndex.append(spark, vecs(25 to 30), "id", "v", _)))

  matrix(Site("AnnIndex.purgeIndex",
    build = p => {
      AnnIndex.write(vecs(1 to 24), "id", "v", p, numPlanes = 3)
      AnnIndex.deleteFromIndex((1L to 24L by 2).toDF("id"), "id", p)
    },
    maintain = AnnIndex.purgeIndex(spark, _, "id"),
    rels = changedDirs,
    read = allPairs,
    next = AnnIndex.append(vecs(25 to 30), "id", "v", _, numPlanes = 3),
    sharedTmp = Some(".purge_tmp")))

  matrix(Site("AnnIndex.compactBuckets",
    build = p => {
      AnnIndex.write(vecs(1 to 12), "id", "v", p, numPlanes = 3)
      AnnIndex.append(vecs(13 to 24), "id", "v", p, numPlanes = 3)
    },
    maintain = AnnIndex.compactBuckets(spark, _, maxFilesPerBucket = 1),
    rels = changedDirs,
    read = allPairs,
    next = AnnIndex.append(vecs(25 to 30), "id", "v", _, numPlanes = 3),
    sharedTmp = Some(".compact_tmp")))
}
