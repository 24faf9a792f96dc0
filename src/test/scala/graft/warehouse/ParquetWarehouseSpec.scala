package graft.warehouse

import graft.SparkSpec

import java.io.File
import java.nio.file.Files

/** [[ParquetWarehouse]]'s swap: a crash at either point between its two
  * renames leaves a table the next access heals.
  */
class ParquetWarehouseSpec extends SparkSpec {

  private def wh(): ParquetWarehouse =
    new ParquetWarehouse(spark, Files.createTempDirectory("graft_pwh").toString)

  private def rows(kv: (String, Int)*) = {
    import spark.implicits._
    kv.toDF("k", "v")
  }
  private val b1 = rows("a" -> 1, "b" -> 1)
  private val b2 = rows("b" -> 2, "c" -> 2)

  private def assertSame(x: ParquetWarehouse, y: ParquetWarehouse): Unit = {
    val (l, r) = (x.read("t"), y.read("t"))
    assert(l.exceptAll(r).isEmpty && r.exceptAll(l).isEmpty)
  }

  test("a swap cut after its first rename heals: the replayed merge equals an uninterrupted one") {
    val (cut, ref) = (wh(), wh())
    Seq(cut, ref).foreach(_.mergeInto("t", b1, Seq("k")))
    // b2's merge wrote `.t_tmp` and moved `t` aside, then crashed
    b2.write.parquet(cut.path(".t_tmp"))
    Files.move(new File(cut.path("t")).toPath, new File(cut.path(".t_old")).toPath)
    Seq(cut, ref).foreach(_.mergeInto("t", b2, Seq("k")))
    assertSame(cut, ref)
    assert(ref.read("t").count() == 3)
    assert(!new File(cut.path(".t_old")).exists())
  }

  test("a swap cut after its second rename drops the stale copy") {
    val (cut, ref) = (wh(), wh())
    Seq(cut, ref).foreach(_.mergeInto("t", b1, Seq("k")))
    b1.write.parquet(cut.path(".t_old"))
    Seq(cut, ref).foreach(_.mergeInto("t", b2, Seq("k")))
    assertSame(cut, ref)
    assert(!new File(cut.path(".t_old")).exists())
  }
}
