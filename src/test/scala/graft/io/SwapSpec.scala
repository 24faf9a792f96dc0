package graft.io

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.queries.MicroBatchLoop.rmTree
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** [[Swap]]: a swap whose rename fails leaves the live relation intact
  * or restored and throws, and [[Swap.heal]] settles every state a crash
  * can leave.
  */
class SwapSpec extends AnyFunSuite {

  private def local: FileSystem = FileSystem.getLocal(new Configuration())

  /** `local`, except that its `failAt`-th rename returns false and renames nothing. */
  private class FailingRename(failAt: Int) extends FilterFileSystem(local) {
    var renames = 0
    override def rename(src: Path, dst: Path): Boolean = {
      renames += 1
      renames != failAt && super.rename(src, dst)
    }
  }

  private def withDir[A](f: Path => A): A = {
    val dir = Files.createTempDirectory("graft_swap_")
    try f(new Path(dir.toString)) finally rmTree(dir.toFile)
  }

  /** A relation at `p`: one file holding `v`. */
  private def put(p: Path, v: String): Unit = {
    Files.createDirectories(Paths.get(p.toUri.getPath))
    Files.write(Paths.get(p.toUri.getPath, "v"), v.getBytes(UTF_8)); ()
  }

  private def get(p: Path): String =
    new String(Files.readAllBytes(Paths.get(p.toUri.getPath, "v")), UTF_8)

  private def names(dir: Path): Set[String] =
    local.listStatus(dir).map(_.getPath.getName).toSet

  test("replace swaps the written relation in and drops the old one") {
    withDir { dir =>
      val live = new Path(dir, "r")
      put(live, "a")
      Swap.replace(local, live)(put(_, "b"))
      assert(get(live) == "b")
      assert(names(dir) == Set("r"))
    }
  }

  test("replace creates a relation that did not exist") {
    withDir { dir =>
      val live = new Path(dir, "r")
      Swap.replace(local, live)(put(_, "b"))
      assert(get(live) == "b")
      assert(names(dir) == Set("r"))
    }
  }

  test("replace hands the old relation to the store's drop") {
    withDir { dir =>
      val live = new Path(dir, "r")
      put(live, "a")
      var dropped = ""
      Swap.replace(local, live, (fs, old) => { dropped = get(old); fs.delete(old, true); () })(put(_, "b"))
      assert(dropped == "a" && get(live) == "b")
    }
  }

  test("a failed first rename throws and leaves the live relation intact") {
    withDir { dir =>
      val live = new Path(dir, "r")
      put(live, "a")
      val fs = new FailingRename(1)
      intercept[IOException](Swap.replace(fs, live)(put(_, "b")))
      assert(fs.renames == 1)
      assert(get(live) == "a")
      assert(!local.exists(Swap.old(live)))
    }
  }

  test("a failed second rename throws and restores the live relation") {
    withDir { dir =>
      val live = new Path(dir, "r")
      put(live, "a")
      val fs = new FailingRename(2)
      intercept[IOException](Swap.replace(fs, live)(put(_, "b")))
      assert(fs.renames == 3) // aside, the failed swap-in, back
      assert(get(live) == "a")
      assert(!local.exists(Swap.old(live)))
      Swap.heal(local, live)
      assert(names(dir) == Set("r"))
    }
  }

  test("heal leaves a clean relation as it is") {
    withDir { dir =>
      val live = new Path(dir, "r")
      put(live, "a")
      Swap.heal(local, live)
      Swap.healAll(local, dir)
      assert(get(live) == "a" && names(dir) == Set("r"))
    }
  }

  test("heal deletes a stale tmp (a cut before the first rename)") {
    withDir { dir =>
      val live = new Path(dir, "r")
      put(live, "a")
      put(Swap.tmp(live), "b")
      Swap.heal(local, live)
      assert(get(live) == "a" && names(dir) == Set("r"))
    }
  }

  test("heal renames a lone old back (a cut after the first rename)") {
    withDir { dir =>
      val live = new Path(dir, "r")
      put(Swap.old(live), "a")
      put(Swap.tmp(live), "b")
      Swap.heal(local, live)
      assert(get(live) == "a" && names(dir) == Set("r"))
    }
  }

  test("heal drops an old beside the live relation (a cut after the second rename)") {
    withDir { dir =>
      val live = new Path(dir, "r")
      put(Swap.old(live), "a")
      put(live, "b")
      Swap.heal(local, live)
      assert(get(live) == "b" && names(dir) == Set("r"))
    }
  }

  test("healAll settles every relation under a dir and nothing else") {
    withDir { dir =>
      val (r, s, t) = (new Path(dir, "r"), new Path(dir, "s=1"), new Path(dir, "t"))
      put(Swap.old(r), "a")
      put(Swap.old(s), "a")
      put(s, "b")
      put(Swap.tmp(t), "b")
      put(new Path(dir, "_meta"), "m")
      Swap.healAll(local, dir)
      assert(names(dir) == Set("r", "s=1", "_meta"))
      assert(get(r) == "a" && get(s) == "b")
      Swap.healAll(local, new Path(dir, "absent"))
    }
  }
}
