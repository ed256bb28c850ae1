package graft.core

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import scala.jdk.CollectionConverters._

/** Crash-prefix sweep of [[Commit.swap]]: for every k, the first k renames
  * of a swap are applied, then [[Commit.recover]] runs; the root must come
  * back as the pre-swap tree (swap not landed) or the post-swap tree
  * (landed), byte for byte, with no aside or staging left behind.
  */
class CommitSpec extends AnyFunSuite {
  import CommitSpec._

  private val filesGen: Gen[Map[String, String]] =
    Gen.nonEmptyMap(Gen.zip(Gen.oneOf("part-0.parquet", "part-1.parquet", "_SUCCESS"),
      Gen.alphaNumStr.map(_.take(12))))

  private val caseGen: Gen[Case] = for {
    prefix <- Gen.oneOf("v=", "batch=")
    nums <- Gen.nonEmptyContainerOf[Set, Int](Gen.choose(0, 9))
    dirs <- Gen.sequence[Seq[(String, Map[String, String])], (String, Map[String, String])](
      nums.toSeq.sorted.map(n => filesGen.map(s"$prefix$n" -> _)))
    superseded <- Gen.atLeastOne(dirs.map(_._1))
    target <- Gen.oneOf(superseded.toSeq)
    staged <- filesGen
  } yield Case(dirs.toMap, superseded.toSeq, target, staged)

  private def materialize(root: Path, dirs: Tree): Unit =
    for ((d, files) <- dirs; (f, content) <- files) {
      Files.createDirectories(root.resolve(d))
      Files.writeString(root.resolve(d).resolve(f), content)
    }

  /** Every regular file under `root`, by relative path, with its bytes. */
  private def snapshot(root: Path): Map[String, Seq[Byte]] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  private def flatten(dirs: Tree): Map[String, Seq[Byte]] =
    for ((d, files) <- dirs; (f, c) <- files) yield s"$d/$f" -> c.getBytes("UTF-8").toSeq

  private def entries(root: Path): Set[String] = {
    val l = Files.list(root)
    try l.iterator.asScala.map(_.getFileName.toString).toSet finally l.close()
  }

  test("swap: recovery after any prefix of its renames yields the pre- or post-swap tree") {
    val prop = Prop.forAll(caseGen) { c =>
      val pre = flatten(c.dirs)
      val post = flatten(c.dirs -- c.superseded + (c.target -> c.staged))
      val n = Commit.swapRenames("/x", c.superseded, c.target).size
      // (aside created?, renames applied): a crash may land before the
      // aside exists, or after it and any number of renames
      val cuts = (false, 0) +: (0 to n).map(true -> _)
      cuts.forall { case (withAside, k) =>
        val root = Files.createTempDirectory("graft_commit_sweep")
        materialize(root, c.dirs)
        materialize(root, Map(".compact_staging" -> c.staged))
        val renames = Commit.swapRenames(root.toString, c.superseded, c.target)
        if (withAside) Files.createDirectories(renames.head._2.getParent)
        renames.take(k).foreach { case (from, to) => Files.move(from, to) }
        Commit.recover(root.toString)
        val got = snapshot(root)
        val expected = if (k == n) post else pre
        assert(got == expected, s"after $k of $n renames (aside: $withAside)")
        assert(entries(root) == expected.keySet.map(_.takeWhile(_ != '/')),
          s"stray aside or staging after $k of $n renames")
        Commit.recover(root.toString)
        assert(snapshot(root) == got, "a second recover must be a no-op")
        Pipeline.deleteRecursively(root)
        true
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }

  test("swap runs to completion: the staged tree lands as the target") {
    val root = Files.createTempDirectory("graft_commit_swap")
    materialize(root, Map("v=1" -> Map("a" -> "1"), "v=2" -> Map("b" -> "2"),
      "v=3" -> Map("c" -> "3"), ".compact_staging" -> Map("z" -> "9")))
    Commit.swap(root.toString, Seq("v=1", "v=2"), "v=2")
    assert(snapshot(root) == flatten(Map("v=2" -> Map("z" -> "9"), "v=3" -> Map("c" -> "3"))))
    assert(intercept[IllegalArgumentException](
      Commit.swap(root.toString, Seq("v=3"), "v=2")).getMessage.contains("v=2"))
  }

  test("publish: a replayed version is a no-op and never rewrites data") {
    val dir = Files.createTempDirectory("graft_commit_publish").toString
    assert(Commit.currentVersion(dir).isEmpty)
    assert(Commit.publish(dir, 1L)(current => assert(current == 0L)) == 1L)
    assert(Commit.publish(dir, 2L)(current => assert(current == 1L)) == 2L)
    for (replay <- Seq(1L, 2L))
      assert(Commit.publish(dir, replay)(_ => fail("replayed version rewrote data")) == 2L)
    assert(Commit.currentVersion(dir).contains(2L))
    // a failed data write leaves the pointer where it was
    intercept[RuntimeException](Commit.publish(dir, 3L)(_ => throw new RuntimeException("boom")))
    assert(Commit.currentVersion(dir).contains(2L))
    assert(entries(Paths.get(dir)) == Set("VERSION"))
  }

  test("replaceFile: a failed write removes its temp file and keeps the old target") {
    val dir = Files.createTempDirectory("graft_commit_replace")
    val p = dir.resolve("VERSION")
    Commit.replaceFile(p, "1")
    Commit.replaceFile(p, "2")
    assert(Files.readString(p) == "2")
    assert(entries(dir) == Set("VERSION"))
    // a non-empty directory cannot be replaced by a file: the move fails
    val blocked = dir.resolve("blocked")
    Files.createDirectories(blocked.resolve("inner"))
    intercept[java.io.IOException](Commit.replaceFile(blocked, "3"))
    assert(entries(dir) == Set("VERSION", "blocked"), "temp file left behind")
  }

  test("local-path guard: a non-file URI scheme is rejected, naming the path") {
    val ex = intercept[IllegalArgumentException](Commit.recover("hdfs://nn:8020/state/index"))
    assert(ex.getMessage.contains("hdfs://nn:8020/state/index"))
    assert(Commit.local("file:/tmp/graft/x") == Paths.get("/tmp/graft/x"))
    assert(Commit.local("/tmp/graft/x") == Paths.get("/tmp/graft/x"))
  }
}

object CommitSpec {
  /** directory name -> (file name -> content), for sibling directories */
  private type Tree = Map[String, Map[String, String]]

  private final case class Case(dirs: Tree, superseded: Seq[String], target: String,
                                staged: Map[String, String])
}
