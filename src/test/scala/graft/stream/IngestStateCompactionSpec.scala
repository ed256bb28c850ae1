package graft.stream

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Crash windows of [[IngestState.compactIndex]]'s aside/staging swap —
  * the recovery branches the gates' LSM compaction relies on. Both this
  * and changelog compaction (ChangelogCompactionSpec) run the one
  * `core.Commit.swap`, whose every crash prefix CommitSpec sweeps; this
  * pins the INDEX layout at both crash points the rename ordering
  * creates: before the staging swap lands (restore) and after it lands
  * but before the aside cleanup (finish).
  */
class IngestStateCompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val P = 8
  private def pbCols = Seq(col("bucket"))

  private def seedState(root: String): Unit = {
    IngestState.writeIndex(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "bucket"),
      s"$root/batch=0", P, pbCols)
    IngestState.writeIndexFlat(
      Seq((10L, "a"), (11L, "d")).toDF("id", "bucket"), s"$root/batch=1", P, pbCols)
    IngestState.writeIndexFlat(
      Seq((20L, "b"), (21L, "e")).toDF("id", "bucket"), s"$root/batch=2", P, pbCols)
  }

  private def contents(root: String): Seq[(Long, String)] =
    IngestState.readIndexPruned(spark, root,
        Seq.empty[(Long, String)].toDF("id", "bucket"), Long.MaxValue, 0 until P)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_.toString).toSeq

  private def batchDirs(root: String): Seq[String] =
    new java.io.File(root).listFiles().map(_.getName)
      .filterNot(_.startsWith("_")).sorted.toSeq

  private def mv(a: String, b: String): Unit =
    java.nio.file.Files.move(java.nio.file.Paths.get(a), java.nio.file.Paths.get(b))

  test("compaction folds every batch into one partitioned batch=0 with identical contents") {
    val root = java.nio.file.Files.createTempDirectory("graft_isc1").toString
    seedState(root)
    val before = contents(root)
    IngestState.compactIndex(spark, root, 3L)
    assert(contents(root) == before)
    assert(batchDirs(root) == Seq("batch=0"), s"got ${batchDirs(root)}")
  }

  test("crash BEFORE the staging swap lands: recovery restores the aside and compaction completes") {
    val root = java.nio.file.Files.createTempDirectory("graft_isc2").toString
    seedState(root)
    val before = contents(root)
    // simulate the widest pre-swap crash: staging fully written, every
    // batch dir (batch=0 LAST, per the rename order) moved aside, the
    // staging -> batch=0 rename never happened
    IngestState.writeIndex(
      Seq((99L, "z")).toDF("id", "bucket"), s"$root/.compact_staging", P, pbCols)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/.compact_aside"))
    Seq("batch=1", "batch=2", "batch=0").foreach(b =>
      mv(s"$root/$b", s"$root/.compact_aside/$b"))
    IngestState.compactIndex(spark, root, 3L)
    assert(contents(root) == before,
      "recovery must restore the aside (and never surface staging rows)")
    assert(batchDirs(root) == Seq("batch=0"), s"got ${batchDirs(root)}")
  }

  test("crash AFTER the swap lands: recovery deletes the stale aside, contents untouched") {
    val root = java.nio.file.Files.createTempDirectory("graft_isc3").toString
    seedState(root)
    IngestState.compactIndex(spark, root, 3L)
    val compacted = contents(root)
    // reconstruct the post-swap crash layout: batch=0 is the compacted
    // result, the aside still holds the superseded sources (old batch=0
    // present => recovery reads the swap as landed)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/.compact_aside"))
    IngestState.writeIndex(
      Seq((1L, "a")).toDF("id", "bucket"), s"$root/.compact_aside/batch=0", P, pbCols)
    IngestState.writeIndexFlat(
      Seq((10L, "a")).toDF("id", "bucket"), s"$root/.compact_aside/batch=1", P, pbCols)
    IngestState.compactIndex(spark, root, 3L)
    assert(contents(root) == compacted, "stale aside rows must never resurface")
    assert(batchDirs(root) == Seq("batch=0"), s"got ${batchDirs(root)}")
    assert(!new java.io.File(s"$root/.compact_aside").exists(), "aside must be cleaned up")
  }
}
