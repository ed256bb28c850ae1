package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.queries.Fixture

class LayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** `dir`'s files, read back, hold `rows` rows in sorted, key-disjoint
    * `l_orderkey` ranges, and a key-range filter prunes the scan.
    */
  private def assertKeyRangeFiles(dir: String, rows: Long): Unit = {
    val back = spark.read.parquet(dir)
    assert(back.count() == rows)
    // per-file key ranges must be (nearly) disjoint: collect (file, min, max)
    val ranges = back.groupBy(input_file_name().as("f"))
      .agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length >= 2)
    ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(lo2 >= hi1, s"file ranges overlap: ${ranges.toSeq}") // range partitioner boundary
    }
    // a key-range filter must prune files at the scan
    val pruned = spark.read.parquet(dir).filter(col("l_orderkey") < ranges.head._2)
    assert(pruned.count() > 0)
    val touched = pruned.select(input_file_name()).distinct().count()
    assert(touched < ranges.length, s"key-range filter should prune files ($touched/${ranges.length})")
  }

  test("range-sorted layout: disjoint key ranges per file enable min/max pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_layout").toString
    val e = Fixture.external(spark, TestSpark.Sf)
    Layout.writeSorted(e, dir, Seq("l_orderkey"), numFiles = 4)
    assertKeyRangeFiles(dir, e.count())
  }

  test("range-sorted layout on given split points: disjoint key ranges, no sample job") {
    val base = java.nio.file.Files.createTempDirectory("graft_layout_splits").toString
    val e = Fixture.external(spark, TestSpark.Sf)
    e.count() // builds the memoized fixture outside the job counts
    val splits = e.agg(percentile_approx(col("l_orderkey"), lit(Array(0.25, 0.5, 0.75)), lit(10000)))
      .head().getSeq[Long](0)
    val sampled = TestSpark.jobsOf(Layout.writeSorted(e, s"$base/sampled", Seq("l_orderkey"), numFiles = 4))
    val given = TestSpark.jobsOf(
      Layout.writeSorted(e, s"$base/given", Seq("l_orderkey"), numFiles = 4, splits = splits))
    assertKeyRangeFiles(s"$base/given", e.count())
    assert(given == sampled - 1, s"split points: $given jobs, a sampled write $sampled")
  }

  test("one-column z-order is the range-sorted layout: disjoint key ranges, min/max pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_layout_z1").toString
    val e = Fixture.external(spark, TestSpark.Sf)
    Layout.writeZordered(e, dir, Seq("l_orderkey"), numFiles = 4)
    assertKeyRangeFiles(dir, e.count())
  }

  test("z-order layout: filters on EITHER curve column touch few files; linear layout touches all") {
    val base = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val li = spark.read.parquet(s"${TestSpark.Sf}/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
    val nFiles = 16
    Layout.writeSorted(li, s"$base/linear", Seq("l_orderkey"), nFiles)
    Layout.writeZordered(li, s"$base/zorder", Seq("l_partkey", "l_suppkey"), nFiles)

    val linear = spark.read.parquet(s"$base/linear")
    val zorder = spark.read.parquet(s"$base/zorder")
    assert(zorder.count() == li.count()) // layout changes nothing about content
    def filesTouched(df: org.apache.spark.sql.DataFrame, pred: org.apache.spark.sql.Column) =
      df.filter(pred).select(input_file_name()).distinct().count()

    // narrow range on the FIRST z column: 1/8th of the key space
    val pkPred = col("l_partkey") < 25
    val zPk = filesTouched(zorder, pkPred)
    val linPk = filesTouched(linear, pkPred)
    assert(linPk == nFiles, s"orderkey-sorted layout should scatter partkey everywhere ($linPk)")
    assert(zPk <= nFiles / 2, s"z-order should confine partkey<25 to few files ($zPk)")

    // narrow value on the SECOND z column — the one a lexicographic sort
    // on (partkey, suppkey) could NOT serve
    val spPred = col("l_suppkey") === 3
    val zSp = filesTouched(zorder, spPred)
    val linSp = filesTouched(linear, spPred)
    assert(linSp == nFiles)
    assert(zSp <= nFiles / 2, s"z-order should confine suppkey=3 to few files ($zSp)")
  }

  test("committed snapshot honors the layout policy: key-sorted files, min/max pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_commit_layout").toString
    val e = Fixture.external(spark, TestSpark.Sf)
    val i = Fixture.internal(spark, TestSpark.Sf)
    val r = Pipeline.warm(i, e, Fixture.Key, Fixture.DataCols)
    val v = Pipeline.commitVersioned(r, dir, Pipeline.SnapshotLayout.Zordered(Seq("l_orderkey")))
    val snap = Pipeline.readLatest(spark, dir, "snapshot")
    assert(snap.count() == r.newSnapshot.count())
    // files carry disjoint key ranges → a key-range scan prunes files
    val ranges = snap.groupBy(input_file_name().as("f"))
      .agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
      .collect().map(r2 => (r2.getLong(1), r2.getLong(2))).sortBy(_._1)
    assert(ranges.length >= 2)
    ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(lo2 >= hi1, s"committed files' key ranges overlap: ${ranges.toSeq}")
    }
    val cut = ranges.head._2
    val touched = snap.filter(col("l_orderkey") <= cut)
      .select(input_file_name()).distinct().count()
    assert(touched < ranges.length,
      s"key-range filter should prune committed files ($touched/${ranges.length})")
    // versioned-commit semantics are unchanged by the layout pass
    assert(Pipeline.currentVersion(dir).contains(v))
    r.release()
  }

  test("crash safety: a half-written next version is invisible until the pointer moves") {
    val dir = java.nio.file.Files.createTempDirectory("graft_crash").toString
    val e = Fixture.external(spark, TestSpark.Sf)
    val i = Fixture.internal(spark, TestSpark.Sf)
    val r = Pipeline.warm(i, e, Fixture.Key, Fixture.DataCols)
    Pipeline.commitVersioned(r, dir)
    val v1Rows = Pipeline.readLatest(spark, dir, "snapshot").count()
    // simulate a crash mid-commit: v=2 data lands but VERSION is never moved
    r.newSnapshot.limit(10).write.parquet(s"$dir/snapshot/v=2")
    assert(Pipeline.currentVersion(dir).contains(1L))
    assert(Pipeline.readLatest(spark, dir, "snapshot").count() == v1Rows)
  }
}
