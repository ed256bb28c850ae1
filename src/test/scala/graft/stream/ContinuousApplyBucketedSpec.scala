package graft.stream

import org.scalatest.funsuite.AnyFunSuite
import graft.observe.StageMetrics
import graft.TestSpark
import graft.core.{BucketedSnapshot, Pipeline}

/** Continuous apply: per-batch work must be ∝ delta, not snapshot.
  * Asserted three ways — the snapshot equals the upserted rows, task
  * input metrics are bounded by the touched buckets, and untouched bucket
  * files are carried to the new version as hard links (same inode), never
  * rewritten.
  */
class ContinuousApplyBucketedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val NBuckets = 64

  private def writeFlat(df: org.apache.spark.sql.DataFrame, dir: String, name: String): Unit = {
    import java.nio.file._
    val tmp = Files.createTempDirectory("cab_batch").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet")).findFirst().get()
    Files.move(part, Paths.get(dir, name), StandardCopyOption.REPLACE_EXISTING)
  }

  private def dirs() = (
    java.nio.file.Files.createTempDirectory("cab_in").toString,
    java.nio.file.Files.createTempDirectory("cab_ckpt").toString,
    java.nio.file.Files.createTempDirectory("cab_snap").toString)

  private def base = (1L to 1000L).map(i => (i, s"n$i", i * 1.0)).toDF("id", "name", "value")

  test("snapshot is maintained continuously across micro-batches, with history") {
    val (in, ckpt, snap) = dirs()
    writeFlat(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "value"),
      in, "b1.parquet")
    StreamingCdc.continuousApplyBucketed(spark, in, ckpt, snap, "id", Seq("name", "value"),
      NBuckets)
    assert(Pipeline.currentVersion(snap).contains(1L))
    assert(BucketedSnapshot.read(spark, snap, "snapshot", 1L).count() == 2)

    // batch 2: update row 1, add row 3
    writeFlat(Seq((1L, "a", 99.0), (3L, "c", 30.0)).toDF("id", "name", "value"),
      in, "b2.parquet")
    StreamingCdc.continuousApplyBucketed(spark, in, ckpt, snap, "id", Seq("name", "value"),
      NBuckets)
    assert(Pipeline.currentVersion(snap).contains(2L))
    val rows = BucketedSnapshot.read(spark, snap, "snapshot", 2L)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rows == Map(1L -> 99.0, 2L -> 20.0, 3L -> 30.0))
    // changelog holds the pre-update version of row 1
    val clog = Pipeline.readChangelog(spark, snap)
      .filter("v = 2").collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(clog.toSeq == Seq((1L, 10.0)))
  }

  test("bucketed apply: the snapshot is the upserted rows, delta-bounded reads, linked buckets") {
    val (in, ckpt, snap) = dirs()
    writeFlat(base, in, "b1.parquet")
    StreamingCdc.continuousApplyBucketed(spark, in, ckpt, snap, "id",
      Seq("name", "value"), NBuckets)
    assert(Pipeline.currentVersion(snap).contains(1L))
    assert(BucketedSnapshot.read(spark, snap, "snapshot", 1L).count() == 1000)

    // batch 2: update 3 rows, insert 2 — touches at most 5 of 64 buckets
    writeFlat(Seq((1L, "n1", 99.0), (2L, "n2", 98.0), (500L, "n500", 97.0),
      (1001L, "x", 1.0), (1002L, "y", 2.0)).toDF("id", "name", "value"),
      in, "b2.parquet")
    val recordsRead = StageMetrics.measure(spark)(StreamingCdc.continuousApplyBucketed(
      spark, in, ckpt, snap, "id", Seq("name", "value"), NBuckets))._2.totals.inputRecords

    assert(Pipeline.currentVersion(snap).contains(2L))
    val got = BucketedSnapshot.read(spark, snap, "snapshot", 2L)
      .select("id", "name", "value")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val upserted = (1L to 1000L).map(i => i -> i * 1.0).toMap ++
      Map(1L -> 99.0, 2L -> 98.0, 500L -> 97.0, 1001L -> 1.0, 1002L -> 2.0)
    assert(got == upserted)

    // delta-proportional: batch 2 read ≤5/64 of snapshot+state (~80 rows
    // each) + the 5-row input + changelog capture — far under one full
    // 1000-row snapshot scan, which an unbucketed apply would need (it
    // reads ≥ 2×1000 rows: snapshot for the merge + rows rewritten)
    assert(recordsRead < 600, s"batch-2 read $recordsRead rows — not delta-bounded")

    // untouched buckets are hard links to v=1 files (same inode), touched
    // buckets fresh files
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def inodes(v: Long): Map[String, Object] = {
      val root = Paths.get(s"$snap/snapshot/v=$v")
      Files.walk(root).iterator.asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString ->
          Files.getAttribute(p, "unix:ino"))
        .toMap
    }
    val v1 = inodes(1L)
    val v2 = inodes(2L)
    val shared = v2.count { case (rel, ino) => v1.get(rel).contains(ino) }
    assert(shared > 0, "no bucket files were carried forward as hard links")
    // touched buckets through the engine's own bucket function
    val touched = Seq(1L, 2L, 500L, 1001L, 1002L).toDF("id")
      .select(BucketedSnapshot.bucketOf("id", NBuckets)).collect().map(_.getInt(0)).toSet
    val rewritten = v2.filter { case (rel, ino) => !v1.get(rel).contains(ino) }
    assert(rewritten.keys.exists(rel =>
      touched.exists(b => rel.startsWith(s"${BucketedSnapshot.BucketCol}=$b/"))))

    // commit layout: ONE file per bucket dir. Without the repartition on
    // the bucket column, the dynamic-partition write fans out
    // tasks × buckets files (measured 1024 for a 32×32 commit — the r6
    // cdc_bucketed_apply drift); this pins the fix at the layout level,
    // where a probe ratio cannot (both probe dirs share the same orders)
    val filesPerDir = v1.keys.groupBy(_.split('/').head).values.map(_.size)
    assert(filesPerDir.forall(_ == 1),
      s"expected one parquet file per bucket dir, got ${filesPerDir.max} in some dir")
  }

  test("maxFilesPerTrigger=1 drains pending files as separate versioned commits in one run") {
    val (in, ckpt, snap) = dirs()
    writeFlat(base, in, "b1.parquet")
    writeFlat(Seq((1L, "n1", 99.0), (1001L, "x", 1.0)).toDF("id", "name", "value"),
      in, "b2.parquet")
    // strictly ordered mtimes: the file source picks oldest first
    val b1 = java.nio.file.Paths.get(in, "b1.parquet")
    java.nio.file.Files.setLastModifiedTime(b1,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(b1).toMillis - 60000))
    StreamingCdc.continuousApplyBucketed(spark, in, ckpt, snap, "id",
      Seq("name", "value"), NBuckets, maxFilesPerTrigger = Some(1))
    // one startup, two micro-batches ⇒ versions 1 AND 2, applied in order
    assert(Pipeline.currentVersion(snap).contains(2L))
    assert(BucketedSnapshot.read(spark, snap, "snapshot", 1L).count() == 1000)
    val got = BucketedSnapshot.read(spark, snap, "snapshot", 2L)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.size == 1001 && got(1L) == 99.0 && got(1001L) == 1.0)
  }

  test("bucketed apply: replayed version is a no-op (idempotent commit)") {
    val (in, _, snap) = dirs()
    writeFlat(base.limit(10), in, "b1.parquet")
    val df = spark.read.parquet(in)
      .withColumn(BucketedSnapshot.BucketCol, BucketedSnapshot.bucketOf("id", NBuckets))
    val sig = graft.core.Diff.sigTable(df.drop(BucketedSnapshot.BucketCol), Seq("id"), Seq("name", "value"))
      .withColumn(BucketedSnapshot.BucketCol, BucketedSnapshot.bucketOf("id", NBuckets))
    val clog = df.limit(0)
    BucketedSnapshot.commit(snap, 1L, df, sig, clog, touched = (0 until NBuckets))
    val before = BucketedSnapshot.read(spark, snap, "snapshot", 1L).count()
    // replay of version 1 with different (empty) content must not clobber
    val out = BucketedSnapshot.commit(snap, 1L, df.limit(0), sig.limit(0), clog, Seq(0))
    assert(out == 1L)
    assert(BucketedSnapshot.read(spark, snap, "snapshot", 1L).count() == before)
  }
}
