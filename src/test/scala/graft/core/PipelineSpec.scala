package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.queries.Fixture

class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.{jobsOf, withBroadcastThreshold}

  test("warm pipeline: snapshot converges to external, changelog holds old rows") {
    val e = Fixture.external(spark, TestSpark.Sf)
    val i = Fixture.internal(spark, TestSpark.Sf)
    val r = Pipeline.warm(i, e, Fixture.Key, Fixture.DataCols)
    assert(r.newSnapshot.exceptAll(e).isEmpty && e.exceptAll(r.newSnapshot).isEmpty)
    // changelog rows are exactly the internal (pre-update) versions of changed keys
    val changedKeys = r.kinds.filter(col("kind") === "changed").select(Fixture.Key.map(col): _*)
    val expected = i.join(changedKeys, Fixture.Key, "left_semi")
    assert(r.changelog.exceptAll(expected).isEmpty && expected.exceptAll(r.changelog).isEmpty)
  }

  test("signature state from the classify equals the source's signatures") {
    val e = Fixture.external(spark, TestSpark.Sf)
    val i = Fixture.internal(spark, TestSpark.Sf)
    val st = Diff.sigTable(i, Fixture.Key, Fixture.DataCols)
    val want = Diff.sigTable(e, Fixture.Key, Fixture.DataCols)
    def same(a: DataFrame, b: DataFrame) = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    // a committed state, and none: warm then takes the snapshot's own
    // signatures, which are `st`
    for ((state, at) <- Seq(Some(st) -> "committed state", None -> "no state")) {
      val r = Pipeline.warm(i, e, Fixture.Key, Fixture.DataCols, state = state)
      try {
        assert(Seq("changed", "new", "deleted").forall(r.counts(_) > 0), s"fixture sanity: ${r.counts}")
        assert(same(r.newState, want), at)
      } finally r.release()
      // the breaker skips deletes in the state as in the snapshot: the
      // deleted keys keep their old state rows
      val kept = Pipeline.warm(i, e, Fixture.Key, Fixture.DataCols, maxDeletes = 0L, state = state)
      try {
        val deleted = kept.kinds.filter(col("kind") === "deleted").select(Fixture.Key.map(col): _*)
        assert(same(kept.newState, want.unionByName(st.join(deleted, Fixture.Key, "left_semi"))),
          at)
      } finally kept.release()
    }
  }

  test("warm's per-kind counts equal the classification and cost no extra job") {
    val e = Fixture.external(spark, TestSpark.Sf)
    val i = Fixture.internal(spark, TestSpark.Sf)
    e.count() // builds the memoized fixture, so neither job count below includes it
    // the one action a warm run needs: filling the cache of its persisted
    // classification, which the delete breaker's count reads
    val fillJobs = jobsOf {
      val k = Diff.classifyWithSig(Diff.sigTable(i, Fixture.Key, Fixture.DataCols), e,
        Fixture.Key, Fixture.DataCols).persist()
      try k.write.format("noop").mode("overwrite").save() finally k.unpersist()
    }
    val want = Fixture.kinds(spark, TestSpark.Sf).groupBy("kind").count().collect()
      .map(r2 => r2.getString(0) -> r2.getLong(1)).toMap
    // the delta fits the broadcast threshold: one more job collects its
    // keys to the driver; with broadcasts off, the fill job is the only one
    for ((threshold, extra) <- Seq((10L << 20) -> 1, -1L -> 0)) {
      var r: Pipeline.WarmResult = null
      val warmJobs = withBroadcastThreshold(threshold) {
        jobsOf { r = Pipeline.warm(i, e, Fixture.Key, Fixture.DataCols) }
      }
      try {
        assert(r.counts == Map("changed" -> 0L, "new" -> 0L, "deleted" -> 0L, "unchanged" -> 0L) ++ want)
        assert(warmJobs == fillJobs + extra,
          s"threshold $threshold: warm ran $warmJobs jobs, filling the classification alone $fillJobs")
        assert(r.keySets.nonEmpty == (extra == 1), s"threshold $threshold")
      } finally r.release()
    }
  }

  test("the delete breaker skips deletes on the driver-side key sets exactly as on the join path") {
    val e = Fixture.external(spark, TestSpark.Sf)
    val i = Fixture.internal(spark, TestSpark.Sf)
    val st = Diff.sigTable(i, Fixture.Key, Fixture.DataCols)
    def same(a: DataFrame, b: DataFrame) = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    def run(threshold: Long) = withBroadcastThreshold(threshold) {
      Pipeline.warm(i, e, Fixture.Key, Fixture.DataCols, maxDeletes = 0L, state = Some(st))
    }
    val (driver, joined) = (run(10L << 20), run(-1L))
    try {
      assert(driver.keySets.nonEmpty && joined.keySets.isEmpty)
      assert(driver.counts == joined.counts && driver.counts("deleted") > 0, driver.counts)
      // the deleted keys keep their snapshot rows and their state rows
      val deleted = driver.kinds.filter(col("kind") === "deleted").select(Fixture.Key.map(col): _*)
      for (r <- Seq(driver, joined)) {
        assert(same(r.newSnapshot.join(deleted, Fixture.Key, "left_semi"),
          i.join(deleted, Fixture.Key, "left_semi")))
        assert(same(r.newState.join(deleted, Fixture.Key, "left_semi"),
          st.join(deleted, Fixture.Key, "left_semi")))
      }
      assert(same(driver.newSnapshot, joined.newSnapshot))
      assert(same(driver.newState, joined.newState))
      assert(same(driver.changelog, joined.changelog))
    } finally { driver.release(); joined.release() }
  }

  test("a one-column key commits on the split points warm observed: sorted, key-disjoint files, no sample job") {
    import spark.implicits._
    def table(rows: Seq[(Option[Long], String)]) = rows.toDF("k", "v")
    val many = (1L to 400L).map(k => Some(k) -> s"v$k")
    val cases = Seq(
      // changed, deleted and new keys across the whole range
      "many keys" -> (many, many.filter(_._1.get % 7 != 0).map { case (k, v) =>
        k -> (if (k.get % 5 == 0) v + "'" else v) } ++ (401L to 420L).map(k => Some(k) -> s"v$k")),
      "fewer keys than files" -> (Seq(Some(1L) -> "a", Some(2L) -> "b"),
        Seq(Some(1L) -> "a2", Some(2L) -> "b")),
      "an empty delta" -> (many, many),
      "a null key" -> (Seq(None -> "n", Some(1L) -> "a", Some(2L) -> "b"),
        Seq(None -> "n2", Some(1L) -> "a", Some(3L) -> "c")))
    for ((name, (prev, next)) <- cases) {
      val dir = java.nio.file.Files.createTempDirectory("graft_splits").toString
      val r = Pipeline.warm(table(prev), table(next), Seq("k"), Seq("v"))
      try {
        assert(r.bounds.get("k").exists(_.nonEmpty), s"$name: no split points observed")
        val jobs = jobsOf(Pipeline.commitVersioned(r, dir, Pipeline.SnapshotLayout.Zordered(Seq("k"))))
        // changelog, snapshot shuffle map, snapshot write, state: a range
        // sample would be a fifth job
        assert(jobs == 4, s"$name: the commit ran $jobs jobs")
      } finally r.release()
      val snap = Pipeline.readLatest(spark, dir, "snapshot")
      assert(snap.exceptAll(table(next)).isEmpty && table(next).exceptAll(snap).isEmpty, name)
      // each file holds one sorted key range, nulls first: the files, in
      // the order of their first keys, concatenate to the sorted keys
      val files = new java.io.File(s"$dir/snapshot/v=1").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
      val perFile = files.map(f => spark.read.parquet(f).select("k").collect()
        .map(row => Option(row.get(0)).map(_.asInstanceOf[Long])).toSeq).filter(_.nonEmpty)
      val keys = perFile.sortBy(_.head).flatten
      assert(keys == next.map(_._1).sorted, s"$name: file key ranges ${perFile.map(f => (f.head, f.last))}")
      assert(perFile.size <= math.min(next.size, spark.sparkContext.defaultParallelism), name)
    }
  }

  test("repeated warm runs leave no key-set broadcast and no cached block behind after release") {
    import spark.implicits._
    import org.apache.spark.sql.graft.BlockProbe
    val dir = java.nio.file.Files.createTempDirectory("graft_release").toString
    val cached = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    // warm against the committed state, commit, release: the loop
    // StreamingCdc.continuousApplyBucketed runs once per micro-batch
    for (c <- 1 to 3) {
      val next = (1 to 50).map(k => (k.toLong, k * c)).toDF("k", "v")
      val (internal, state) = Pipeline.currentVersion(dir) match {
        case Some(_) => (Pipeline.readLatest(spark, dir, "snapshot"),
          Some(Pipeline.readLatest(spark, dir, "state")))
        case None => (next.limit(0), None)
      }
      val r = Pipeline.warm(internal, next, Seq("k"), Seq("v"), state = state)
      val ids = r.keySets.map(_.keys.id)
      assert(ids.nonEmpty, s"cycle $c: the delta should go to the driver")
      try Pipeline.commitVersioned(r, dir) finally r.release()
      r.release() // idempotent
      for (id <- ids) assert(BlockProbe.broadcastBlocks(id).isEmpty, s"cycle $c: broadcast $id")
      assert(spark.sparkContext.getRDDStorageInfo.map(_.id).toSet == cached, s"cycle $c")
    }
    assert(Pipeline.readLatest(spark, dir, "snapshot").as[(Long, Int)].collect().toSet ==
      (1 to 50).map(k => (k.toLong, k * 3)).toSet)
  }

  /** `read` equals `spark.read.parquet(dir)` in schema and rows. */
  private def assertSameRead(read: DataFrame, dir: String): Unit = {
    val plain = spark.read.parquet(dir)
    assert(read.schema == plain.schema)
    assert(read.exceptAll(plain).isEmpty && plain.exceptAll(read).isEmpty)
  }

  test("reading a committed version starts no job and equals spark.read.parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft_read").toString
    val e = Fixture.external(spark, TestSpark.Sf)
    val i = Fixture.internal(spark, TestSpark.Sf)
    val r = Pipeline.warm(i, e, Fixture.Key, Fixture.DataCols)
    try Pipeline.commitVersioned(r, dir, Pipeline.SnapshotLayout.Zordered(Fixture.Key))
    finally r.release()
    for (what <- Seq("snapshot", "state")) {
      var latest: DataFrame = null
      var v1: DataFrame = null
      assert(jobsOf { latest = Pipeline.readLatest(spark, dir, what) } == 0, what)
      assert(jobsOf { v1 = Pipeline.readVersion(spark, dir, what, 1L) } == 0, what)
      assertSameRead(latest, s"$dir/$what/v=1")
      assertSameRead(v1, s"$dir/$what/v=1")
    }
  }

  test("reading an empty committed version: every key deleted, and a cold load of an empty source") {
    val dir = java.nio.file.Files.createTempDirectory("graft_read_empty").toString
    val e = Fixture.external(spark, TestSpark.Sf)
    val gone = Pipeline.warm(e, e.limit(0), Fixture.Key, Fixture.DataCols)
    try {
      assert(gone.counts("deleted") == e.count())
      Pipeline.commitVersioned(gone, s"$dir/gone")
    } finally gone.release()
    Runner.extractAll(spark, Seq(Runner.Source("empty", () => e.limit(0),
      Fixture.Key, Fixture.DataCols)), dir)
    for (table <- Seq("gone", "empty"); what <- Seq("snapshot", "state")) {
      val read = Pipeline.readLatest(spark, s"$dir/$table", what)
      assert(read.isEmpty, s"$table $what")
      assertSameRead(read, s"$dir/$table/$what/v=1")
    }
  }

  test("a version without Spark's footer schema or a top-level part file reads as spark.read.parquet") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_read_fallback").toString
    // written outside Spark: the footer has no Spark row metadata
    val foreign = Paths.get(TestSpark.Sf, "orders.parquet")
    Files.createDirectories(Paths.get(s"$dir/snapshot/v=1"))
    Files.copy(foreign, Paths.get(s"$dir/snapshot/v=1/part-00000.parquet"))
    // no part file at the top level: the rows sit in a partition directory
    Files.createDirectories(Paths.get(s"$dir/snapshot/v=2/p=7"))
    Files.copy(foreign, Paths.get(s"$dir/snapshot/v=2/p=7/part-00000.parquet"))
    for (v <- Seq(1L, 2L)) {
      var read: DataFrame = null
      // the fallback is spark.read.parquet, whose schema inference is a job
      assert(jobsOf { read = Pipeline.readVersion(spark, dir, "snapshot", v) } > 0, s"v=$v")
      assert(read.count() == Tables.load(spark, TestSpark.Sf, "orders").count())
      assertSameRead(read, s"$dir/snapshot/v=$v")
    }
  }

  test("delete circuit breaker: maxDeletes=0 keeps phantom rows") {
    val e = Fixture.external(spark, TestSpark.Sf)
    val i = Fixture.internal(spark, TestSpark.Sf)
    val r = Pipeline.warm(i, e, Fixture.Key, Fixture.DataCols, maxDeletes = 0L)
    val phantoms = r.newSnapshot.filter(col("l_linenumber") > 100).count()
    assert(phantoms > 0, "phantom 'deleted' rows must survive when the breaker trips")
  }

  test("a touched key that leaves the source before the commit's fetch leaves the snapshot; the next run settles it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_vanish").toString
    val internal = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    // a live source: key 2 changes, key 3 is deleted, key 4 is new; key 2
    // is dropped from it once `PipelineSpec.vanished` is set
    val present = udf((k: Long) => !(PipelineSpec.vanished && k == 2L)).asNondeterministic()
    val source = Seq((1L, "a"), (2L, "b2"), (4L, "d")).toDF("k", "v").filter(present(col("k")))
    def same(a: DataFrame, b: DataFrame) = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    PipelineSpec.vanished = false
    try {
      val r = Pipeline.warm(internal, source, Seq("k"), Seq("v"))
      try {
        assert(r.counts == Map("changed" -> 1L, "new" -> 1L, "deleted" -> 1L, "unchanged" -> 1L))
        // between the classify and the commit's re-read of the source
        PipelineSpec.vanished = true
        Pipeline.commitVersioned(r, dir)
      } finally r.release()
      // the snapshot removes every key the classify touched and adds what
      // the fetch returns, so key 2 is gone; the state keeps its new sig
      assert(same(Pipeline.readLatest(spark, dir, "snapshot"), Seq((1L, "a"), (4L, "d")).toDF("k", "v")))
      assert(Pipeline.readLatest(spark, dir, "state").select("k").as[Long].collect().sorted
        .sameElements(Seq(1L, 2L, 4L)))
      // the next run classifies key 2 as deleted: snapshot and state agree again
      val r2 = Pipeline.warm(Pipeline.readLatest(spark, dir, "snapshot"), source, Seq("k"), Seq("v"),
        state = Some(Pipeline.readLatest(spark, dir, "state")))
      try {
        assert(r2.counts("deleted") == 1L && r2.counts("unchanged") == 2L, r2.counts)
        Pipeline.commitVersioned(r2, dir)
      } finally r2.release()
      assert(same(Pipeline.readLatest(spark, dir, "snapshot"), source))
      assert(same(Pipeline.readLatest(spark, dir, "state"), Diff.sigTable(source, Seq("k"), Seq("v"))))
    } finally PipelineSpec.vanished = false
  }

  test("versioned commit: pointer advances, readers see the committed version") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vcommit").toString
    val e = Fixture.external(spark, TestSpark.Sf)
    val i = Fixture.internal(spark, TestSpark.Sf)
    val r = Pipeline.warm(i, e, Fixture.Key, Fixture.DataCols)
    assert(Pipeline.currentVersion(dir).isEmpty)
    assert(Pipeline.commitVersioned(r, dir) == 1L)
    assert(Pipeline.commitVersioned(r, dir) == 2L)
    assert(Pipeline.currentVersion(dir).contains(2L))
    assert(Pipeline.readLatest(spark, dir, "snapshot").count() == e.count())
    assert(Pipeline.readLatest(spark, dir, "state").count() == e.count())
    assert(Pipeline.readLatest(spark, dir, "state").columns.toSet ==
      (Fixture.Key :+ Diff.SigCol).toSet)
    // changelog history readable with the v partition as version column;
    // orphan versions past the pointer are invisible
    val clog = Pipeline.readChangelog(spark, dir)
    assert(clog.count() == 2 * r.changelog.count())
    r.changelog.limit(5).write.mode("overwrite").parquet(s"$dir/changelog/v=9")
    assert(Pipeline.readChangelog(spark, dir).count() == 2 * r.changelog.count())
    // a second warm run from the committed state finds nothing to do
    val r2 = Pipeline.warm(Pipeline.readLatest(spark, dir, "snapshot"), e,
      Fixture.Key, Fixture.DataCols, state = Some(Pipeline.readLatest(spark, dir, "state")))
    assert(r2.kinds.filter(col("kind") =!= "unchanged").count() == 0)
    // deriveFetched re-applies the score columns to fetched rows, so a
    // scored replica round-trips through warm runs
    val scored = (df: org.apache.spark.sql.DataFrame) => Scores.withOverall(Scores.withScores(df))
    val r3 = Pipeline.warm(scored(e).limit(0), e, Fixture.Key, Fixture.DataCols,
      deriveFetched = scored)
    assert(r3.newSnapshot.columns.contains("score_overall"))
    assert(r3.newSnapshot.count() == e.count())
  }

  test("commitVersionedAt is idempotent: a replayed version is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idem").toString
    val e = Fixture.external(spark, TestSpark.Sf)
    val i = Fixture.internal(spark, TestSpark.Sf)
    val r = Pipeline.warm(i, e, Fixture.Key, Fixture.DataCols)
    assert(Pipeline.commitVersionedAt(r, dir, 1L) == 1L)
    assert(Pipeline.commitVersionedAt(r, dir, 1L) == 1L) // replay: no-op
    assert(Pipeline.currentVersion(dir).contains(1L))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/snapshot/v=2")))
    r.release()
  }

  test("vacuum keeps the newest versions and time travel within the window") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vacuum").toString
    val e = Fixture.external(spark, TestSpark.Sf)
    val i = Fixture.internal(spark, TestSpark.Sf)
    val r = Pipeline.warm(i, e, Fixture.Key, Fixture.DataCols)
    (1 to 3).foreach(_ => Pipeline.commitVersioned(r, dir))
    Pipeline.vacuum(dir, keepVersions = 2)
    assert(Pipeline.readVersion(spark, dir, "snapshot", 3).count() == e.count())
    assert(Pipeline.readVersion(spark, dir, "snapshot", 2).count() == e.count())
    intercept[Exception] { Pipeline.readVersion(spark, dir, "snapshot", 1).count() }
    // changelog reads only retained versions
    assert(Pipeline.readChangelog(spark, dir).select("v").distinct().count() == 2)
  }

  test("reading a compacted changelog with fresh versions starts no job and equals the mergeSchema read") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_read_clog").toString
    def commitRun(prev: DataFrame, next: DataFrame): Unit = {
      val r = Pipeline.warm(prev, next, Seq("id"), Seq("elo"))
      try Pipeline.commitVersioned(r, dir) finally r.release()
    }
    val runs = Seq(10, 11, 12, 13, 14, 15)
      .map(e => Seq((1L, e), (2L, 20 + e % 2), (3L, 30)).toDF("id", "elo"))
    commitRun(runs.head.limit(0), runs.head)
    runs.sliding(2).take(2).foreach { case Seq(a, b) => commitRun(a, b) }
    // one compacted directory with `v_row`, then fresh versions without it
    Pipeline.compactChangelog(spark, dir, Seq("id"))
    runs.drop(2).sliding(2).foreach { case Seq(a, b) => commitRun(a, b) }
    val current = Pipeline.currentVersion(dir).get
    var read: DataFrame = null
    assert(jobsOf { read = Pipeline.readChangelog(spark, dir) } == 0)
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/changelog")
      .filter(col("v") <= current)
    assert(merged.columns.contains("v_row"), "fixture sanity: a compacted directory")
    val want = merged.withColumn("v", coalesce(col("v_row"), col("v").cast("long")))
      .drop("v_row")
    assert(read.schema == want.schema)
    assert(read.exceptAll(want).isEmpty && want.exceptAll(read).isEmpty)
    assert(read.select("v").distinct().count() > 1)
  }

  test("runParallel: all jobs run; first failure propagates") {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    Pipeline.runParallel(spark, Seq(
      "a" -> (() => { spark.range(10).count(); counter.incrementAndGet(); () }),
      "b" -> (() => { spark.range(10).count(); counter.incrementAndGet(); () })))
    assert(counter.get() == 2)
    val ex = intercept[Exception] {
      Pipeline.runParallel(spark, Seq(
        "ok" -> (() => ()),
        "boom" -> (() => throw new RuntimeException("table failed"))))
    }
    assert(ex.getMessage.contains("table failed"))
  }
}

object PipelineSpec {
  /** Read by the live source of the vanishing-key test, in the local executors. */
  @volatile var vanished = false
}
