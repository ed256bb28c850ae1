package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.queries.Fixture

class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

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
    var r: Pipeline.WarmResult = null
    val warmJobs = jobsOf { r = Pipeline.warm(i, e, Fixture.Key, Fixture.DataCols) }
    try {
      val want = Fixture.kinds(spark, TestSpark.Sf).groupBy("kind").count().collect()
        .map(r2 => r2.getString(0) -> r2.getLong(1)).toMap
      assert(r.counts == Map("changed" -> 0L, "new" -> 0L, "deleted" -> 0L, "unchanged" -> 0L) ++ want)
      assert(warmJobs == fillJobs, s"warm ran $warmJobs jobs, filling the classification alone $fillJobs")
    } finally r.release()
  }

  /** Spark jobs started by `f`, counted by job group. A sentinel job in a
    * group of its own flushes the listener bus, which delivers in order.
    */
  private def jobsOf(f: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"graft-jobs-${System.nanoTime()}"
    val sentinel = s"$group-end"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`sentinel`) => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted", interruptOnCancel = false)
      try f finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "sentinel", interruptOnCancel = false)
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus never flushed")
    } finally sc.removeSparkListener(listener)
    jobs.get
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
