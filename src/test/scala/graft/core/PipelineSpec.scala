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
    // the one action a warm run needs: the delete breaker's count over
    // its persisted classification
    val breakerJobs = jobsOf {
      val k = Diff.classifyWithSig(Diff.sigTable(i, Fixture.Key, Fixture.DataCols), e,
        Fixture.Key, Fixture.DataCols).persist()
      try k.filter(col("kind") === "deleted").count() finally k.unpersist()
    }
    var r: Pipeline.WarmResult = null
    val warmJobs = jobsOf { r = Pipeline.warm(i, e, Fixture.Key, Fixture.DataCols) }
    try {
      val want = Fixture.kinds(spark, TestSpark.Sf).groupBy("kind").count().collect()
        .map(r2 => r2.getString(0) -> r2.getLong(1)).toMap
      assert(r.counts == Map("changed" -> 0L, "new" -> 0L, "deleted" -> 0L, "unchanged" -> 0L) ++ want)
      assert(warmJobs == breakerJobs, s"warm ran $warmJobs jobs, the breaker count alone $breakerJobs")
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

  test("delete circuit breaker: maxDeletes=0 keeps phantom rows") {
    val e = Fixture.external(spark, TestSpark.Sf)
    val i = Fixture.internal(spark, TestSpark.Sf)
    val r = Pipeline.warm(i, e, Fixture.Key, Fixture.DataCols, maxDeletes = 0L)
    val phantoms = r.newSnapshot.filter(col("l_linenumber") > 100).count()
    assert(phantoms > 0, "phantom 'deleted' rows must survive when the breaker trips")
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
