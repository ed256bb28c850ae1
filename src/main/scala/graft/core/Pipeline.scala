package graft.core

import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._

/** Warm CDC topology + ordered versioned commit — the composition the
  * reference's `extract` (src/download.py:22-87) and `post_download`
  * (download.py:532-604) perform.
  *
  * The reference picks one of two asyncio DAGs: cold 3-stage
  * `fetch → {update, hash}` for an empty target (download.py:29-42), warm
  * 5-stage `load → filter ⋈ fetch → {update, hash}` for incremental
  * (download.py:44-63). Here the warm plan covers both: against an empty
  * replica every key classifies "new", so the first commit IS the cold
  * load ([[Runner.extractAll]]).
  *
  * Commit ordering (SURVEY §7.4.4, reference download.py:557-604): the
  * changelog must capture old rows BEFORE the snapshot swap (its join reads
  * `{t}` not `{t}_new`, download.py:585-595). Hence: write changelog →
  * write snapshot → write signature state → move the VERSION pointer
  * ([[Commit.publish]]).
  */
object Pipeline {
  /** Runaway-delete circuit breaker: the reference refuses to delete when
    * ≥100k ids vanished ("did tig's db update?", download.py:326-330).
    */
  val DefaultMaxDeletes = 100000L

  /** What [[warm]] returns. `kinds` is the one persisted frame, filled
    * when warm returns; `newSnapshot`, `changelog` and `newState` are lazy
    * plans over it that the commit's three writes run.
    */
  final case class WarmResult(
    kinds: DataFrame,        // (key*, kind, sig): sig set on changed/new rows only
    newSnapshot: DataFrame,  // post-apply table state
    changelog: DataFrame,    // old versions of changed rows
    newState: DataFrame,     // (key*, sig) cache for the next run
    counts: Map[String, Long] // rows per kind: changed/new/deleted/unchanged
  ) {
    /** Release the classification warm() pinned; call after committing.
      * Repeated warm runs (continuous apply) leak cache entries without
      * this.
      */
    def release(): Unit = kinds.unpersist()
  }

  /** How a committed snapshot's files are laid out (reference:
    * README.md:14 stores replicas MyISAM "optimized for reads" — this is
    * the columnar form of that intent). `Plain` writes partitions as
    * produced; `Zordered` clusters along the z-curve so parquet min/max
    * statistics prune filters on ANY curve column ([[Layout]]), one file
    * per default-parallelism slot (one column: key-range-sorted files).
    * The layout pass costs one extra shuffle of the snapshot at commit
    * time — paid once per commit, repaid by every subsequent selective
    * scan.
    */
  sealed trait SnapshotLayout
  object SnapshotLayout {
    case object Plain extends SnapshotLayout
    final case class Zordered(cols: Seq[String]) extends SnapshotLayout
  }

  private def writeSnapshot(df: DataFrame, dir: String, layout: SnapshotLayout): Unit =
    layout match {
      case SnapshotLayout.Plain =>
        df.write.mode(SaveMode.Overwrite).parquet(dir)
      case SnapshotLayout.Zordered(cols) =>
        Layout.writeZordered(df, dir, cols, df.sparkSession.sparkContext.defaultParallelism)
    }

  /** Warm incremental run (reference download.py:44-63 + post_download
    * 532-604). `internal` is the current snapshot, `external` the live
    * source; both share `key` + `dataCols`.
    *
    * `deriveFetched` re-applies the snapshot's derived columns (scores,
    * reference download.py:437-441 injects score exprs into the keyed
    * fetch) to incoming rows, so a snapshot that carries score columns
    * round-trips through warm runs: pass
    * `Scores.withOverall(Scores.withScores(_))` to match. It must keep
    * the key columns and must not filter or add rows: the snapshot drops
    * every touched key and takes back only what it returns, so a row it
    * filters out is lost while the state keeps the key's signature. This
    * is not checked.
    *
    * Stage shape. `kinds`, the classify join, is persisted: it feeds the
    * counts, the changelog, the fetch and both next tables. Warm runs one
    * job: a `noop` write of `kinds` that fills its cache and observes the
    * per-kind counts ([[WarmResult.counts]]) on the way, so the counts
    * cost no aggregate stage. Everything else is lazy and runs in the
    * commit's writes. Each next table is its old rows minus ONE delta-key
    * set `upd` (the changed, new and deleted keys; only the touched ones
    * when the delete breaker trips) plus the touched keys' new rows, so
    * each write builds one broadcast of `upd`, the snapshot one more of
    * the touched keys for the fetch, and no build side scans the source.
    * `newSnapshot` is not persisted: the commit's write is its only
    * consumer.
    *
    * Live source. The commit's fetch re-reads `external` for the touched
    * keys the classify found. A touched key that leaves the source in
    * between is dropped from the snapshot, while the state keeps the
    * signature the classify saw. The next run classifies the key deleted
    * and the two agree again; if the key comes back with the values the
    * classify saw, the snapshot lacks it until it next changes.
    *
    * `state`: the committed (key, sig) signature cache from the previous
    * run; absent (legacy/cold), it is the snapshot's own signatures
    * (`Diff.sigTable(internal, …)`). The diff runs against it (the
    * reference's hash side-table protocol, download.py:89-111) — a
    * committed state means the snapshot's data columns are never
    * re-hashed. The next state is maintained incrementally: the state
    * minus `upd`, plus the classify's own signatures of the RAW source
    * rows of touched keys (the reference's `{t}_hashes` update,
    * download.py:577-583), so derived columns (normalized names) never
    * churn the diff and the source is neither re-fetched nor re-hashed
    * for it. This takes source keys to be unique (the reference's primary
    * keys). Without a committed state the diff compares the snapshot's own
    * columns, which is only valid when `deriveFetched` leaves `dataCols`
    * untouched.
    */
  def warm(internal: DataFrame, external: DataFrame,
           key: Seq[String], dataCols: Seq[String],
           maxDeletes: Long = DefaultMaxDeletes,
           deriveFetched: DataFrame => DataFrame = identity,
           state: Option[DataFrame] = None): WarmResult = {
    val st = state.getOrElse(Diff.sigTable(internal, key, dataCols))
    val kinds = Diff.classifyWithSig(st, external, key, dataCols)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kindNames = Seq("changed", "new", "deleted", "unchanged")
    val perKind = kindNames.map(k => count(when(col(Diff.KindCol) === k, 1)).as(k))
    val observed = Observation()
    kinds.observe(observed, perKind.head, perKind.tail: _*)
      .write.format("noop").mode(SaveMode.Overwrite).save()
    val counts = observed.get.map { case (k, n) => k -> n.asInstanceOf[Long] }

    // Deleted-rows circuit breaker (download.py:326-330): if the source
    // lost too many keys, treat it as a source fault and skip deletes.
    val touched = kinds.filter(col(Diff.KindCol).isin("changed", "new"))
    val upd =
      if (counts("deleted") >= maxDeletes) touched
      else kinds.filter(col(Diff.KindCol) =!= "unchanged")
    val changelog = Changelog.captureOld(internal,
      kinds.filter(col(Diff.KindCol) === "changed"), key)
    val newSnapshot = Diff.antiJoinDeleted(internal, upd, key)
      .unionByName(deriveFetched(Diff.semiJoinChanged(external, touched, key)))
    // the RAW-source sigs the classify computed for touched keys (the
    // reference updates `{t}_hashes` from downloaded rows,
    // download.py:577-583 — never from the post-derive replica)
    val newState = Diff.antiJoinDeleted(st, upd, key)
      .unionByName(touched.select(key.map(col) :+ col(Diff.SigCol): _*))
    WarmResult(kinds, newSnapshot, changelog, newState, counts)
  }

  /** Crash-consistent commit: changelog/snapshot/state land in fresh
    * `v=N` directories and the VERSION pointer moves LAST
    * ([[Commit.publish]]) — the faithful generalization of the reference's
    * double-buffered `_hashes_0/_hashes_1` + staging swap
    * (download.py:572-604): readers follow the pointer and never observe a
    * half-written version. Returns the committed version.
    */
  def commitVersioned(r: WarmResult, baseDir: String,
                      layout: SnapshotLayout = SnapshotLayout.Plain): Long =
    commitVersionedAt(r, baseDir, currentVersion(baseDir).getOrElse(0L) + 1, layout)

  /** Idempotent commit of a SPECIFIC version (e.g. streaming batchId+1):
    * if `version` is already committed, this is a no-op — a replayed
    * micro-batch cannot create a phantom extra version. Returns the
    * version in effect.
    */
  def commitVersionedAt(r: WarmResult, baseDir: String, version: Long,
                        layout: SnapshotLayout = SnapshotLayout.Plain): Long =
    Commit.publish(baseDir, version) { _ =>
      // changelog also lands under v=N: a crash before the pointer move
      // leaves the orphan invisible to readChangelog (which filters v <=
      // pointer), and a retry overwrites rather than duplicating history
      r.changelog.write.mode(SaveMode.Overwrite).parquet(s"$baseDir/changelog/v=$version")
      writeSnapshot(r.newSnapshot, s"$baseDir/snapshot/v=$version", layout)
      r.newState.write.mode(SaveMode.Overwrite).parquet(s"$baseDir/state/v=$version")
    }

  def currentVersion(baseDir: String): Option[Long] = Commit.currentVersion(baseDir)

  /** Read the committed snapshot/state ("snapshot" | "state") at the
    * version the pointer names.
    */
  def readLatest(spark: org.apache.spark.sql.SparkSession, baseDir: String,
                 what: String): DataFrame = {
    val v = currentVersion(baseDir).getOrElse(
      throw new IllegalStateException(s"no committed version under $baseDir"))
    readVersion(spark, baseDir, what, v)
  }

  /** Time travel: read any still-retained committed version — every
    * `commitVersioned` leaves its `v=N` directory in place, giving
    * snapshot-level history on top of the row-level changelog. The schema
    * comes from a part file's footer on the driver, so the read starts no
    * Spark job ([[Tables.readCommitted]]).
    */
  def readVersion(spark: org.apache.spark.sql.SparkSession, baseDir: String,
                  what: String, version: Long): DataFrame =
    Tables.readCommitted(spark, s"$baseDir/$what/v=$version")

  /** Retention: drop snapshot/state/changelog versions older than the
    * newest `keepVersions` (never the current one). Time travel keeps
    * working within the retained window; changelog history beyond it is
    * gone — size the window to the audit requirement.
    */
  def vacuum(baseDir: String, keepVersions: Int): Unit = {
    require(keepVersions >= 1)
    val current = currentVersion(baseDir).getOrElse(return)
    val cutoff = current - keepVersions + 1
    for (what <- Seq("snapshot", "state", "changelog")) {
      val root = java.nio.file.Paths.get(s"$baseDir/$what")
      if (java.nio.file.Files.isDirectory(root)) {
        val listing = java.nio.file.Files.list(root)
        try {
          val it = listing.iterator()
          while (it.hasNext) {
            val p = it.next()
            val name = p.getFileName.toString
            if (name.startsWith("v=") && name.drop(2).toLongOption.exists(_ < cutoff))
              deleteRecursively(p)
          }
        } finally listing.close()
      }
    }
  }

  /** Committed changelog history: the `v=N` layout is read as a `v`
    * partition column; rows of versions past the pointer (orphans of a
    * crashed commit) are filtered out. `v` doubles as the version column
    * for [[Changelog.latest]].
    *
    * Compacted directories ([[compactChangelog]]) carry each row's TRUE
    * version in a `v_row` data column; it takes precedence over the
    * directory version, so version attribution survives compaction.
    */
  def readChangelog(spark: org.apache.spark.sql.SparkSession, baseDir: String): DataFrame = {
    val current = currentVersion(baseDir).getOrElse(0L)
    val raw = spark.read.option("mergeSchema", "true")
      .parquet(s"$baseDir/changelog").filter(col("v") <= current)
    if (raw.columns.contains("v_row"))
      raw.withColumn("v", coalesce(col("v_row"), col("v").cast("long"))).drop("v_row")
    else raw
  }

  /** Changelog compaction: rewrite every changelog version ≤ the pointer
    * into ONE latest-per-key partition at `v=current`, keeping each
    * surviving row's true version in `v_row`.
    *
    * Multi-run history grows one `v=N` directory per commit and
    * [[Changelog.latest]] over years of appends is a full scan of all of
    * them; after compaction it reads one directory whose row count is
    * bounded by the key cardinality, and [[readChangelog]] /
    * [[Changelog.latest]] results for the latest-per-key consumer are
    * IDENTICAL (superseded intermediate versions are dropped — that loss
    * of audit granularity is the point of compaction; vacuum already
    * bounds it in time). Run it after [[vacuum]], from the same
    * maintenance cadence. Reference analog: the `{t}_changelog` table
    * grows per-run with no compaction at all (download.py:585-595).
    *
    * Crash safety: the rewrite is staged, then swapped in for every
    * superseded version dir with `v=current` as the target
    * ([[Commit.swap]]); a crashed swap is finished or undone by
    * [[Commit.recover]] at the start of the next invocation. No state ever
    * shows DUPLICATED history, and recovery never deletes un-restored
    * history. Readers mid-swap may see a temporarily incomplete history
    * (this is an offline maintenance op, like [[vacuum]]) but never a
    * doubled row.
    */
  def compactChangelog(spark: org.apache.spark.sql.SparkSession, baseDir: String,
                       key: Seq[String]): Unit = {
    val current = currentVersion(baseDir).getOrElse(return)
    val clogRoot = s"$baseDir/changelog"
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(clogRoot))) return
    Commit.recover(clogRoot)
    val versions = listVersionDirs(java.nio.file.Paths.get(clogRoot)).filter(_._1 <= current)
    if (versions.size <= 1) return
    val compacted = Changelog.latest(
      readChangelog(spark, baseDir).withColumn("v_row", col("v").cast("long")),
      key, "v_row").drop("v")
    compacted.write.mode(SaveMode.Overwrite).parquet(Commit.staging(clogRoot))
    Commit.swap(clogRoot, versions.map(_._2.getFileName.toString), s"v=$current")
  }

  private def listVersionDirs(root: java.nio.file.Path): Seq[(Long, java.nio.file.Path)] = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.isDirectory(root)) return Seq.empty
    val listing = java.nio.file.Files.list(root)
    try listing.iterator.asScala.flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith("v=")) n.drop(2).toLongOption.map(_ -> p) else None
    }.toVector
    finally listing.close()
  }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (!java.nio.file.Files.exists(p)) return
    val walk = java.nio.file.Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => java.nio.file.Files.delete(f))
    finally walk.close()
  }

  /** Run per-table pipelines concurrently with fail-fast cancellation —
    * the reference runs its three table extracts in one event loop and
    * cancels the rest on first failure (start.py:55-59, download.py:38-42
    * `asyncio.wait(FIRST_EXCEPTION)`). Spark analog: one job group per
    * table on the fair scheduler; first failure cancels the group.
    */
  def runParallel(spark: org.apache.spark.sql.SparkSession,
                  jobs: Seq[(String, () => Unit)]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val groupId = s"graft-parallel-${System.nanoTime()}"
    val futures = jobs.map { case (name, job) =>
      Future {
        spark.sparkContext.setJobGroup(s"$groupId-$name", s"pipeline $name",
          interruptOnCancel = true)
        try job() finally spark.sparkContext.clearJobGroup()
      }
    }
    try Await.result(Future.sequence(futures), Duration.Inf)
    catch {
      case e: Throwable =>
        jobs.foreach { case (name, _) =>
          spark.sparkContext.cancelJobGroup(s"$groupId-$name") }
        throw e
    }
  }
}
