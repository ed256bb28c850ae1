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
    * plans over it that the commit's three writes run. `bounds` maps a
    * one-column key to the range split points warm observed for the next
    * snapshot's layout (empty when none were observed); `keySets` are the
    * broadcast delta key sets the three plans filter on (empty when they
    * join instead).
    */
  final case class WarmResult(
    kinds: DataFrame,        // (key*, kind, sig): sig set on changed/new rows only
    newSnapshot: DataFrame,  // post-apply table state
    changelog: DataFrame,    // old versions of changed rows
    newState: DataFrame,     // (key*, sig) cache for the next run
    counts: Map[String, Long], // rows per kind: changed/new/deleted/unchanged
    bounds: Map[String, Seq[Any]] = Map.empty,
    keySets: Seq[Diff.KeySet] = Nil
  ) {
    /** Release the classification warm() pinned and destroy its key-set
      * broadcasts; call after committing (the three plans cannot run
      * after it). Repeated warm runs (continuous apply) leak cache entries
      * and broadcast blocks without this. Idempotent.
      */
    def release(): Unit = {
      kinds.unpersist(blocking = true)
      keySets.foreach(_.release())
    }
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

  /** `bounds`: observed range split points per column ([[WarmResult]]);
    * a one-column z-order over such a column is the range-sorted write on
    * them, with no sample job.
    */
  private def writeSnapshot(df: DataFrame, dir: String, layout: SnapshotLayout,
                            bounds: Map[String, Seq[Any]]): Unit = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    layout match {
      case SnapshotLayout.Plain =>
        df.write.mode(SaveMode.Overwrite).parquet(dir)
      case SnapshotLayout.Zordered(Seq(c)) if bounds.contains(c) =>
        Layout.writeSorted(df, dir, Seq(c), n, splits = bounds(c))
      case SnapshotLayout.Zordered(cols) =>
        Layout.writeZordered(df, dir, cols, n)
    }
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
    * counts, the changelog, the fetch and both next tables. Warm's first
    * job is a `noop` write of `kinds` that fills its cache and observes,
    * on the way, the per-kind counts ([[WarmResult.counts]]) and, for a
    * one-column key `percentile_approx` takes, the range split points of
    * the keys the next snapshot keeps ([[WarmResult.bounds]]): the counts
    * cost no aggregate stage, and a one-column z-ordered commit writes on
    * these bounds with no sample job ([[Layout.writeSorted]]). Each next
    * table is its old rows minus ONE delta-key set `upd` (the changed, new
    * and deleted keys; only the touched ones when the delete breaker
    * trips) plus the touched keys' new rows. When the delta keys go to
    * the driver ([[Diff.collectKeysIfSmall]] on the observed counts),
    * warm's second and last job collects them from the cache, and each
    * key set (changed, touched, `upd`; equal sets share one) becomes one
    * broadcast variable, which starts no job ([[WarmResult.keySets]]).
    * The changelog, the fetch and both removals of `upd` are then
    * [[Diff.Keys]] filters, so each commit write runs only its own map
    * and write stages; otherwise they are its `<=>` joins against the
    * cached delta, and no build side scans the source.
    * Everything but the two jobs is lazy and runs in the commit's writes;
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
    val spark = kinds.sparkSession
    val kindNames = Seq("changed", "new", "deleted", "unchanged")
    val perKind = kindNames.map(k => count(when(col(Diff.KindCol) === k, 1)).as(k))
    // range split points of the keys the next snapshot keeps, one split
    // per default-parallelism file, for a one-column key percentile_approx
    // takes; observed on the same job
    val n = spark.sparkContext.defaultParallelism
    val rangeKey = key match {
      case Seq(k) if n > 1 && Layout.rangeSplittable(kinds.schema(k).dataType) => Some(k)
      case _ => None
    }
    val splits = rangeKey.map(k => percentile_approx(
      when(col(Diff.KindCol) =!= "deleted", col(k)),
      lit((1 until n).map(_.toDouble / n).toArray), lit(10000)).as("__splits"))
    val observed = Observation()
    kinds.observe(observed, perKind.head, perKind.tail ++ splits: _*)
      .write.format("noop").mode(SaveMode.Overwrite).save()
    val seen = observed.get
    val counts = kindNames.map(k => k -> seen(k).asInstanceOf[Long]).toMap
    val bounds = rangeKey.flatMap(k => Option(seen("__splits")).map(s => k -> s.asInstanceOf[Seq[Any]]))
      .toMap

    // Deleted-rows circuit breaker (download.py:326-330): if the source
    // lost too many keys, treat it as a source fault and skip deletes.
    val touchedKinds = Seq("changed", "new")
    val updKinds =
      if (counts("deleted") >= maxDeletes) touchedKinds else touchedKinds :+ "deleted"
    def deltaOf(ks: Seq[String]) = kinds.filter(col(Diff.KindCol).isin(ks: _*))
    // the delta keys go to the driver once when they fit (Diff.collectIfSmall);
    // each key set is then a broadcast variable the writes filter on, and
    // none of them joins
    val delta = Seq("changed", "new", "deleted")
    val keySets: Map[Seq[String], Diff.KeySet] = Diff.collectKeysIfSmall(
      deltaOf(delta).select(key.map(col) :+ col(Diff.KindCol): _*), key,
      Some(delta.map(counts).sum)).fold(Map.empty[Seq[String], Diff.KeySet]) { rows =>
        // a kind no row has adds no key, so sets over the same present
        // kinds are one broadcast (a cold load's touched and `upd`, an
        // upsert-only batch's)
        val kindSets = Seq(Seq("changed"), touchedKinds, updKinds)
        def present(ks: Seq[String]) = ks.filter(counts(_) > 0)
        val built = kindSets.map(present).distinct.map { ks =>
          ks -> Diff.keySet(spark, key.map(kinds.schema(_).dataType),
            rows.iterator.filter(r => ks.contains(r.getString(key.size))))
        }.toMap
        kindSets.map(ks => ks -> built(present(ks))).toMap
      }
    def keysOf(ks: Seq[String]) = Diff.Keys(deltaOf(ks), key, keySets.get(ks))

    // the changelog is Changelog.captureOld's semi-join on the changed keys
    val changelog = keysOf(Seq("changed")).semi(internal, key)
    val newSnapshot = keysOf(updKinds).anti(internal, key)
      .unionByName(deriveFetched(keysOf(touchedKinds).semi(external, key)))
    // the RAW-source sigs the classify computed for touched keys (the
    // reference updates `{t}_hashes` from downloaded rows,
    // download.py:577-583 — never from the post-derive replica)
    val newState = keysOf(updKinds).anti(st, key)
      .unionByName(deltaOf(touchedKinds).select(key.map(col) :+ col(Diff.SigCol): _*))
    WarmResult(kinds, newSnapshot, changelog, newState, counts, bounds, keySets.values.toSeq.distinct)
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
      writeSnapshot(r.newSnapshot, s"$baseDir/snapshot/v=$version", layout, r.bounds)
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
    for (what <- Seq("snapshot", "state", "changelog");
         (v, p) <- listVersionDirs(java.nio.file.Paths.get(s"$baseDir/$what")) if v < cutoff)
      deleteRecursively(p)
  }

  /** Committed changelog history: the `v=N` layout is read as a `v`
    * partition column; rows of versions past the pointer (orphans of a
    * crashed commit) are filtered out. `v` doubles as the version column
    * for [[Changelog.latest]].
    *
    * Compacted directories ([[compactChangelog]]) carry each row's TRUE
    * version in a `v_row` data column; it takes precedence over the
    * directory version, so version attribution survives compaction.
    *
    * The `v=N` directories' schemas merge from their footers on the
    * driver, so the read starts no Spark job
    * ([[Tables.readCommittedMerged]]).
    */
  def readChangelog(spark: org.apache.spark.sql.SparkSession, baseDir: String): DataFrame = {
    val current = currentVersion(baseDir).getOrElse(0L)
    val root = s"$baseDir/changelog"
    val versions = scala.util.Try(listVersionDirs(Commit.local(root))).getOrElse(Seq.empty)
    val raw = Tables.readCommittedMerged(spark, root, "v", versions).filter(col("v") <= current)
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
