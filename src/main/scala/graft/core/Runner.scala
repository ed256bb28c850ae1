package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The reference's full run lifecycle (start.py:44-60): extract every
  * table concurrently with fail-fast cancellation, then materialize the
  * derived aggregates (`post_update`). Each table is cold-or-warm
  * automatically: no committed version → everything classifies "new" and
  * the first commit IS the cold load; later runs diff against the
  * committed snapshot and transfer only the delta.
  */
object Runner {
  /** Per-table extraction config. */
  final case class Source(name: String, load: () => DataFrame,
                          key: Seq[String], dataCols: Seq[String],
                          deriveFetched: DataFrame => DataFrame = identity)

  /** Run all extracts in parallel, committing each as a new version under
    * `$baseDir/$table`. Returns committed versions per table. Deletes are
    * bounded by [[Pipeline.DefaultMaxDeletes]].
    *
    * The commit layout is Z-ordered on the table key: committed
    * snapshots carry tight parquet min/max statistics on every key
    * column, so the NEXT run's diff scan — and any keyed read-side query
    * — prunes files instead of scanning the whole snapshot
    * (RunnerSpec pins the post-commit pruning). A one-column key and
    * non-numeric keys take the range-sorted writer inside
    * [[Layout.writeZordered]] (no min/max stats job). A one-column key
    * `percentile_approx` takes writes on the range split points warm
    * observed, so the layout pass costs one shuffle of the snapshot per
    * commit; other keys add one range-bounds sample.
    *
    * Stage shape per table of a warm run whose delta keys go to the
    * driver ([[Diff.collectIfSmall]]): opening the committed snapshot and
    * state starts no job ([[Tables.readCommitted]]); [[Pipeline.warm]]
    * runs two jobs, the cache fill and the delta-key collect; the commit
    * runs three writes — changelog, snapshot (its shuffle, then the
    * write) and state — that build no broadcast. In perfbench `cdc_warm`
    * (seed 1, 4 cores) that is 5 warm and 4 commit stages per table.
    */
  def extractAll(spark: SparkSession, sources: Seq[Source], baseDir: String): Map[String, Long] = {
    val versions = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    Pipeline.runParallel(spark, sources.map { src =>
      src.name -> (() => {
        val external = src.load()
        val dir = s"$baseDir/${src.name}"
        // the diff always runs against the committed signature STATE
        // (cold: an empty one), never the snapshot's stored rows — so
        // deriveFetched may rewrite data columns (name normalization)
        // without re-classifying those rows 'changed' on every run
        val (internal, state) = Pipeline.currentVersion(dir) match {
          case Some(_) => (Pipeline.readLatest(spark, dir, "snapshot"),
            Pipeline.readLatest(spark, dir, "state"))
          case None => (src.deriveFetched(external).limit(0), // cold: empty replica
            Diff.sigTable(external, src.key, src.dataCols).limit(0))
        }
        val r = Pipeline.warm(internal, external, src.key, src.dataCols,
          Pipeline.DefaultMaxDeletes, src.deriveFetched, state = Some(state))
        try versions.put(src.name,
          Pipeline.commitVersioned(r, dir, Pipeline.SnapshotLayout.Zordered(src.key)))
        finally r.release()
        ()
      })
    })
    import scala.jdk.CollectionConverters._
    versions.asScala.toMap
  }

  /** Maintenance cadence for a table directory: retention first
    * ([[Pipeline.vacuum]] drops versions past the window), then changelog
    * compaction ([[Pipeline.compactChangelog]] collapses the retained
    * window to latest-per-key), then any derived-index upkeep the caller
    * registered. Run after extracts, e.g. nightly — the reference has no
    * analog (its changelog grows forever, download.py:585-595).
    *
    * `indexMaintenance` is the seam for derived structures that need
    * health-gated rebuilds on the same cadence — e.g. an ANN index over
    * an embedding column: pass `() => IvfIndex.maintain(spark, idxPath)`
    * (the ext package depends on core, so core names it only here in
    * doc). Hooks run AFTER compaction so they see the post-maintenance
    * table state.
    */
  def maintain(spark: SparkSession, tableDir: String, key: Seq[String],
               keepVersions: Int,
               indexMaintenance: Seq[() => Unit] = Nil): Unit = {
    Pipeline.vacuum(tableDir, keepVersions)
    Pipeline.compactChangelog(spark, tableDir, key)
    indexMaintenance.foreach(_.apply())
  }

  /** post_update (reference post_update.py:22-91): the per-tribe
    * aggregate tables `tribe_active` and `tribe_stats` under `baseDir`,
    * rebuilt from scratch on every call as the reference does.
    * `activeKeys` is the per-run delta (the `player_new` analog). A full
    * rebuild carries no row over, so a deleted tribe or player leaves no
    * stale aggregate behind.
    *
    * `oldMembers` and `touchedKeys` are not read: a full rebuild needs
    * neither. They stay in the signature because existing callers, the
    * perfbench harness among them, pass them.
    *
    * Both tables are staged in `.next` directories, a marker is set, each
    * staged directory replaces its live one ([[Commit.replaceDir]]), the
    * marker is cleared. The live directories are never written in place,
    * so a crash at any step leaves either the previous pair intact or the
    * marker set. The tribe and active keys reach the driver at most once
    * for both writes, under the one small-relation rule
    * ([[Diff.collectIfSmall]]), and their key sets are released after them.
    */
  def postUpdateIncremental(spark: SparkSession, baseDir: String,
                            tribe: DataFrame, oldMembers: DataFrame,
                            members: DataFrame, facts: DataFrame,
                            activeKeys: DataFrame, touchedKeys: DataFrame,
                            tribeKey: String, memberTribeFk: String,
                            memberKey: String, factKey: String,
                            statCols: Seq[String]): Unit = {
    import java.nio.file.{Files, Paths}
    val activeDir = s"$baseDir/tribe_active"
    val statsDir = s"$baseDir/tribe_stats"
    val (aTmp, sTmp) = (s"$activeDir.next", s"$statsDir.next")
    // the two-directory swap cannot be atomic as a pair; the marker records
    // that a crash between the swaps may have left one table a run ahead of
    // the other, until the next call's rebuild replaces both and clears it
    val marker = Paths.get(s"$baseDir/_agg_swap_incomplete")
    val (tribes, active) = (Diff.keys(tribe, Seq(tribeKey)), TribeAgg.activeProbe(activeKeys))
    try {
      TribeAgg.active(tribes, members, active, memberTribeFk, memberKey)
        .write.mode(SaveMode.Overwrite).parquet(aTmp)
      TribeAgg.stats(tribes, members, facts, memberTribeFk, memberKey, factKey, statCols,
          Tables.readCommitted(spark, aTmp), factSkewSalts = 0)
        .write.mode(SaveMode.Overwrite).parquet(sTmp)
    } finally Seq(tribes, active).foreach(_.release())
    Files.writeString(marker, "swap")
    Commit.replaceDir(aTmp, activeDir)
    Commit.replaceDir(sTmp, statsDir)
    Files.deleteIfExists(marker)
  }
}
