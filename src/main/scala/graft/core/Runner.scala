package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

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
    * [[Layout.writeZordered]] (no min/max stats job); the layout pass
    * then costs one range-bounds sample and one shuffle of the snapshot
    * per commit.
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
    * aggregate tables `tribe_active` and `tribe_stats` under `baseDir`.
    * `activeKeys` is the per-run delta (the `player_new` analog);
    * `touchedKeys` the members whose membership may have moved.
    *
    * Incremental when the previous aggregates are in place: only tribes
    * invalidated by this run's member delta are recomputed
    * ([[TribeAgg.incrementalUpdate]]), everything else carries over — per-run
    * cost ∝ delta instead of corpus, the shape the reference's full rebuild
    * cannot take. In full otherwise (first run, or an interrupted swap).
    *
    * One write path either way: both tables are staged in `.next`
    * directories, a marker is set, each staged directory replaces its live
    * one ([[Commit.replaceDir]]), the marker is cleared. The live
    * directories are never written in place, so a crash at any step leaves
    * either the previous pair intact or the marker set.
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
    // the two-directory swap cannot be atomic as a pair; the marker makes
    // a crash between the swaps detectable — next run rebuilds in full
    // instead of silently carrying one table a run behind the other
    val marker = Paths.get(s"$baseDir/_agg_swap_incomplete")
    // a live table counts only once its job committed (`_SUCCESS`): a
    // directory a killed in-place writer left holds only `_temporary/`
    def committed(dir: String) = Files.exists(Paths.get(dir, "_SUCCESS"))
    val havePrev = committed(activeDir) && committed(statsDir) && !Files.exists(marker)
    if (havePrev) {
      // activeKeys must invalidate tribes too: a member whose row changed
      // in place is active this run even if its membership didn't move —
      // union it into the touched set instead of trusting the caller
      val touchedAll = touchedKeys
        .withColumnRenamed(touchedKeys.columns.head, "__t")
        .unionByName(activeKeys
          .withColumnRenamed(activeKeys.columns.head, "__t"))
      val affected = TribeAgg.affectedTribes(oldMembers, members, touchedAll,
        memberTribeFk, memberKey)
      val (newActive, newStats) = TribeAgg.incrementalUpdate(
        spark.read.parquet(activeDir), spark.read.parquet(statsDir),
        tribe, members, facts, activeKeys, affected,
        tribeKey, memberTribeFk, memberKey, factKey, statCols)
      newActive.write.mode(SaveMode.Overwrite).parquet(aTmp)
      newStats.write.mode(SaveMode.Overwrite).parquet(sTmp)
    } else {
      TribeAgg.tribeActive(tribe, members, activeKeys, tribeKey, memberTribeFk, memberKey)
        .write.mode(SaveMode.Overwrite).parquet(aTmp)
      TribeAgg.tribeStats(tribe, members, facts, activeKeys, tribeKey,
          memberTribeFk, memberKey, factKey, statCols,
          precomputed = Some(spark.read.parquet(aTmp)))
        .write.mode(SaveMode.Overwrite).parquet(sTmp)
    }
    Files.writeString(marker, "swap")
    Commit.replaceDir(aTmp, activeDir)
    Commit.replaceDir(sTmp, statsDir)
    Files.deleteIfExists(marker)
  }
}
