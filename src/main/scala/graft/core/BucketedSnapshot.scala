package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField}

/** Hash-bucketed versioned snapshot layout — the delta-proportional
  * storage scheme for continuously-maintained state
  * ([[graft.stream.StreamingCdc.continuousApplyBucketed]]).
  *
  * Layout: `$base/{snapshot,state}/v=N/__b=K/part-*.parquet` behind the
  * VERSION pointer ([[Commit.publish]], as [[Pipeline.commitVersioned]]).
  * Every row lands in bucket `xxhash64(key) mod nBuckets`; a micro-batch that
  * touches keys in B buckets reads B partitions (Spark prunes on `__b`),
  * rewrites B partitions, and HARD-LINKS the other `nBuckets - B`
  * partition directories from the previous version — O(delta) data read
  * and written, O(#files) metadata for the rest. Each `v=N` directory
  * remains a complete, independently-readable snapshot.
  *
  * At cluster scale the link step is the local-filesystem stand-in for a
  * copy-on-write manifest (what Delta/Iceberg commit logs do): untouched
  * data files are REFERENCED by the new version, never rewritten. The
  * Spark-side plan shape — prune to touched buckets, merge, write
  * touched partitions — is identical either way.
  */
object BucketedSnapshot {
  val BucketCol = "__b"

  /** int (not long): the column round-trips through partition-directory
    * names, and Spark's partition type inference reads them back as int —
    * keeping both sides int avoids union-widening surprises.
    */
  def bucketOf(keyCol: String, nBuckets: Int): Column =
    pmod(xxhash64(col(keyCol).cast("string")), lit(nBuckets.toLong)).cast("int")

  /** Read one table ("snapshot" | "state") of `version`, pruned to the
    * given buckets (None = all). The `__b` partition column stays visible
    * as an int. The schema comes from a bucket file's footer on the
    * driver, so the read starts no Spark job ([[Tables.readCommitted]]).
    */
  def read(spark: SparkSession, baseDir: String, what: String, version: Long,
           buckets: Option[Seq[Int]] = None): DataFrame = {
    val df = Tables.readCommitted(spark, s"$baseDir/$what/v=$version",
      Some(StructField(BucketCol, IntegerType)))
    buckets.fold(df)(bs => df.filter(col(BucketCol).isin(bs: _*)))
  }

  /** Commit `version`: write the merged content of the touched buckets,
    * link every other bucket partition from `fromVersion`, move the
    * pointer. Idempotent per version (replays no-op). `snapshotTouched` /
    * `stateTouched` must carry `__b`; `changelog` is delta-sized and
    * written whole.
    */
  def commit(baseDir: String, version: Long,
             snapshotTouched: DataFrame, stateTouched: DataFrame,
             changelog: DataFrame, touched: Seq[Int]): Long =
    Commit.publish(baseDir, version) { current =>
      changelog.write.mode("overwrite").parquet(s"$baseDir/changelog/v=$version")
      // repartition on the bucket column BEFORE the dynamic-partition write:
      // without it every shuffle task carries rows of every bucket and the
      // writer fans out tasks×buckets files (measured 1024 files and 12.4 s
      // for a 37.5k-row commit at 32×32 — r7 re-pin). One shuffle makes each
      // task own whole buckets: one file per bucket dir, which is also the
      // layout the bucket-pruned warm reads and the hard-link share protocol
      // want — linkUntouched dedupes per FILE, so fewer, stabler files per
      // bucket keep versions link-sharable at any scale.
      snapshotTouched.repartition(col(BucketCol)).write.partitionBy(BucketCol)
        .mode("overwrite").parquet(s"$baseDir/snapshot/v=$version")
      stateTouched.repartition(col(BucketCol)).write.partitionBy(BucketCol)
        .mode("overwrite").parquet(s"$baseDir/state/v=$version")
      if (current > 0) {
        val touchedDirs = touched.map(b => s"$BucketCol=$b").toSet
        for (what <- Seq("snapshot", "state"))
          linkUntouched(s"$baseDir/$what/v=$current", s"$baseDir/$what/v=$version", touchedDirs)
      }
    }

  /** Hard-link (fallback: copy) every `__b=*` partition dir of `prev` not
    * in `touchedDirs` into `next`. Metadata-only: no data bytes move on a
    * link-capable filesystem.
    */
  private def linkUntouched(prev: String, next: String, touchedDirs: Set[String]): Unit = {
    import java.nio.file.{Files, Paths}
    val prevPath = Paths.get(prev)
    if (!Files.isDirectory(prevPath)) return
    val listing = Files.list(prevPath)
    try {
      val it = listing.iterator()
      while (it.hasNext) {
        val part = it.next()
        val name = part.getFileName.toString
        if (name.startsWith(s"$BucketCol=") && !touchedDirs.contains(name)
            && Files.isDirectory(part)) {
          val dst = Paths.get(next, name)
          Files.createDirectories(dst)
          val files = Files.list(part)
          try files.forEach { f =>
            val target = dst.resolve(f.getFileName)
            if (!Files.exists(target)) {
              try Files.createLink(target, f)
              catch { case _: UnsupportedOperationException | _: java.io.IOException =>
                Files.copy(f, target) }
            }
          } finally files.close()
        }
      }
    } finally listing.close()
  }
}
