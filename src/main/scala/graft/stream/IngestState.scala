package graft.stream

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Shared state-layout discipline for the ingest-time dedup gates
  * ([[StreamNearDup]] text, [[StreamVecDup]] embeddings): bucket-prefix
  * partitioned index writes and replay-safe `batch < version` reads.
  * One implementation — a fix to the pruning or replay logic cannot
  * drift between the two gates.
  */
private[stream] object IngestState {
  /** Bucket-prefix partition column: `pb = xxhash64(cols…) mod prefixes`.
    * The delta's distinct prefix set prunes the accumulated-index read at
    * DIRECTORY level at probe time.
    */
  def withPb(idx: DataFrame, prefixes: Int, pbCols: Seq[Column]): DataFrame =
    idx.withColumn("pb", pmod(xxhash64(pbCols: _*), lit(prefixes.toLong)).cast("int"))

  /** Write one batch's index rows under `dir` partitioned by bucket
    * prefix. The repartition on `pb` routes each prefix to exactly one
    * task, so the layout lands as ~one file per touched prefix instead
    * of tasks × prefixes small files. This is the layout for the SEED
    * (and compacted) index — the big read side that directory pruning
    * must bite on.
    */
  def writeIndex(idx: DataFrame, dir: String, prefixes: Int, pbCols: Seq[Column]): Unit =
    withPb(idx, prefixes, pbCols)
      .repartition(col("pb"))
      .write.mode(SaveMode.Overwrite).partitionBy("pb").parquet(dir)

  /** Write a delta batch's index rows FLAT — no `pb` directories, `pb`
    * as a data column. The partitioned layout is wrong for small deltas:
    * a batch of ~1k docs touches most of an O(10^4) prefix space, so
    * `partitionBy(pb)` lands thousands of tiny files per batch and every
    * subsequent probe pays thousands of file opens — measured 69 s and
    * 9M rows read per 800-vector batch at the 4× corpus.
    *
    * Parallelism follows the BATCH: no repartition/coalesce, so a
    * trigger-sized batch (one or two source tasks) lands one or two
    * files, while a wave-sized backfill sketches and writes with full
    * task parallelism — an explicit `coalesce(1)` here once serialized a
    * 167k-doc wave's entire sketch through one thread (58 s where the
    * r5 layout took 17 s). Flat files are scanned, not dir-pruned, which
    * is the right trade both ways: trigger deltas are small by
    * construction, and wave-sized deltas cover every prefix anyway.
    * [[compactIndex]] folds accumulated flat batches into the
    * partitioned layout before the scan cost compounds.
    */
  def writeIndexFlat(idx: DataFrame, dir: String, prefixes: Int,
                     pbCols: Seq[Column]): Unit =
    withPb(idx, prefixes, pbCols)
      .write.mode(SaveMode.Overwrite).parquet(dir)

  /** The accumulated index restricted to `pbs` bucket prefixes and to
    * batches BELOW `maxBatchExclusive`, reading each batch directory by
    * its own layout: pb-partitioned dirs (seed, compacted) are
    * DIRECTORY-pruned to the prefix set; flat delta dirs are row-filtered
    * on the `pb` data column (they are trigger-bounded small). The two
    * layouts cannot be read in one `spark.read.parquet(root)` pass —
    * partition discovery rejects mixed depths — and per-dir reads are
    * exactly what keeps the prune local to each layout.
    */
  def readIndexPruned(spark: SparkSession, root: String, template: DataFrame,
                      maxBatchExclusive: Long, pbs: Seq[Int]): DataFrame = {
    val outCols = template.columns.filterNot(_ == "pb").map(col(_))
    val empty = template.limit(0).select(outCols: _*)
    if (pbs.isEmpty) return empty
    val dirs = listBatchDirs(spark, root).filter(_._2 < maxBatchExclusive)
    if (dirs.isEmpty) empty
    else dirs.map { case (p, _) =>
      spark.read.parquet(p.toString)
        .where(col("pb").isin(pbs: _*))
        .select(outCols: _*)
    }.reduce(_ unionByName _)
  }

  private def listBatchDirs(spark: SparkSession,
                            root: String): Seq[(org.apache.hadoop.fs.Path, Long)] = {
    val path = new org.apache.hadoop.fs.Path(root)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .flatMap(st => st.getPath.getName.drop("batch=".length).toLongOption
        .map(v => st.getPath -> v))
  }

  /** Fold every index batch BELOW `uptoExclusive` (the flat deltas plus
    * the current partitioned seed) into ONE pb-partitioned `batch=0` —
    * the LSM compaction that keeps the per-probe flat-file scan bounded
    * no matter how many trigger batches have been absorbed.
    *
    * SAFETY CONTRACT: `uptoExclusive` must not exceed the highest
    * version the stream checkpoint has durably COMMITTED. A foreachBatch
    * crash replays only the last uncommitted batch; compacting a version
    * that could still replay would put its own rows in the corpus it
    * probes against (the corpus/delta disjointness both gates rely on).
    *
    * Crash discipline is [[graft.core.Commit.swap]] (the one changelog
    * compaction uses): staging is written complete first, then swapped in
    * as `batch=0`; [[graft.core.Commit.recover]] at the next call finishes
    * or undoes a crashed swap. The swap runs on the LOCAL filesystem, so
    * `root` must be a local path (a non-`file` URI is rejected); the
    * batch listing and the parquet reads and writes go through Spark and
    * the Hadoop filesystem of the path. Like changelog compaction this is
    * an OFFLINE maintenance op — a probe racing the swap could
    * transiently miss index rows.
    */
  def compactIndex(spark: SparkSession, root: String, uptoExclusive: Long): Unit = {
    graft.core.Commit.recover(root)
    val dirs = listBatchDirs(spark, root).filter(_._2 < uptoExclusive)
    if (dirs.size < 2) return // nothing to fold
    val all = dirs.map { case (p, _) => spark.read.parquet(p.toString) }
      .reduce(_ unionByName _)
    all.repartition(col("pb"))
      .write.mode(SaveMode.Overwrite).partitionBy("pb")
      .parquet(graft.core.Commit.staging(root))
    graft.core.Commit.swap(root, dirs.map(_._1.getName), "batch=0")
  }

  /** Read a `batch=N`-partitioned state dir restricted to partitions
    * BELOW `maxBatchExclusive`, or an empty frame shaped like `template`
    * when nothing was absorbed yet. The partition filter is load-bearing
    * for replay: pruning happens at directory level, so files under an
    * in-flight `batch=version` partition — which the caller is about to
    * Overwrite — are never opened, even though the eager file listing saw
    * them. Existence is probed through the Hadoop filesystem of the path,
    * so this state may live on HDFS/S3, not only the local disk — as may
    * the index reads/writes and the params manifest here; only
    * [[compactIndex]]'s swap needs a local path.
    */
  def readOrEmpty(spark: SparkSession, dir: String, template: DataFrame,
                  maxBatchExclusive: Long): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(path) &&
      fs.listStatus(path).exists(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
    if (hasData) spark.read.parquet(dir).where(col("batch") < lit(maxBatchExclusive))
    else template.limit(0)
  }

  /** Sketch-geometry manifest. The LSH parameters that define the bucket
    * space (planes/bands/k/prefix fan-out) are a property of the STATE
    * DIR, fixed when the corpus is seeded: a later batch sketched with
    * different geometry lands in a DISJOINT bucket space, the probe join
    * matches nothing, and cross-batch duplicates pass the gate silently —
    * a false-negative failure with no error signal. So the seed persists
    * them here and every processBatch ADOPTS them, instead of trusting
    * each caller (possibly another job, another JVM) to thread identical
    * Params forever.
    */
  def writeParams(spark: SparkSession, stateDir: String,
                  fields: Seq[(String, Long)]): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$stateDir/_params.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(p, true)
    try os.write(fields.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}").getBytes("UTF-8"))
    finally os.close()
  }

  /** The seed-time geometry, or empty for a pre-manifest state dir (the
    * caller's Params then apply unchecked, preserving old behavior).
    */
  def readParams(spark: SparkSession, stateDir: String): Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$stateDir/_params.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      """"(\w+)"\s*:\s*(\d+)""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toLong).toMap
    }
  }
}
