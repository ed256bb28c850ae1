package graft.stream

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The ingest-gate state machine, written once. The three dedup gates
  * ([[StreamNearDup]] text, [[StreamVecDup]] embeddings,
  * [[StreamSubstringGate]] verbatim runs) are each a [[Gate]] that
  * declares only its sketch, geometry, payload and verify step; the
  * seed → probe → absorb protocol and the state layout are this file's:
  * {{{
  *   <payload>/batch=N/    raw rows of every absorbed batch (the gate's
  *                         docs/ or vecs/; the substring gate has none)
  *   index/batch=N/pb=X/   seed (and compacted) sketch rows, partitioned
  *                         by pb = xxhash64(pbCols) mod indexPrefixes
  *   index/batch=N/        flat per-batch deltas (pb as a data column)
  *   pairs/batch=N/        pairs the batch introduced
  *   _params.json          the seed-time sketch geometry
  * }}}
  * Every state dir is partitioned by ingest version, so a replayed batch
  * overwrites exactly its own contribution, and every corpus read is
  * pruned to `batch < version`. One implementation — a fix to the
  * pruning or replay logic cannot drift between the gates.
  */
private[stream] object IngestState {
  /** Bucket-prefix partition column: `pb = xxhash64(cols…) mod prefixes`.
    * The delta's distinct prefix set prunes the accumulated-index read at
    * DIRECTORY level at probe time.
    */
  private def withPb(idx: DataFrame, prefixes: Int, pbCols: Seq[Column]): DataFrame =
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
    * probes against (the corpus/delta disjointness every gate relies on).
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
  private def readOrEmpty(spark: SparkSession, dir: String, template: DataFrame,
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
  private def writeParams(spark: SparkSession, stateDir: String,
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
  private def readParams(spark: SparkSession, stateDir: String): Map[String, Long] = {
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

  /** The one versioned write: `df` replaces the `batch=version` partition
    * of `dir`, so a replay rewrites exactly its own contribution. The
    * files land as a partition-column-free `batch=N` directory, read back
    * with `batch` as the inferred partition column.
    */
  def writeVersion(df: DataFrame, dir: String, version: Long): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$dir/batch=$version")

  /** One manifest-persisted geometry knob of a gate's `Params`. */
  final case class Knob[P](key: String, get: P => Long, set: (P, Long) => P)

  /** What a gate's verify step probes with: the batch, its index rows
    * read back from the flat delta write, the corpus index pruned to the
    * delta's bucket prefixes, and the corpus payload — all restricted to
    * versions below the batch's own.
    */
  final class Probe private[IngestState] (val batch: DataFrame, val deltaIdx: DataFrame,
                                          val corpusIdx: DataFrame,
                                          val corpus: Option[DataFrame]) {
    private[IngestState] val held = ArrayBuffer.empty[DataFrame]

    /** Persist `df` for this batch only: it is unpersisted once the
      * batch's pairs are written.
      */
    def persist(df: DataFrame): DataFrame = {
      held += df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }
  }

  /** One ingest gate over `P`: what it declares, and the protocol it
    * runs. Geometry is a property of the STATE DIR, fixed at seed time
    * (see [[writeParams]]); payload rows are what verify reads besides
    * the index.
    */
  abstract class Gate[P] {
    /** The manifest-persisted knobs, in manifest order. */
    protected def geometry: Seq[Knob[P]]
    protected def indexPrefixes(p: P): Int
    protected def pbCols: Seq[Column]
    /** The payload state dir and its columns, if the gate keeps one. */
    protected def payload(p: P): Option[(String, Seq[Column])]
    /** Index rows of `docs`: an `id` column plus the collision key. */
    protected def sketch(docs: DataFrame, p: P): DataFrame
    /** The pairs this batch introduces. */
    protected def verify(probe: Probe, p: P): DataFrame

    protected def int(key: String, get: P => Int, set: (P, Int) => P): Knob[P] =
      Knob(key, p => get(p).toLong, (p, v) => set(p, v.toInt))
    protected def flag(key: String, get: P => Boolean, set: (P, Boolean) => P): Knob[P] =
      Knob(key, p => if (get(p)) 1L else 0L, (p, v) => set(p, v == 1L))

    /** Seed the state with an existing corpus as ingest version 0: the
      * payload, then the pb-partitioned index, then the manifest. Not
      * covered by a streaming checkpoint — a crashed seed is simply
      * re-run (it overwrites its own version-0 partitions; the payload
      * lands before the index, so a half-seed never indexes ids whose
      * payload is missing).
      */
    final def seed(docs: DataFrame, stateDir: String, p: P): Unit = {
      payload(p).foreach { case (dir, cols) =>
        writeVersion(docs.select(cols: _*), s"$stateDir/$dir", 0L)
      }
      writeIndex(sketch(docs, p), s"$stateDir/index/batch=0", indexPrefixes(p), pbCols)
      writeParams(docs.sparkSession, stateDir, geometry.map(k => k.key -> k.get(p)))
    }

    /** Process one ingest batch at `version` (streaming uses batchId+1;
      * version 0 is the seed): emit its pairs and absorb it. Idempotent
      * under replay of the same (batch, version). The geometry is
      * ADOPTED from the seed-time manifest when present; the caller's
      * `p0` supplies only the rest.
      *
      * Writes land in the order index → pairs → payload. Every read is
      * pruned STRICTLY below `version`, so a crash after any of them
      * replays to the state of an uninterrupted run: a replay's own
      * `batch=version` files are out of every plan before the Overwrite
      * rewrites them, and the corpus/delta id sets stay disjoint.
      */
    final def processBatch(batch: DataFrame, stateDir: String, version: Long,
                           p0: P): Unit = {
      val spark = batch.sparkSession
      val seeded = readParams(spark, stateDir)
      val p = geometry.foldLeft(p0)((p, k) => seeded.get(k.key).fold(p)(k.set(p, _)))
      val corpus = payload(p).map { case (dir, cols) =>
        readOrEmpty(spark, s"$stateDir/$dir", batch.select(cols: _*), version)
          .select(cols: _*)
      }
      // sketch the batch exactly once, straight into its flat delta
      // (see writeIndexFlat), and probe with the materialized rows
      val deltaDir = s"$stateDir/index/batch=$version"
      writeIndexFlat(sketch(batch, p), deltaDir, indexPrefixes(p), pbCols)
      val deltaIdx = spark.read.parquet(deltaDir)
      // the delta's bucket-prefix footprint: ≤ indexPrefixes distinct
      // small ints (bounded by construction, NOT by data volume). It
      // prunes the corpus-index read — at DIRECTORY level for the
      // partitioned seed/compacted dirs, by row filter for flat deltas.
      val deltaPbs = deltaIdx.select("pb").distinct().collect().map(_.getInt(0)).toSeq
      val template = withPb(sketch(batch.limit(0), p), indexPrefixes(p), pbCols)
      val corpusIdx = readIndexPruned(spark, s"$stateDir/index", template, version, deltaPbs)
      val probe = new Probe(batch, deltaIdx.select(corpusIdx.columns.map(col): _*),
        corpusIdx, corpus)
      try writeVersion(verify(probe, p), s"$stateDir/pairs", version)
      finally probe.held.foreach(_.unpersist())
      payload(p).foreach { case (dir, cols) =>
        writeVersion(batch.select(cols: _*), s"$stateDir/$dir", version)
      }
    }

    /** All pairs detected so far, versioned by the batch that detected
      * them (`ingest_version`, a long).
      */
    final def pairs(spark: SparkSession, stateDir: String): DataFrame =
      spark.read.parquet(s"$stateDir/pairs")
        // partition discovery infers the batch column as int
        .withColumn("ingest_version", col("batch").cast("long")).drop("batch")

    /** Fold the flat delta indexes of every batch below `uptoExclusive`
      * into the pb-partitioned seed layout. Run on a maintenance cadence;
      * `uptoExclusive` must not exceed the stream checkpoint's last
      * COMMITTED version (see [[IngestState.compactIndex]]).
      */
    final def compactIndex(spark: SparkSession, stateDir: String, uptoExclusive: Long): Unit =
      IngestState.compactIndex(spark, s"$stateDir/index", uptoExclusive)

    /** Wire [[processBatch]] to a file-source stream and drain it
      * synchronously (tests / bounded backfills; production swaps the
      * source for Kafka/Delta — the per-batch plan is unchanged).
      */
    final def runIngestDedup(spark: SparkSession, inputDir: String, checkpointDir: String,
                             stateDir: String, p: P): Unit = {
      val schema = spark.read.parquet(inputDir).schema
      val q = spark.readStream.schema(schema).parquet(inputDir)
        .writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          processBatch(batch.toDF(), stateDir, batchId + 1, p)
          ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }
  }
}
