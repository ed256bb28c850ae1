package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core.Signatures

/** Structured-Streaming CDC: the reference's hash-cache diff re-expressed
  * over a continuous stream of row updates (BASELINE.json north star,
  * "Structured Streaming for CDC").
  *
  * The reference keeps per-key signatures in double-buffered side tables
  * (`{t}_hashes_0/1`, reference: src/table.py:107-117) and diffs a full
  * snapshot per run. In streaming form the signature cache lives in the
  * Spark state store, keyed by primary key; each micro-batch compares the
  * incoming row's signature against state and emits a change event only
  * when it differs — the same "transfer only the delta" contract
  * (README.md:14-18) with per-event latency instead of per-run.
  *
  * Deletes: an update stream cannot observe absence; upstream must send
  * tombstones (`isDelete = true`), mirroring how CDC sources (Debezium
  * et al.) surface them. State for a tombstoned key is removed.
  *
  * Scale: state is hash-partitioned by key across executors (the state
  * store shards with the shuffle), checkpointed incrementally — the
  * 100 TB-corpus analog of the reference's MyISAM hash tables with no
  * single-node bottleneck.
  */
object StreamingCdc {
  final case class ChangeEvent(key: String, kind: String, sig: String)

  /** Attach (key, sig, isDelete, seq) to an update stream. `dataCols`
    * drive the signature exactly as in the batch diff
    * ([[graft.core.Diff.classify]]).
    *
    * `seqCol` (any long-castable column: sequence number, epoch millis) is
    * the intra-batch order for [[changeEvents]]: Spark gives NO ordering
    * guarantee for a group's iterator after the groupByKey shuffle, so
    * multiple updates to one key inside a single micro-batch are folded in
    * `seq` order, not arrival order. Without a `seqCol`, keys updated at
    * most once per micro-batch are still deterministic; multi-update keys
    * are not (same caveat as any CDC source without a sequence field).
    */
  def withSignature(updates: DataFrame, keyCol: String, dataCols: Seq[String],
                    deleteCol: Option[String] = None,
                    seqCol: Option[String] = None): DataFrame =
    updates.select(
      col(keyCol).cast("string").as("key"),
      Signatures.md5Sig(dataCols.map(col)).as("sig"),
      deleteCol.map(col(_).cast("boolean")).getOrElse(lit(false)).as("is_delete"),
      seqCol.map(col(_).cast("long")).getOrElse(lit(0L)).as("seq"))

  /** Run [[changeEvents]] over a parquet file-stream directory with a
    * durable checkpoint: the signature state lives in the checkpointed
    * state store, so a stopped query resumes exactly where it left off —
    * the streaming equivalent of the reference's persisted `_hashes_0`
    * cache surviving between runs (table.py:107-117). Each call processes
    * whatever files are new since the checkpoint and stops.
    */
  def runFileStream(spark: org.apache.spark.sql.SparkSession, inputDir: String,
                    checkpointDir: String, outputDir: String, keyCol: String,
                    dataCols: Seq[String]): DataFrame = {
    val schema = spark.read.parquet(inputDir).schema
    val stream = spark.readStream.schema(schema).parquet(inputDir)
    val events = changeEvents(withSignature(stream, keyCol, dataCols))
    // parquet (file) sink: recoverable from the checkpoint, unlike the
    // memory sink — each call appends only newly-derived change events
    val q = events.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outputDir)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.read.parquet(outputDir)
  }

  /** Intra-batch dedup per key for the apply path: deterministic
    * last-write-wins when the source carries an ordering column
    * (sequence/ts); without one, a file stream has no per-row arrival
    * order — arbitrary-but-deterministic-per-retry via dropDuplicates.
    */
  private def lastWritePerKey(batch: DataFrame, keyCol: String,
                              orderCol: Option[String]): DataFrame =
    orderCol match {
      case Some(oc) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCol).orderBy(col(oc).desc)
        batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      case None => batch.dropDuplicates(keyCol)
    }

  /** The APPLY side of streaming CDC: continuously maintain the durable
    * snapshot from a stream of row updates — the full "replica stays
    * current" contract of the reference (start.py run loop) in streaming
    * form. Each micro-batch upserts into the committed snapshot and
    * commits a new version (changelog captured first, ordering per
    * SURVEY §7.4.4). Exactly-once: the version pointer only advances
    * after a batch's writes complete, and a replayed batch (version =
    * batchId + 1) is a no-op rather than a phantom extra version. The
    * update stream is upsert-only.
    *
    * Per-batch work is ∝ delta, not snapshot. The committed
    * snapshot/state live hash-bucketed by key
    * ([[graft.core.BucketedSnapshot]]); each micro-batch
    *
    *  1. computes the buckets its keys hash into (tiny),
    *  2. reads ONLY those bucket partitions of snapshot+state (partition
    *     pruning — the other `nBuckets-B` partitions are never scanned),
    *  3. runs the same warm diff/merge restricted to that slice (against
    *     the signature STATE, so unchanged rows in touched buckets are
    *     detected without re-reading data columns), and
    *  4. commits: rewrites the touched partitions, hard-links the rest
    *     from the previous version (metadata-only), moves the pointer.
    *
    * A 1000-row batch against a 100 TB snapshot reads ~B/nBuckets of the
    * data instead of rescanning all of it — with nBuckets sized so one
    * bucket ≈ one task (O(10^5) at 100 TB), that is O(B) tasks' worth.
    */
  def continuousApplyBucketed(spark: org.apache.spark.sql.SparkSession, inputDir: String,
                              checkpointDir: String, snapshotDir: String, keyCol: String,
                              dataCols: Seq[String], nBuckets: Int,
                              orderCol: Option[String] = None,
                              maxFilesPerTrigger: Option[Int] = None): Unit = {
    import graft.core.{BucketedSnapshot => BS, Diff, Pipeline}
    val schema = spark.read.parquet(inputDir).schema
    // maxFilesPerTrigger splits already-present files into separate
    // micro-batches (oldest mtime first) — N pending files become N
    // versioned commits from ONE query startup, instead of paying the
    // stream-startup fixed cost once per batch
    val reader = spark.readStream.schema(schema)
    val stream = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(inputDir)
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val ub = lastWritePerKey(batch, keyCol, orderCol)
          .withColumn(BS.BucketCol, BS.bucketOf(keyCol, nBuckets))
          .persist()
        try {
          val touched = ub.select(BS.BucketCol).distinct()
            .collect().map(_.getInt(0)).toSeq
          if (touched.nonEmpty) {
            val (cur, st) = Pipeline.currentVersion(snapshotDir) match {
              case Some(v) =>
                (BS.read(spark, snapshotDir, "snapshot", v, Some(touched)),
                 BS.read(spark, snapshotDir, "state", v, Some(touched)))
              case None => (ub.limit(0),
                Diff.sigTable(ub, Seq(keyCol), dataCols)
                  .withColumn(BS.BucketCol, lit(0)).limit(0))
            }
            val curP = cur.persist()
            val r = Pipeline.warm(curP,
              Diff.upsertReplace(curP, ub, Seq(keyCol)),
              Seq(keyCol), dataCols, state = Some(st.drop(BS.BucketCol)))
            try BS.commit(snapshotDir, batchId + 1,
              snapshotTouched = r.newSnapshot,
              stateTouched = r.newState.withColumn(BS.BucketCol, BS.bucketOf(keyCol, nBuckets)),
              changelog = r.changelog, touched = touched)
            finally { r.release(); curP.unpersist() }
          }
        } finally ub.unpersist()
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Stateful change classification. Emits `new` / `changed` / `deleted`
    * events; unchanged rows are swallowed (the reference drops matched
    * hashes the same way, download.py:193-195).
    */
  def changeEvents(sigStream: DataFrame): Dataset[ChangeEvent] = {
    val spark = sigStream.sparkSession
    import spark.implicits._
    sigStream.as[(String, String, Boolean, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String, Boolean, Long)], state: GroupState[String]) =>
          // fold the micro-batch in `seq` order (stable sort: ties keep
          // iterator order) — the post-shuffle iterator order itself is
          // NOT guaranteed, see withSignature; last write per key wins
          var events = List.empty[ChangeEvent]
          rows.toSeq.sortBy(_._4).foreach { case (_, sig, isDelete, _) =>
            val prev = state.getOption
            if (isDelete) {
              if (prev.isDefined) {
                state.remove()
                events ::= ChangeEvent(key, "deleted", sig)
              }
            } else prev match {
              case Some(s) if s == sig => // unchanged: drop
              case Some(_) =>
                state.update(sig); events ::= ChangeEvent(key, "changed", sig)
              case None =>
                state.update(sig); events ::= ChangeEvent(key, "new", sig)
            }
          }
          events.reverseIterator
      }
  }
}
