package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.Dedup

/** Streaming ingest-time near-dup gate: every micro-batch of incoming
  * documents is checked against the committed corpus — WITHOUT ever
  * re-sketching the corpus — then absorbed into it.
  *
  * One of the three [[IngestState.Gate]]s, so its state layout, replay
  * safety and write order are the shared protocol's. What is its own:
  * the payload is `docs/` (id, text); the batch is sketched ONCE
  * (native MinHashSig, map-side) into LSH band rows ([[Dedup.lshIndex]],
  * pb = xxhash64(bucket) mod indexPrefixes); and verify probes the
  * accumulated index by bucket and Jaccard-verifies candidates
  * ([[Dedup.incrementalVerifiedPairs]]).
  *
  * The probe never scans or shuffles the full accumulated index. The
  * delta's distinct bucket-prefix set (≤ `indexPrefixes` small ints,
  * trivially collectable) prunes the corpus-index read at DIRECTORY level
  * through the `pb` partition column, and the delta side of the probe
  * join is broadcast (a micro-batch is trigger-bounded by construction),
  * so the surviving corpus rows are scanned once and never shuffled.
  * Cost per batch ∝ batch size + the delta's bucket-prefix coverage of
  * the index (→ collisions); the full corpus enters only through the
  * keyed text-fetch join that verifies candidates
  * (StreamNearDupSpec pins the delta-bounded probe via task input
  * metrics, the same witness ContinuousApplyBucketedSpec uses for CDC
  * state).
  *
  * Reference analog: none — the reference replicates rows; this is the
  * §7.5 training-pipeline extension running at ingest instead of as a
  * full-corpus batch job.
  */
object StreamNearDup {
  final case class Params(idCol: String = "doc_id", textCol: String = "text",
                          threshold: Double = 0.5, shingleN: Int = 3,
                          k: Int = 8, bands: Int = 4,
                          // bucket-prefix fan-out of the persisted index:
                          // a probe reads ≤ |delta buckets| of these
                          // directories per absorbed batch. Size so that a
                          // typical micro-batch touches a small fraction
                          // (delta_docs × bands ≪ indexPrefixes); 256 keeps
                          // per-batch file counts sane at test scale —
                          // production at 100 TB wants O(10^4).
                          indexPrefixes: Int = 256)

  private object gate extends IngestState.Gate[Params] {
    protected val geometry = Seq(
      int("shingleN", _.shingleN, (p, v) => p.copy(shingleN = v)),
      int("k", _.k, (p, v) => p.copy(k = v)),
      int("bands", _.bands, (p, v) => p.copy(bands = v)),
      int("indexPrefixes", _.indexPrefixes, (p, v) => p.copy(indexPrefixes = v)))
    protected def indexPrefixes(p: Params): Int = p.indexPrefixes
    protected val pbCols = Seq(col("bucket"))
    protected def payload(p: Params) = Some("docs" -> Seq(col(p.idCol), col(p.textCol)))
    protected def sketch(docs: DataFrame, p: Params): DataFrame =
      Dedup.lshIndex(docs, p.idCol, p.textCol, p.shingleN, p.k, p.bands)
    protected def verify(probe: IngestState.Probe, p: Params): DataFrame =
      Dedup.incrementalVerifiedPairs(probe.corpusIdx, probe.corpus.get, probe.batch,
        p.idCol, p.textCol, p.threshold, p.shingleN, p.k, p.bands,
        deltaIndex = Some(probe.deltaIdx), broadcastDelta = true)
  }

  /** Seed the state with an existing corpus as ingest version 0. Not
    * covered by a streaming checkpoint — re-run on failure (idempotent).
    */
  def seedCorpus(docs: DataFrame, stateDir: String, p: Params = Params()): Unit =
    gate.seed(docs, stateDir, p)

  /** Process one ingest batch at `version` (streaming uses batchId+1;
    * version 0 is the seed): emit its near-dup pairs and absorb it.
    * Idempotent under replay of the same (batch, version). The sketch
    * geometry (shingleN/k/bands/indexPrefixes) is ADOPTED from the state
    * dir's seed-time manifest when present — only idCol/textCol/threshold
    * are taken from the caller's `p0`.
    */
  def processBatch(batch: DataFrame, stateDir: String, version: Long,
                   p0: Params = Params()): Unit =
    gate.processBatch(batch, stateDir, version, p0)

  /** All near-dup pairs detected so far (`ingest_version`: the detecting
    * batch, a long).
    */
  def pairs(spark: SparkSession, stateDir: String): DataFrame = gate.pairs(spark, stateDir)

  /** Fold flat delta indexes below `uptoExclusive` into the seed layout
    * (the contract on `uptoExclusive`: [[IngestState.compactIndex]]).
    */
  def compactIndex(spark: SparkSession, stateDir: String, uptoExclusive: Long): Unit =
    gate.compactIndex(spark, stateDir, uptoExclusive)

  /** Drain a file-source stream through [[processBatch]]. */
  def runIngestDedup(spark: SparkSession, inputDir: String, checkpointDir: String,
                     stateDir: String, p: Params = Params()): Unit =
    gate.runIngestDedup(spark, inputDir, checkpointDir, stateDir, p)
}
