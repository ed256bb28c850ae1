package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.Dedup

/** Streaming ingest-time near-dup gate over EMBEDDINGS: every micro-batch
  * of incoming vectors is checked against the committed corpus by banded
  * hyperplane LSH + exact-cosine verify — without ever re-sketching the
  * corpus — then absorbed. The vector twin of [[StreamNearDup]]; the two
  * gates compose at ingest the way `dedup_multimodal` composes their
  * batch outputs.
  *
  * One of the three [[IngestState.Gate]]s, so its state layout, replay
  * safety and write order are the shared protocol's. What is its own:
  * the payload is `vecs/` (id, vec); index rows are (id, band, bucket)
  * ([[Dedup.embeddingIndex]], or [[Dedup.axisCellIndex]] in cellMode),
  * pb = xxhash64(band, bucket) mod indexPrefixes; and verify probes by
  * (band, bucket) and checks exact cosine
  * ([[Dedup.incrementalEmbeddingPairs]]). The delta index is broadcast
  * (micro-batches are trigger-bounded), so surviving corpus rows are
  * scanned once and never shuffled — the same delta-bounded witness
  * StreamNearDupSpec pins for text.
  *
  * Reference analog: none — §7.5 training-pipeline extension.
  */
object StreamVecDup {
  /** `planes` must be sized for the corpus the index will GROW INTO:
    * per-batch probe candidates are delta·bands·corpus/2^planes, so a
    * corpus of n vectors wants planes ≥ log2(n)+2 (the batch-path
    * auto-sizing in [[Dedup.embeddingNearDups]] — a streaming index
    * cannot resketch, so the choice is made once, at seed time).
    *
    * `cellMode` swaps the xxhash64 hyperplane index for the
    * DETERMINISTIC axis-sign cell index ([[Dedup.axisCellIndex]],
    * [[Dedup.CellBands]]×[[Dedup.CellDims]]) — the DuckDB-replayable geometry the
    * `dedup_vec_ingest_gate_md5` oracle runs, mirroring the substring
    * gate's md5Mode. Fixed at seed time in the state manifest like every
    * other geometry knob (a mode mismatch would probe a disjoint bucket
    * space and silently detect nothing).
    */
  final case class Params(idCol: String = "vec_id", vecCol: String = "embedding",
                          threshold: Double = 0.9, planes: Int = 18, bands: Int = 8,
                          indexPrefixes: Int = 256, cellMode: Boolean = false)

  private object gate extends IngestState.Gate[Params] {
    protected val geometry = Seq(
      int("planes", _.planes, (p, v) => p.copy(planes = v)),
      int("bands", _.bands, (p, v) => p.copy(bands = v)),
      int("indexPrefixes", _.indexPrefixes, (p, v) => p.copy(indexPrefixes = v)),
      flag("cellMode", _.cellMode, (p, v) => p.copy(cellMode = v)))
    protected def indexPrefixes(p: Params): Int = p.indexPrefixes
    protected val pbCols = Seq(col("band"), col("bucket"))
    protected def payload(p: Params) = Some("vecs" -> Seq(col(p.idCol), col(p.vecCol)))
    // cellMode's geometry is the FIXED [[Dedup.CellBands]]×[[Dedup.CellDims]]
    // split (p.bands/p.planes are hyperplane knobs and don't apply: the
    // cell index is capped by the vector's physical dimension, so its
    // bucket budget is a corpus-independent constant — see the CellBands
    // scaladoc for the candidate-volume/recall accounting); oracles
    // hardwire the same constants
    protected def sketch(vecs: DataFrame, p: Params): DataFrame =
      if (p.cellMode) Dedup.axisCellIndex(vecs, p.idCol, p.vecCol)
      else Dedup.embeddingIndex(vecs, p.idCol, p.vecCol, p.planes, p.bands)
    protected def verify(probe: IngestState.Probe, p: Params): DataFrame =
      Dedup.incrementalEmbeddingPairs(probe.corpusIdx, probe.corpus.get, probe.batch,
        probe.deltaIdx, p.idCol, p.vecCol, p.threshold)
  }

  /** Seed the state with an existing corpus as ingest version 0 (outside
    * the checkpoint — re-run on failure, idempotent). The geometry is
    * then a property of the state dir: auto-sized planes at seed time
    * can no longer de-sync from a caller's default Params.
    */
  def seedCorpus(vecs: DataFrame, stateDir: String, p: Params = Params()): Unit =
    gate.seed(vecs, stateDir, p)

  /** Process one ingest batch at `version` (streaming uses batchId+1;
    * version 0 is the seed). Idempotent under replay. The sketch geometry
    * (planes/bands/indexPrefixes/cellMode) is ADOPTED from the state
    * dir's seed-time manifest when present — only idCol/vecCol/threshold
    * are taken from the caller's `p0`.
    */
  def processBatch(batch: DataFrame, stateDir: String, version: Long,
                   p0: Params = Params()): Unit =
    gate.processBatch(batch, stateDir, version, p0)

  /** All cosine-verified pairs detected so far (`ingest_version`: the
    * detecting batch, a long).
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
