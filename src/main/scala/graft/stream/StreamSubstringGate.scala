package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.SubstringDedup

/** Streaming ingest-time EXACT-SUBSTRING gate: every micro-batch of
  * incoming documents is checked for verbatim run overlap (winnowed
  * L-gram fingerprints, the [[graft.ext.SubstringDedup]] discipline)
  * against the accumulated corpus — without ever re-fingerprinting the
  * corpus — then absorbed into it. Completes the ingest-gate family
  * (near-dup [[StreamNearDup]], vector [[StreamVecDup]], LM quality
  * [[StreamLmGate]]) with the boilerplate/quotation-overlap signal none
  * of the others can see.
  *
  * Unlike the near-dup gate there is NO text-verify stage and therefore
  * no docs/ state: a shared fingerprint count IS the decision (each
  * fingerprint witnesses a verbatim ≥ L-byte run; `minShared` of them is
  * the MOSS evidence threshold), so the state is just the fingerprint
  * index: rows of (id, h), pb = xxhash64(h) mod indexPrefixes, in the
  * shared [[IngestState]] layout.
  *
  * Per batch: the delta is fingerprinted ONCE (map-side kernel) into its
  * flat index partition; the rows are read back, their distinct
  * bucket-prefix set prunes the corpus-index read (directory-level for
  * the partitioned seed), and the probe — match, hub cap, cross pairs,
  * in-batch pairs — is the one [[graft.ext.SubstringDedup]] probe that
  * [[graft.ext.IngestPipeline.waveFates]] also runs. Exactly-once
  * replay is the shared [[IngestState]] protocol's.
  *
  * Two fingerprint modes, fixed at seed time in the state manifest
  * (mismatched geometry would silently probe a disjoint hash space):
  * xxhash64 codegen kernel (production: 8-byte fingerprints, zero
  * per-position allocation) or md5 char grams (DuckDB-replayable — the
  * `dedup_substring_gate` oracle runs this mode).
  *
  * Reference analog: none — §7.5 training-pipeline extension at ingest.
  */
object StreamSubstringGate {
  final case class Params(idCol: String = "doc_id", textCol: String = "text",
                          L: Int = 40, w: Int = 8, minShared: Int = 2,
                          maxDf: Int = 1000, md5Mode: Boolean = false,
                          indexPrefixes: Int = 256)

  private object gate extends IngestState.Gate[Params] {
    protected val geometry = Seq(
      int("L", _.L, (p, v) => p.copy(L = v)),
      int("w", _.w, (p, v) => p.copy(w = v)),
      int("minShared", _.minShared, (p, v) => p.copy(minShared = v)),
      int("maxDf", _.maxDf, (p, v) => p.copy(maxDf = v)),
      flag("md5Mode", _.md5Mode, (p, v) => p.copy(md5Mode = v)),
      int("indexPrefixes", _.indexPrefixes, (p, v) => p.copy(indexPrefixes = v)))
    protected def indexPrefixes(p: Params): Int = p.indexPrefixes
    protected val pbCols = Seq(col("h"))
    protected def payload(p: Params) = None
    protected def sketch(docs: DataFrame, p: Params): DataFrame =
      SubstringDedup.winnowGrams(docs, p.idCol, p.textCol, p.L, p.w, p.md5Mode)

    /** The shared substring probe ([[SubstringDedup.corpusMatches]] and
      * the steps after it), with the matches and hubs persisted for the
      * batch. Cross pairs are grouped by (delta id, corpus id) and then
      * ordered as (least, greatest): corpus and delta ids are disjoint
      * (the [[IngestState.compactIndex]] contract every gate relies on),
      * so each group is exactly one unordered pair.
      */
    protected def verify(probe: IngestState.Probe, p: Params): DataFrame = {
      val delta = probe.deltaIdx
      val matches = probe.persist(SubstringDedup.corpusMatches(
        probe.corpusIdx.select(col("id").as("aid"), col("h")), delta))
      val hubs = probe.persist(SubstringDedup.hubGrams(matches, delta, p.maxDf))
      SubstringDedup.crossPairs(delta, matches, hubs, p.minShared)
        .select(least(col("id"), col("aid")).as("id_a"),
          greatest(col("id"), col("aid")).as("id_b"), col("n_shared"))
        .unionByName(SubstringDedup.innerPairs(delta, hubs, p.minShared, p.maxDf))
    }
  }

  /** Seed the state with an existing corpus as ingest version 0 (index
    * only — no pairs are emitted for the seed, mirroring the other
    * gates). Not covered by a streaming checkpoint — re-run on failure.
    */
  def seedCorpus(docs: DataFrame, stateDir: String, p: Params = Params()): Unit =
    gate.seed(docs, stateDir, p)

  /** Process one ingest batch at `version` (streaming uses batchId+1):
    * emit the substring-overlap pairs it introduces — against the
    * accumulated corpus AND within the batch — and absorb its
    * fingerprints. Idempotent under replay of the same (batch, version).
    * Geometry is ADOPTED from the seed-time manifest; only idCol/textCol
    * come from the caller's `p0`.
    */
  def processBatch(batch: DataFrame, stateDir: String, version: Long,
                   p0: Params = Params()): Unit =
    gate.processBatch(batch, stateDir, version, p0)

  /** All substring-overlap pairs detected so far (`ingest_version`: the
    * detecting batch, a long).
    */
  def pairs(spark: SparkSession, stateDir: String): DataFrame = gate.pairs(spark, stateDir)

  /** Fold flat delta indexes below `uptoExclusive` into the seed layout
    * (the contract on `uptoExclusive`: [[IngestState.compactIndex]]).
    */
  def compactIndex(spark: SparkSession, stateDir: String, uptoExclusive: Long): Unit =
    gate.compactIndex(spark, stateDir, uptoExclusive)
}
