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
  * the partitioned seed), and the probe join's strategy is left to AQE:
  * a trigger-sized delta broadcasts by the size rule (corpus scanned
  * once, never shuffled), a wave-sized backfill shuffles — the same
  * code serves both regimes. Hub fingerprints are
  * dropped at probe time: a gram whose corpus+delta df exceeds `maxDf`
  * is template noise (license headers), and filtering it BEFORE the
  * pair join bounds per-gram fanout to maxDf — the hub set itself is
  * bounded by the delta's fingerprint count, never corpus-sized.
  * In-batch pairs go through the same capped posting-pair path as the
  * batch variant. Exactly-once replay is the shared [[IngestState]]
  * protocol's.
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
      if (p.md5Mode) SubstringDedup.md5WinnowGrams(docs, p.idCol, p.textCol, p.L, p.w)
      else SubstringDedup.xxWinnowGrams(docs, p.idCol, p.textCol, p.L, p.w)

    protected def verify(probe: IngestState.Probe, p: Params): DataFrame = {
      val deltaIdx = probe.deltaIdx
      // corpus rows matching a delta fingerprint. NO broadcast hint: a
      // trigger-sized delta's fingerprint set is broadcast by AQE's size
      // rule anyway, while a wave-sized backfill (the bench seeds 167k
      // docs ≈ 17M fingerprints per wave) must shuffle — a forced
      // broadcast there ran the executor out of BytesToBytesMap memory.
      // Letting the planner pick per batch IS the 100 TB posture: the
      // same code serves both regimes.
      // PERSISTED for the batch (the IngestPipeline admMatches discipline,
      // r14): cand feeds BOTH the hub census and the cross-pair join, and
      // an unpersisted plan re-ran the corpus-index probe join once per
      // consumer — at wave scale that is the two heaviest stages of the
      // whole batch executing twice (StageProf r14: 469 + 445 task-s on
      // near-identical join subtrees). At 100 TB the corpus index is the
      // big side; scanning and joining it once per batch instead of twice
      // is the difference that matters.
      val cand = probe.persist(
        probe.corpusIdx.join(deltaIdx.select(col("h")).distinct(), Seq("h"))
          .select(col("id").as("c_id"), col("h")))
      // hub cap at probe time: total df of h across corpus matches + the
      // delta itself; everything here is bounded by the delta's gram count.
      // hubs feeds the cross-pair anti join AND the in-batch posting path;
      // it is delta-bounded small, so persist it too rather than re-running
      // its two aggregations over cand per consumer.
      val hubs = probe.persist(cand.groupBy("h").agg(count(lit(1)).as("n_c"))
        .join(deltaIdx.groupBy("h").agg(count(lit(1)).as("n_d")), Seq("h"))
        .filter(col("n_c") + col("n_d") > p.maxDf)
        .select(col("h")))
      val crossPairs = cand.join(hubs, Seq("h"), "left_anti")
        .join(deltaIdx.select(col("id").as("d_id"), col("h")), Seq("h"))
        .select(least(col("c_id"), col("d_id")).as("id_a"),
          greatest(col("c_id"), col("d_id")).as("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= p.minShared)
      // in-batch pairs reuse the materialized delta fingerprints through
      // the capped posting-pair path, with the probe-time hub set removed
      // here too: a gram the CORPUS already proves to be template noise
      // must not pair docs within the batch either (a delta-only count
      // would miss hubs whose df is split across corpus and batch); grams
      // hot within the batch alone are nulled by the capped aggregate
      val innerPairs = SubstringDedup.postingPairs(
        deltaIdx.join(hubs, Seq("h"), "left_anti"),
        p.minShared, p.maxDf)
      crossPairs.unionByName(innerPairs)
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
