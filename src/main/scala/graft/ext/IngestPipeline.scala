package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.Bridge.sizedLocalCheckpoint
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The COMPOSED ingest gate chain — what a training-data system actually
  * runs at the door, per micro-batch: LM quality gate → exact dedup →
  * verbatim-overlap (substring) dedup, each stage consuming the previous
  * stage's survivors and probing state ACCUMULATED from everything
  * admitted before. The batch-contract analog of wiring
  * [[graft.stream.StreamLmGate]] → exact admission →
  * [[graft.stream.StreamSubstringGate]] in one `foreachBatch`; expressed
  * as a deterministic fold over ingestion waves so the whole state
  * machine is DuckDB-replayable (the `corpus_ingest_e2e` oracle unrolls
  * the waves).
  *
  * Per-doc verdict rules, in stage order (first failure wins — a doc
  * rejected by the LM never consumes dedup work, the whole point of
  * gate ordering by cost):
  *  - `lm_short`: fewer than 2 tokens — no bigrams, unscorable (CCNet
  *    drops these too).
  *  - `lm`: mean bigram surprisal above `maxAvgNllFrac · ln(V)` under
  *    the WAVE-0-trained model (static: a curated quality reference
  *    must not drift toward what passes it).
  *  - `exact`: md5(text) collides with an admitted doc, or with a
  *    smaller-id doc in the same batch (keep-first; equality is
  *    transitive, so min-per-signature IS sequential keep-first).
  *  - `substring`: shares ≥ `minShared` winnowed md5 L-gram
  *    fingerprints with some single admitted doc, or — among the
  *    batch's remaining docs — falls in a connected component of the
  *    pair graph and is not its minimum id (pairwise overlap is NOT
  *    transitive, so in-batch resolution is CC + min-id, the
  *    [[Dedup.dupClusters]] discipline both engines already replay).
  *  - `ok`: admitted; the doc's signature and fingerprints join the
  *    state every later wave probes.
  *
  * Execution discipline (learned at the 500k-doc bench corpus, where the
  * naive fold ran 1500 s): every per-wave DECISION frame is eagerly
  * checkpointed the moment it is decided, and everything downstream —
  * the next stage, the next wave, the fate assembly — derives from the
  * checkpointed ids plus a CHEAP re-scan of the raw batch, never from the
  * deciding pipeline's lineage. Without this each checkpoint/count
  * re-executed the whole wave pipeline (the winnow kernel ran 3-4× per
  * wave) and wave v+1's plan nested wave v's entirely (exponential in
  * nWaves; the driver OOM'd building the plan STRING). The checkpoints
  * carry their materialized size (`Bridge.sizedLocalCheckpoint`), so a
  * join against a small decided set plans as a broadcast from the start
  * instead of shuffling both sides before AQE replans it; sets above the
  * broadcast threshold keep their sort-merge joins. The hub set is
  * decided once per wave and read by both the cross probe and the
  * in-batch pairs. The batch's gram table is persisted across its
  * consumers (hub census, cross-probe, in-batch pairs, admitted-state
  * extraction) and dropped at wave end. This is also the honest
  * streaming analog: a real foreachBatch reads admitted state back from
  * parquet, not from lineage.
  */
object IngestPipeline {
  /** `md5Mode = true` (default) runs md5 text signatures and md5 winnowed
    * grams — the DuckDB-replayable encoding the `corpus_ingest_e2e`
    * oracle unrolls. `md5Mode = false` is the 100 TB deployment posture:
    * the xxhash64 codegen kernels (8-byte fingerprints, zero
    * per-position allocation). The two modes differ ONLY in hash
    * encoding, so per-doc fates are identical wherever both hash spaces
    * agree on gram equality (i.e. everywhere, modulo 64-bit collisions) —
    * IngestPipelineSpec pins that parity on the planted-overlap fixture.
    */
  def waveFates(docs: DataFrame, idCol: String, textCol: String,
                nWaves: Int = 3, maxAvgNllFrac: Double = 0.98,
                L: Int = 40, w: Int = 8, minShared: Int = 2,
                maxDf: Int = 1000, md5Mode: Boolean = true): DataFrame = {
    require(nWaves >= 2, "need a seed wave plus at least one ingest wave")
    val wave = pmod(col(idCol), lit(nWaves))
    def sigOf(c: org.apache.spark.sql.Column) =
      if (md5Mode) md5(c.cast("binary")) else xxhash64(c)
    def gramsOf(d: DataFrame) = SubstringDedup.winnowGrams(d, "id", "__t", L, w, md5Mode)
    val seed = docs.filter(wave === 0)
      .select(col(idCol).as("id"), col(textCol).as("__t"))
    val lm = TextLm.train(seed, "id", "__t")
    val ceiling = lm.ceiling(maxAvgNllFrac)

    // admitted-state frames: ids are checkpointed per wave; sigs/grams
    // derive from raw scans + those ids (cheap lineage), checkpointed so
    // later waves read blocks, not plans
    var admSigs = sizedLocalCheckpoint(seed.select(sigOf(col("__t")).as("sig")).distinct())
    var admGrams = sizedLocalCheckpoint(gramsOf(seed).select(col("id").as("aid"), col("h")))

    val fates = scala.collection.mutable.ListBuffer.empty[DataFrame]
    for (v <- 1 until nWaves) {
      val batch = docs.filter(wave === v)
        .select(col(idCol).as("id"), col(textCol).as("__t"))
      // ---- stage 1: LM quality (one execution: the scoring join)
      val lmVerdict = sizedLocalCheckpoint(batch
        .join(TextLm.scoreWith(lm, batch, "id", "__t")
          .select(col("id"), col("avg_nll")), Seq("id"), "left_outer")
        .select(col("id"),
          when(col("avg_nll").isNull, "lm_short")
            .when(col("avg_nll") > ceiling, "lm")
            .otherwise("pass").as("s1")))
      val lmPassIds = lmVerdict.filter(col("s1") === "pass").select("id")
      // ---- stage 2: exact dedup (cheap: batch re-scan + small id/sig sets)
      val batchSig = batch.join(lmPassIds, Seq("id"), "left_semi")
        .select(col("id"), sigOf(col("__t")).as("sig"))
      val exactFailIds = sizedLocalCheckpoint(
        batchSig.join(admSigs, Seq("sig"), "left_semi").select(col("id"))
          .unionByName(batchSig
            .join(batchSig.groupBy("sig").agg(min("id").as("__keep")), Seq("sig"))
            .filter(col("id") =!= col("__keep")).select(col("id")))
          .distinct())
      // ---- stage 3: substring overlap; the batch gram table feeds three
      // consumers — persist it for the wave
      val exactPass = batch.join(lmPassIds, Seq("id"), "left_semi")
        .join(exactFailIds, Seq("id"), "left_anti")
      val batchGrams = gramsOf(exactPass)
        .persist(StorageLevel.MEMORY_AND_DISK)
      // the shared substring probe; each decided step is checkpointed
      val admMatches = SubstringDedup.corpusMatches(admGrams, batchGrams)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val hubs = sizedLocalCheckpoint(SubstringDedup.hubGrams(admMatches, batchGrams, maxDf))
      val crossSubIds = sizedLocalCheckpoint(
        SubstringDedup.crossPairs(batchGrams, admMatches, hubs, minShared)
          .select(col("id")).distinct())
      // in-batch pairs only among the docs the cross probe kept
      val innerSubIds = sizedLocalCheckpoint(Dedup.dupClusters(SubstringDedup.innerPairs(
          batchGrams.join(crossSubIds, Seq("id"), "left_anti"), hubs, minShared, maxDf))
        .filter(col("id") =!= col("cluster_id")).select(col("id")))
      val subFailIds = crossSubIds.unionByName(innerSubIds)
      // ---- fates + admitted-state absorption (all from checkpointed ids)
      val admittedIds = sizedLocalCheckpoint(lmPassIds
        .join(exactFailIds, Seq("id"), "left_anti")
        .join(subFailIds, Seq("id"), "left_anti"))
      fates += lmVerdict.filter(col("s1") =!= "pass")
        .select(col("id"), col("s1").as("reason"))
        .unionByName(exactFailIds.select(col("id"), lit("exact").as("reason")))
        .unionByName(subFailIds.select(col("id"), lit("substring").as("reason")))
        .select(col("id"), lit(v).as("wave"), lit(0).as("admitted"), col("reason"))
        .unionByName(admittedIds.select(col("id"), lit(v).as("wave"),
          lit(1).as("admitted"), lit("ok").as("reason")))
      admSigs = admSigs.unionByName(sizedLocalCheckpoint(
        batchSig.join(admittedIds, Seq("id"), "left_semi").select("sig")))
      admGrams = admGrams.unionByName(sizedLocalCheckpoint(
        batchGrams.join(admittedIds, Seq("id"), "left_semi")
          .select(col("id").as("aid"), col("h"))))
      batchGrams.unpersist()
      admMatches.unpersist()
    }
    fates.reduce(_ unionByName _)
      .select(col("id").as(idCol), col("wave"), col("admitted"), col("reason"))
  }
}
