package graft.tools

import org.apache.spark.sql.SparkSession

/** Scale regression gate: measure how the heavy dedup/text/ANN paths
  * SCALE by running them at the bench corpus (sf0.1 → 500k docs / 200k
  * vectors) and at 4× that (an sf0.4-shaped dir → 2M docs / 800k
  * vectors), same warm JVM. Linear paths should show ~4× wall; anything
  * past its family threshold is a scale bug the 500k corpus hid.
  *
  * Output is the round's SCALE record (default [[DefaultOut]], under
  * `target/` so a default run never overwrites a committed record):
  * per-query base/4× WALL seconds and PHYSICAL-WORK seconds (task CPU +
  * GC), both ratios, the threshold, and pass/fail — a family passes if
  * its wall ratio is under threshold, or if its work ratio is under
  * threshold AND wall is within 2× of work (wall alone reads high on
  * box weather, ±20% measured run-to-run on heavy 4× legs; but a
  * parallelism-destroying regression inflates wall while work stays
  * linear, so low work alone must not rescue an unbounded wall) — and
  * the probe EXITS NONZERO on
  * any breach, so the two super-linear plans r5 caught and fixed
  * (quadratic fixed-plane embedding LSH at 25×, `text_contamination`'s
  * broadcast cliff at 10.5×) can never silently return. Thresholds are
  * calibrated from the r5 PERFORMANCE.md probe table with ~2× headroom
  * for box-load noise.
  *
  * Fixture SYNTHESIS is excluded from the timing: `ScaledFixtures
  * .ensure` runs before the clock, and probes with a registered
  * `prepare` hook (the mm_image family's PNG render) warm their input
  * corpus untimed — the probe measures the OPERATOR, not corpus
  * creation.
  *
  * Measurement design — one FRESH JVM PER FAMILY, learned over three
  * rounds of chasing the same ghost. A single long-lived JVM ages:
  * G1's heap layout and the JIT's deopt history after an hour of
  * allocation-heavy work inflate allocator-bound probes by 1.5-2.5×,
  * and the inflation is asymmetric (the 4× leg runs on the older
  * heap), so RATIOS flap while the code and the bench medians stay
  * flat. Measured instances, identical code each time:
  * mm_image_dedup_check 2.1× clean vs 4.9-7.4× as family #8 (r8,
  * MmDiag: taskGc 16 s of 376 s — not GC-bound, heap-age-bound);
  * dedup_substring_winnowed 3.28× clean vs 4.90 as family #15 (r9
  * diagnosis, PERFORMANCE.md); dedup_substring_gate 3.79× solo vs
  * 5.64 as family #17 and 5.36 as family #4. Ordering heuristics
  * (allocation-heavy families first) only moved the ghost around.
  * Forking a fresh JVM per family makes every measurement the
  * clean-session measurement by construction: the parent process
  * spawns one child per family (inheriting this JVM's flags and
  * classpath), each child times base then 4× back-to-back on a young
  * heap — family-major within the child still cancels what little age
  * a single family accrues — writes a JSON fragment, and the parent
  * merges fragments, gates thresholds, and writes the tracked record.
  * ~15 s of SparkSession startup per family is the price; it buys
  * ratios that are reproducible to ~10% instead of ~2×. Explicit GC
  * between families was tried and is WORSE: G1 uncommits the heap
  * after a full collection and the next probe crawls while it
  * re-expands (measured 103 s on a 25 s mm path).
  *
  * Usage: build an sf0.4-shaped dir of symlinks to the sf0.1 testdata
  * (ScaledFixtures keys the multiplier off the dir NAME), then
  *   SPARK_GRAFT_SCALE_DIRS=/root/testdata/sf0.1,/tmp/sfscale/sf0.4 \
  *     sbt "runMain graft.tools.ScaleProbe"
  * (the sbt-forked JVM becomes the parent; children are plain
  * `java -cp` re-invocations of this class with
  * SPARK_GRAFT_SCALE_CHILD=1). Every JVM's heap is the `-Xmx` sbt forks
  * with, `SPARK_DRIVER_MEM` in build.sbt.
  */
object ScaleProbe {
  private[tools] val DefaultOut = "target/SCALE.json"

  private val DefaultProbes = Seq(
    "mm_image_dedup_check",
    "dedup_substring_winnowed", "dedup_substring_winnowed_hub",
    "dedup_substring_gate_xx", "text_bpe_apply",
    "corpus_ingest_e2e_xx", "text_dup_span_stats", "changelog_compact_scaled",
    "dedup_vec_ingest_gate",
    "dedup_minhash_lsh", "dedup_clusters", "dedup_embedding_cosine",
    "text_quality", "text_contamination", "pack_sequences", "sim_ivf",
    "sim_decontaminate",
    "graph_pagerank", "text_bm25_search", "dedup_semantic", "sim_pq_rerank",
    "text_lm_score", "join_fuzzy", "text_nb_classifier", "corpus_mix_schedule",
    "corpus_dsir_select", "text_line_dedup", "text_line_dedup_xx",
    "corpus_epoch_shards")

  /** Probe-only queries (not part of the declared surface): stress shapes
    * the bijective scaled corpus cannot produce. The scaled replicas'
    * word rewrite makes token sets replica-disjoint BY DESIGN, so no
    * scaled query ever sees a cross-replica hub gram — which means the
    * posting-cap path (the r7 verdict's one 100 TB soft spot) was never
    * stressed at 4×. `dedup_substring_winnowed_hub` plants a fixed
    * 104-char boilerplate prefix on ~1% of docs AFTER scaling (5k docs
    * share it at base, 20k at 4× — df ≫ maxDf=1000 either way), so the
    * hub cap must absorb a mega-hub whose posting would be 20k ids if
    * materialized (r9 mechanism: the count window drops it before any
    * posting exists — 8 B of state); linear scaling here pins that
    * per-key state stays bounded while the planted non-hub pair volume
    * grows with the corpus.
    */
  private[graft] val ExtraProbes: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Map("dedup_substring_winnowed_hub" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      val hub = ('a' to 'z').mkString * 4 // 104 chars: 65 fully-shared 40-grams
      val planted = graft.core.Tables.load(s, d, "documents")
        .withColumn("text",
          when(col("doc_id") % 100 === 0, concat(lit(hub), col("text")))
            .otherwise(col("text")))
      graft.ext.SubstringDedup.winnowedGramPairs(planted, "doc_id", "text",
        L = 40, w = 8, minShared = 2)
    },
    // (corpus_ingest_e2e_xx graduated from ExtraProbes to a DECLARED
    // query in r11, exactly like dedup_substring_gate_xx in r10 — the
    // probe now measures the Catalog entry itself: the composed 3-wave
    // chain in production xxhash mode, the shape most likely to hide a
    // cross-wave super-linear term.)
    // changelog compaction + latest-per-key at CORPUS scale: the declared
    // changelog_latest_compacted runs over the fixed-size lineitem CDC
    // fixture, which the scaled dirs symlink unchanged — its 4× ratio is
    // identically ~1 and gates nothing (the cdc_bucketed_apply situation).
    // This probe reads the docs-proportional changelog [[prepare]]
    // synthesized UNTIMED (every version logs every key, 256-byte
    // payload), runs the real crash-safe compactChangelog rewrite, and
    // reads latest-per-key through readChangelog — the timed body is
    // compaction + latest ONLY, so the ratio measures the operator, not
    // fixture writes (the pre-r11 shape synthesized the changelog inside
    // the clock, diluting the signal the family claims to gate).
    "changelog_compact_scaled" -> { (s, d) =>
      val root = preparedRoots(("changelog_compact_scaled", d))
      graft.core.Pipeline.compactChangelog(s, root, Seq("doc_id"))
      graft.core.Changelog.latest(
        graft.core.Pipeline.readChangelog(s, root), Seq("doc_id"), "v")
    })

  /** Per-(family, leg-dir) fixture roots: created untimed in [[prepare]],
    * consumed by the family's timed body, deleted by [[cleanupProbe]]
    * after the leg's clock stops — the pre-r11 shape leaked one
    * full-corpus `graft_clcprobe` temp dir per warm pass and per leg
    * (r10 ADVICE; stale probe dirs have filled /tmp before).
    */
  private[graft] val preparedRoots =
    scala.collection.mutable.Map.empty[(String, String), String]

  /** Docs-proportional synthetic changelog: `versions` full snapshots of
    * the documents keys (the no-compaction worst case the reference's
    * append-only `{t}_changelog` table converges to), each row carrying a
    * 256-byte text payload — with a bare (key, long) schema the per-row
    * work was microseconds and constant JVM/job overhead dominated both
    * legs (the first cut measured ratio 0.6 — size-blind). `every`
    * thins the keys for the JIT warm pass.
    */
  private def synthChangelog(s: SparkSession, d: String,
                             versions: Int, keyStride: Int = 1): String = {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_clcprobe").toString
    val docs = graft.core.Tables.load(s, d, "documents")
      .filter(col("doc_id") % keyStride === 0)
      .select(col("doc_id"), length(col("text")).cast("long").as("len"),
        substring(col("text"), 1, 256).as("payload"))
    (1 to versions).foreach { v =>
      docs.withColumn("len", col("len") + v)
        .write.mode("overwrite").parquet(s"$root/changelog/v=$v")
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/VERSION"), versions.toString)
    root
  }
    // (dedup_substring_gate_xx graduated from ExtraProbes to a DECLARED
    // query in r10 — the probe now measures the Catalog entry itself.
    // The md5-mode dedup_substring_gate stays unprobed by design: see
    // the not-probed note below.)

  /** Wall-ratio ceiling at 4× data. A breach fails the run. */
  private val Thresholds: Map[String, Double] = Map(
    "dedup_minhash_lsh" -> 4.0,      // r5 measured 1.8×
    "dedup_clusters" -> 4.0,         // r5 measured 1.8×
    "dedup_embedding_cosine" -> 4.0, // PINNED r5 fix: fixed planes=18 was 25×
    "text_quality" -> 5.0,           // sub-second absolute → noise headroom
    "text_contamination" -> 4.0,     // PINNED r5 fix: broadcast cliff was 10.5×
    "pack_sequences" -> 4.5,         // r5 measured 1.9×
    "sim_ivf" -> 7.0,                // one-time √n-quantizer build term (r5: 4.6×)
    "mm_image_dedup_check" -> 4.5,   // r6 target after decode-buffer
                                     // reuse; holds when probed first
                                     // (clean-session ratio 2.1×) — see
                                     // the DefaultProbes ordering note
    "sim_decontaminate" -> 5.0,      // PINS the fixed-size benchmark: a
                                     // %-of-corpus set would scale 16×
    "graph_pagerank" -> 5.0,         // edge build linear; 74-node graph constant
    "text_bm25_search" -> 5.0,       // broadcast-term-pruned postings: linear
    "dedup_semantic" -> 6.0,         // PINS constant-k assignment: k = n/256
                                     // would make assignment O(n²) → ~12×
    "sim_pq_rerank" -> 5.0,          // constant train, linear encode+ADC
    "text_lm_score" -> 5.0,          // LM table vocab-sized; scoring join linear
    "dedup_substring_winnowed" -> 5.0, // PINS the r7 posting-list redesign:
                                     // winnow kernel linear in corpus bytes,
                                     // pair volume posting-bounded (the
                                     // self-join form shuffled 3× the grams)
    "dedup_substring_winnowed_hub" -> 5.0, // PINS the bounded-hub posting
                                     // path (r8 capped agg, r9 count-window
                                     // pre-filter): a 1%-of-corpus
                                     // boilerplate hub must cost O(1) state,
                                     // not a df-sized buffer — super-linear
                                     // here means hub state grew with df
    "text_bpe_apply" -> 5.0,         // merge cascade is map-side string
                                     // rewriting, zero shuffle — linear in
                                     // corpus bytes by construction
    "dedup_vec_ingest_gate" -> 5.0,  // the vector gate's PRODUCTION mode
                                     // (auto-sized xxhash hyperplanes) as a
                                     // round-over-round family — the declared
                                     // query, 38 s at bench scale, previously
                                     // measured only by a one-off
                                     // per-batch probe. Measured
                                     // r10: wall 0.95 / work 1.04 at 4× —
                                     // the prefix-partitioned state layout's
                                     // fixed per-prefix costs (3 waves ×
                                     // listing/footer/task floor) dominate
                                     // the data term at this corpus, so the
                                     // ratio is heavily constant-deflated
                                     // and 5.0 is conservative; the family
                                     // still gates the catastrophic class
                                     // (a fixed-planes regression would put
                                     // ~n²/2^18 ≈ 39G candidate pairs
                                     // through the 4× leg — far past any
                                     // constant). The delta-bounded
                                     // per-batch READ contract is pinned
                                     // separately (StreamVecDupSpec).
    "corpus_ingest_e2e_xx" -> 5.5,   // composed 3-wave gate chain: LM score
                                     // + exact sig + winnowed substring vs
                                     // accumulating admitted state; linear
                                     // per wave by design — super-linear
                                     // here means a cross-wave term
                                     // (admitted² join or lineage regrowth)
    "text_dup_span_stats" -> 5.0,    // count-window span stats: gram
                                     // kernel linear (3.93× CPU at 4×,
                                     // isolated r12), window exchange
                                     // explicitly data-proportional
                                     // since r12 (constant bytes per
                                     // sort partition), map-side
                                     // shuffle spill linear (10.7 →
                                     // 53 GB). Best-controlled warm
                                     // pair measured 3.0× CPU; COLD
                                     // single-leg ratios flapped
                                     // 3.4-6.8 across r10-r12 from CPU
                                     // accounting weather, which r12
                                     // briefly headroomed at 7.0. r13
                                     // (ADVICE r11): the family now
                                     // runs MEDIAN-OF-3 warm legs per
                                     // side ([[MedianLegs]]) so the
                                     // noise is averaged out instead
                                     // of widening the gate — back to
                                     // 5.0 over the controlled 3.0-
                                     // 3.5×; a real 4-6× super-linear
                                     // regression trips it again.
    "changelog_compact_scaled" -> 4.0, // compaction rewrite + latest window
                                     // over a 20-version docs-keyed log
                                     // (10M logged rows base, 40M at 4x).
                                     // r11 recalibration: with synthesis
                                     // moved out of the clock the timed
                                     // legs are seconds-scale, and a
                                     // ~25-50 s per-leg constant (first-
                                     // leg G1 heap expansion + JIT; file-
                                     // count and warm-pass-size changes
                                     // measured and ruled out) bounds the
                                     // honest ratio at ~2.1 (wall 2.13 /
                                     // work 2.15, reproduced twice). 4.0
                                     // = 1.9x headroom over measured, yet
                                     // bites: any super-linear term at 4x
                                     // data (a quadratic reads ~16x)
                                     // clears it by an order of magnitude
                                     // where the old unreachable 5.0-over-
                                     // ~1.0 gated only the catastrophic
    "join_fuzzy" -> 5.0,             // entity-resolution join, PRODUCTION
                                     // (xxhash) mode: gram explode and
                                     // minima are map-side linear; the
                                     // block-cap bounds candidates at
                                     // O(rows·bands·cap) so the verify
                                     // join must scale with the corpus,
                                     // never corpus² — super-linear here
                                     // means blocks outgrew the cap's
                                     // protection (e.g. a cap applied
                                     // after the join instead of before)
    "text_nb_classifier" -> 5.0,     // closed-form NB: train is one explode
                                     // + vocab-sized aggregates over the
                                     // 20% slice, scoring a shuffle_hash
                                     // join of corpus tokens against the
                                     // (constant) vocab table — linear in
                                     // corpus tokens by construction;
                                     // super-linear here means the weight
                                     // table stopped being vocab-bounded
    "corpus_dsir_select" -> 5.0,     // DSIR: two feature passes (each one
                                     // explode + a ≤4096-row aggregate),
                                     // a broadcast scoring join, and the
                                     // distributedRank two-phase scan —
                                     // all linear; super-linear means the
                                     // model stopped broadcasting or the
                                     // rank degenerated to a global sort
    "corpus_mix_schedule" -> 5.0,    // budgeted mixture schedule: two
                                     // passes of per-cell windows over
                                     // 16·n_sources hex-shard cells plus
                                     // two driver-sized collects — linear;
                                     // super-linear means the prefix scan
                                     // degenerated to one-task-per-source
                                     // sorts (the shape the sharding
                                     // exists to prevent)
    "text_line_dedup" -> 5.0,        // cross-doc line boilerplate drop
                                     // (family 27, VERDICT r12 missing
                                     // #3): boilerplate lines are hub
                                     // keys BY DEFINITION — the planted
                                     // header/footer lines appear in
                                     // every doc of a source, so their
                                     // df counts are the skew case the
                                     // probe exists for. The plan keeps
                                     // hub state O(1) per key (distinct
                                     // (k,id) with map-side combine,
                                     // then count per key — never a
                                     // per-key id list), the drop is a
                                     // left-anti keyed join, reassembly
                                     // groups by doc id (state bounded
                                     // by doc size). All three
                                     // exchanges data-proportional —
                                     // super-linear here means a hub
                                     // key started buffering its
                                     // occurrence list
    "text_line_dedup_xx" -> 5.0,     // the PRODUCTION mode (8-byte
                                     // xxhash64 line keys) as its own
                                     // family — the substring-family
                                     // rule that the probe must measure
                                     // the production wire, not the md5
                                     // oracle gear; same plan shape as
                                     // text_line_dedup modulo key width
    "corpus_epoch_shards" -> 5.0,    // family 29 (VERDICT r13 #3): the
                                     // full-corpus md5 RANGE SORT through
                                     // Packing.distributedRank — the
                                     // newest exchange-heavy shape. Range
                                     // partition on the md5 key + per-
                                     // partition counts to the driver
                                     // (O(#partitions) state) + offset-
                                     // broadcast row_number: linear by
                                     // construction. Super-linear here
                                     // means a skewed range boundary, a
                                     // driver-offset blowup, or the rank
                                     // degenerating to a one-task global
                                     // window — all invisible at sf0.1
    "dedup_substring_gate_xx" -> 5.0) // the streaming gate's whole state
                                     // machine in PRODUCTION (xxhash)
                                     // mode: seed (⅓ of the corpus —
                                     // 167k docs at base, 667k at 4×) +
                                     // two wave backfills probed against
                                     // the accumulating index. Per-batch
                                     // cost must track delta grams ×
                                     // match volume (both linear in the
                                     // corpus), never corpus²: the probe
                                     // joins are pb-pruned and hub-capped
                                     // before the pair join
  // NOT probed, deliberately:
  //  - cdc_bucketed_apply: the 4× dir symlinks the same orders table, so
  //    its ratio is identically ~1 and gates nothing — its 1024-file
  //    commit regression is pinned by the file-count assertion in
  //    ContinuousApplyBucketedSpec instead.
  //  - dedup_semantic_md5: its 6 axis-sign cells skew hard on the
  //    correlated bench embeddings (measured: the in-cell pair join runs
  //    ~n·cap/2 pairs ≈ 10+ min at 800k rows), which is the DESIGNED
  //    trade — the fixed deterministic assignment exists for DuckDB
  //    replayability at oracle scale, not as the corpus-scale path. Its
  //    correctness gate is the oracle; its scale machinery
  //    (clusterDupPairs' census-sized sub-split) is probed through
  //    dedup_semantic, which shares the exact code path.
  //  - dedup_substring_exact: measured ONCE at 4× in r11 (idle box,
  //    fresh JVM): wall 171.0 → 1017.3 s (5.95×), work 4783 → 27649 s
  //    (5.78×) — mildly super-linear by the same quantified md5-hex-key
  //    mechanism as the gate's md5 mode below, far from the ~16× a
  //    pair-volume blow-up would read (the capped postings hold). Audit
  //    gear by design; its ~28 min 4× leg per round would re-measure a
  //    root-caused mechanism already gated through the production-side
  //    families (gate_xx, winnowed), and its bench median (~210 s) is
  //    tracked per round. Full table in PERFORMANCE.md r11.
  //  - dedup_substring_gate (md5Mode): same oracle-gear situation as
  //    dedup_semantic_md5 — the declared query hardwires md5Mode so
  //    DuckDB can replay the state machine, and md5 mode carries every
  //    gram through the shuffles and joins as a 32-byte HEX STRING
  //    where production carries an 8-byte long. r9 MmDiag at 4×: wall
  //    7.4×, taskCpu 8.1×, taskGc 1.5% of taskRun — super-linear CPU
  //    from string-keyed hash tables at 4× key cardinality in fixed
  //    memory (cache-resident at base, DRAM-random + spill merges at
  //    4×), not GC, not a joint-volume blowup (PERFORMANCE.md r9 gate
  //    section). Its correctness gate is the oracle; the state
  //    machinery it shares with production (pb-pruned probes, hub
  //    caps, versioned layout) is probed through
  //    dedup_substring_gate_xx above.
  private val DefaultThreshold = 6.0

  /** Families whose single-leg ratios are dominated by spill-cliff /
    * CPU-accounting noise run each side this many times and gate on the
    * MEDIAN (wall, work) pair — averaging the weather out instead of
    * widening the threshold (ADVICE r11 on the span-stats 5.0 → 7.0
    * loosening, now reverted). Repeats after the first are warm legs of
    * the identical plan; the median discards the one-off JIT/spill
    * outlier either direction.
    *
    * CONTRACT (ADVICE r12, pinned by ScaleProbeContractSpec): a MedianLegs
    * family must be pure recompute — NOT QueryCache-memoized (warm legs
    * would measure ~0 and gut the gate), NOT scratch-state-writing (a
    * second leg would collide with or replay over the first's state),
    * and NOT [[prepare]]-fixtured (cleanupProbe runs once after ALL
    * legs, so a per-leg fixture would be consumed by leg 1 only). The
    * spec re-derives all three properties from the query itself rather
    * than trusting this comment.
    */
  private[graft] val MedianLegs: Map[String, Int] = Map(
    "text_dup_span_stats" -> 3)


  /** Untimed per-probe preparation: materialize input corpora that are
    * fixture synthesis, not the operator under test. The changelog
    * family additionally runs a compaction+latest warm pass over a 5%
    * key slice: its jobs are seconds-scale, so on a fresh child JVM the
    * FIRST leg's cost is dominated by JIT/classloading (~60-90 s of
    * one-time work — measured by swapping leg order: base-first read
    * 30.5 s base / 18.1 s 4×, 4×-first read 9.4 s 4× / 2.6 s base),
    * which inverts the ratio; the warm pass makes both legs steady-state
    * measurements. Its real per-leg fixture lands in [[preparedRoots]]
    * for the timed body; [[cleanupProbe]] deletes it after the leg.
    */
  private[graft] def prepare(name: String, spark: SparkSession, dir: String): Unit = {
    if (name.startsWith("mm_image")) graft.queries.Catalog.warmImageMedia(spark, dir)
    if (name == "changelog_compact_scaled") {
      // full-shape warm: SAME version count and plan as the timed body
      // over 10% of the keys (~1M logged rows at base) — a 3-version 5%
      // warm left the base leg running interpreted/C1 code (its 4.4 s
      // finished before C2 landed; per-row task CPU measured 2× the 4×
      // leg's, deflating the work ratio to 2.0)
      val warm = synthChangelog(spark, dir, versions = 20, keyStride = 10)
      try {
        graft.core.Pipeline.compactChangelog(spark, warm, Seq("doc_id"))
        graft.core.Changelog.latest(
            graft.core.Pipeline.readChangelog(spark, warm), Seq("doc_id"), "v")
          .write.format("noop").mode("overwrite").save()
      } finally graft.core.Pipeline.deleteRecursively(
        java.nio.file.Paths.get(warm))
      // 20 versions × every key: ~10M logged rows at base, ~40M at 4× —
      // sized so the timed compact+latest data term (~1 s per 1.5M rows
      // measured warm) dominates the ~0.5 s of fixed job/scan constants
      // that deflated the 3-version ratio to ~1.6× (r10 verdict #4: the
      // 5.0 threshold was unreachable and the family gated nothing).
      // This is also the shape compaction EXISTS for: a long-accumulated
      // append-only log collapsing to key-cardinality output.
      preparedRoots((name, dir)) = synthChangelog(spark, dir, versions = 20)
    }
  }

  /** Post-leg cleanup: delete the leg's prepared fixture root (outside
    * the clock — deletion of a corpus-sized temp tree is not part of the
    * operator either).
    */
  private def cleanupProbe(name: String, dir: String): Unit =
    preparedRoots.remove((name, dir)).foreach(r =>
      graft.core.Pipeline.deleteRecursively(java.nio.file.Paths.get(r)))

  def main(args: Array[String]): Unit = {
    val dirs = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIRS",
      "/root/testdata/sf0.1").split(",").toSeq
    val probes = sys.env.get("SPARK_GRAFT_SCALE_PROBES")
      .map(_.split(",").toSeq).getOrElse(DefaultProbes) ++ args
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", DefaultOut)
    if (sys.env.contains("SPARK_GRAFT_SCALE_CHILD")) runFamilies(probes, dirs, outPath)
    else runParent(probes.distinct, dirs, outPath)
  }

  /** Parent: one fresh JVM per family (see the measurement-design
    * scaladoc), then merge the per-family fragments into the tracked
    * record and gate the thresholds. Children inherit this JVM's flags
    * (-Xmx, add-opens, the GCLocker retry mitigation) and classpath, so
    * `sbt runMain` posture carries through.
    */
  private def runParent(probes: Seq[String], dirs: Seq[String], outPath: String): Unit = {
    import scala.jdk.CollectionConverters._
    require(dirs.size >= 2, "parent mode needs base,x4 dirs in SPARK_GRAFT_SCALE_DIRS")
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getPath
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-Xrunjdwp"))
    val cp = System.getProperty("java.class.path")
    val fragDir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get("target", "scale-frag"))
    // SPARK_GRAFT_SCALE_RESUME=1 reuses fragments already on disk —
    // after a mid-run death (one child OOM'd 40 min into the first
    // dual-ratio run), the finished families' measurements survive.
    val resume = sys.env.contains("SPARK_GRAFT_SCALE_RESUME")
    val fragments = probes.map { name =>
      val frag = fragDir.resolve(s"$name.json").toFile
      def readFrag() =
        new String(java.nio.file.Files.readAllBytes(frag.toPath), "UTF-8")
      def attempt(): Int = {
        frag.delete()
        val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp,
          "graft.tools.ScaleProbe")).asJava
        val pb = new ProcessBuilder(cmd).inheritIO()
        pb.environment().put("SPARK_GRAFT_SCALE_CHILD", "1")
        pb.environment().put("SPARK_GRAFT_SCALE_PROBES", name)
        pb.environment().put("SPARK_GRAFT_SCALE_OUT", frag.getPath)
        pb.start().waitFor()
      }
      if (resume && frag.isFile) {
        println(s"[scale] reusing fragment for $name")
        name -> readFrag()
      } else {
        var exit = attempt()
        if (exit != 0 || !frag.isFile) {
          // one retry on a fresh JVM: a heap-marginal leg can die on GC
          // weather (measured: the gate's 4× leg passed twice at
          // 444-577 s, then OOM'd on an identically-configured run)
          System.err.println(s"[scale] child for $name died (exit $exit) — retrying once")
          exit = attempt()
        }
        if (exit == 0 && frag.isFile) name -> readFrag()
        else {
          // record the failure and keep probing: one family must not
          // cost the other 17 their measurements. The synthesized
          // fragment is a threshold breach, so the run still exits 1.
          System.err.println(s"[scale] child for $name died twice (exit $exit) — recording as breach")
          val thr = Thresholds.getOrElse(name, DefaultThreshold)
          name -> s"""{"queries":{"$name":{"error":"child died twice (exit $exit)","ratio":9999.000,"threshold":$thr,"ok":false}}}"""
        }
      }
    }
    val json = spliceFragments(fragments, dirs.head, dirs.last)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    println(s"[scale] wrote $outPath (${probes.size} families, fresh JVM each)")
    val bs = breaches(json)
    bs.foreach { case (n, r, t) =>
      System.err.println(s"[scale] BREACH: $n ratio $r exceeds threshold $t")
    }
    if (bs.nonEmpty) sys.exit(1)
  }

  /** Splice per-family fragment JSONs into one tracked record. Each
    * fragment is `{"base_dir":…,"x4_dir":…,"queries":{ INNER }}` (our
    * own writer's format — the inner object is the only nested brace
    * pair after the marker); a fragment whose inner object is not the
    * expected family fails loudly rather than producing a silently
    * misattributed record. Separated from runParent for the spec.
    */
  private[tools] def spliceFragments(fragments: Seq[(String, String)],
                                     baseDir: String, x4Dir: String): String = {
    val marker = "\"queries\":{"
    val inner = fragments.map { case (name, txt) =>
      val at = txt.indexOf(marker)
      require(at >= 0 && txt.lastIndexOf("}}") > at, s"fragment for $name malformed: $txt")
      val body = txt.substring(at + marker.length, txt.lastIndexOf("}}")).trim
      require(body.startsWith("\"" + name + "\""), s"fragment for $name malformed: $body")
      body
    }
    inner.mkString(s"""{"base_dir":"$baseDir","x4_dir":"$x4Dir","queries":{""", ",", "}}")
  }

  /** The family gate (see the runFamilies comment): wall under
    * threshold passes; a wall breach is rescued by work only when work
    * is under threshold AND wall stays within 2× of work. Separated out
    * for the spec — the unconditional min(wall, work) gate it replaces
    * silently masked parallelism-destroying regressions (wall 20×, work
    * 4×) behind a linear work ratio.
    */
  private[tools] def gatePass(wallRatio: Double, workRatio: Double, thr: Double): Boolean =
    wallRatio <= thr || (workRatio <= thr && wallRatio <= 2.0 * workRatio)

  /** (family, ratio, threshold) rows whose `ok` flag is false. The
    * field scan excludes BOTH braces (`[^{}]*`) so a match can't start
    * at the top-level `"queries":{` key and tunnel into the first
    * family's fields — which misreported the breach name as `queries`
    * whenever the FIRST family breached (r10 advisor finding; exit code
    * was already correct either way).
    */
  private[tools] def breaches(json: String): Seq[(String, String, String)] = {
    val re = """[{,]"([a-z0-9_]+)":\{[^{}]*"ratio":([0-9.]+),"threshold":([0-9.]+),"ok":false""".r
    re.findAllMatchIn(json).map(m => (m.group(1), m.group(2), m.group(3))).toSeq
  }

  /** Child (SPARK_GRAFT_SCALE_CHILD=1): time the given families in this
    * JVM and write the fragment. Also the single-JVM path for manual
    * subset runs; threshold breaches are recorded in the JSON (`"ok"`)
    * but never exit nonzero — the parent gates.
    */
  private def runFamilies(probeSeq: Seq[String], dirs: Seq[String], outPath: String): Unit = {
    val probes = probeSeq
    // physical-work meter: task CPU + GC, summed over every task of the
    // leg's StageMetrics window. Wall on a shared box measures
    // weather as much as work — r9 measured the winnowed family's 4×
    // WALL leg at 181 s and 223 s on back-to-back fresh-JVM runs
    // (±20%) while its task-CPU ratio held within a few percent. The
    // gate therefore takes min(wall_ratio, work_ratio): weather can't
    // fake a breach, and a genuinely super-linear plan (the r5
    // quadratics the probe exists to catch) inflates BOTH.
    // Every probe child measures with the SORT-BASED shuffle writer on
    // BOTH legs. Mechanism (root-caused r13, closing three rounds of
    // span-stats ratio flapping): Spark flips from the bypass-merge
    // writer to the sort-based writer when a shuffle's reduce partitions
    // exceed spark.shuffle.sort.bypassMergeThreshold (200). The probe's
    // own scaled-family posture puts EVERY AQE exchange's initial count
    // at 128 on the base leg (bypass) and 512 on the 4× leg (sort-based:
    // serialize + radix sort + spill merge) — and span-stats' explicit
    // data-proportional repartition lands at 65 vs 257 — so the 4× legs
    // were paying a WRITER TRANSITION the base legs never paid, read as
    // super-linear family ratios while the operators are linear
    // (span-stats decomposition in PERFORMANCE.md r13: kernel 2.9×,
    // shuffle 26× → 4.9× writer-pinned, window 3.75×). At 100 TB the
    // partition count is ~1.5M — sort-based is the only real posture, so
    // pinning it on both legs measures the deployment asymptote instead
    // of a small-scale writer cliff. Core conf, so it must be set at
    // session creation; fork-per-family keeps Bench and tests on the
    // default writer (at bench scale bypass is legitimately the fast
    // path, exactly as a small deployment would run it).
    val spark = graft.Session.builder(graft.Session.cores)
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .getOrCreate()
    // one-time corpus prep, before any clock: replicate the 4× dir,
    // report sizes
    val scaledOf = dirs.map { dir =>
      val scaled = graft.queries.ScaledFixtures.ensure(spark, dir)
      val nDocs = spark.read.parquet(s"$scaled/documents.parquet").count()
      println(s"[scale] $dir -> $scaled ($nDocs docs)")
      dir -> scaled
    }.toMap
    // times(query)(dir) = (wall, work) seconds, work = task CPU + GC.
    // FAMILY-major: base and 4× of a family run back-to-back at the
    // same JVM age (see scaladoc).
    val times = probes.distinct.map { name =>
      name -> dirs.map { dir =>
        val scaled = scaledOf(dir)
        // measure each family STANDALONE: evict every resident block
        // (QueryCache persists, checkpoint blocks) before the clock
        // starts. Earlier families' caches are 4× larger on the 4× side,
        // so leaving them resident skews ratios two ways — the r6 probe
        // measured a phantom 11.5× on untouched dedup_minhash_lsh
        // (eviction thrash at the dir switch) and a phantom 6× on
        // mm_image_dedup_check (decode scan under storage pressure;
        // MmDiag measured the same path at 3.5× standalone, GC 2% of
        // task time)
        spark.catalog.clearCache()
        // mirror Bench's family-scoped partition posture, scaled WITH
        // the leg's data: docs/embeddings families start shuffles at
        // 128 partitions at the bench corpus and proportionally more on
        // the 4× leg (512), so bytes-per-partition stay constant and
        // AQE coalesces the small ones back. This is the same fix
        // twice: with a global 32 the span-stats window sorted ~60M
        // rows per partition on the 4× leg and its spill merge passes
        // read as a fake 5.4× work ratio (r10); with a fixed 128 the
        // SAME window was borderline at 4× bytes-per-partition and the
        // spill cliff tipped run-to-run (r11: 3.84×, r12 first cut:
        // 5.71× wall / 5.06× work). A fixed partition count is a
        // posture no 100 TB deployment would run — partition count is
        // sized by the data, exactly as Bench does for these queries.
        val mult = graft.queries.ScaledFixtures.multiplier(dir)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
          if (graft.queries.ScaledFixtures.appliesTo(name) ||
            name == "changelog_compact_scaled")
            math.max(128, 128 * mult / 100).toString
          else "32")
        try prepare(name, spark, scaled)
        catch { case e: Throwable =>
          System.err.println(s"[scale] prepare($name) failed: ${e.getMessage}")
        }
        def timedLeg(): (Double, Double) = {
          // the window opens and closes on a drained listener bus: a heavy
          // prepare's late task-end events (the changelog synthesis writes
          // tens of millions of rows) are not billed to the timed body (the
          // r10 probe read work 28 s against wall 2.1 s when they were),
          // and no task of the body is missed
          val (t, m) = graft.observe.StageMetrics.measure(spark) {
            val t0 = System.nanoTime()
            // materialize through the noop sink exactly like Bench: count()
            // lets Catalyst PRUNE projected expressions, so a pure-projection
            // probe (e.g. text_quality) would time only the parquet scan
            ExtraProbes.getOrElse(name, graft.SparkEntry.queries(name))(spark, scaled)
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          (t, m.totals.cpuNs / 1e9 + m.totals.gcMs / 1e3)
        }
        // noisy families run several legs and gate on the MEDIAN pair
        // (sorted by wall; the work of the median-wall leg stays paired
        // with it so the dual-ratio gate sees one coherent measurement)
        val samples = (1 to MedianLegs.getOrElse(name, 1)).map(_ => timedLeg())
        cleanupProbe(name, scaled)
        val (t, work) = samples.sortBy(_._1).apply((samples.size - 1) / 2)
        if (samples.size > 1) samples.zipWithIndex.foreach { case ((lt, lw), i) =>
          println(f"[scale]   leg ${i + 1}/${samples.size} $name%-24s $lt%8.1f s  (work $lw%8.1f s)")
        }
        println(f"[scale] ${new java.io.File(dir).getName}%-8s $name%-24s $t%8.1f s  (work $work%8.1f s)")
        dir -> (t, work)
      }.toMap
    }.toMap
    spark.stop()
    if (dirs.size >= 2) {
      val (baseDir, bigDir) = (dirs.head, dirs.last)
      def ms(x: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, x)
      val rows = probes.distinct.map { name =>
        val (base, workBase) = times(name)(baseDir)
        val (big, workBig) = times(name)(bigDir)
        val ratio = if (base > 0) big / base else Double.PositiveInfinity
        val workRatio = if (workBase > 0) workBig / workBase else Double.PositiveInfinity
        val thr = Thresholds.getOrElse(name, DefaultThreshold)
        // the gate: wall under threshold passes outright. A low WORK
        // ratio rescues a wall breach only when wall stays within 2× of
        // work — box weather inflates wall ±20% while task CPU holds
        // (the r9 motivation for dual ratios), but a regression that
        // DESTROYS PARALLELISM (plan collapsing to one partition, a
        // serialized driver loop) inflates wall super-linearly while
        // per-task CPU+GC stays ~linear, so an unconditional
        // min(wall, work) gate would silently mask exactly that class
        // (r10 advisor finding). The 2× bound also limits the damage of
        // listener under-counting: a dropped-event-deflated work ratio
        // now drags the wall bound DOWN with it instead of widening the
        // escape hatch.
        (name, base, big, ratio, workBase, workBig, workRatio, thr,
          gatePass(ratio, workRatio, thr))
      }
      val json = rows.map { case (n, b, x4, r, wb, wx, wr, t, ok) =>
        s""""$n":{"base_sec":${ms(b)},"x4_sec":${ms(x4)},"work_base_sec":${ms(wb)},""" +
          s""""work_x4_sec":${ms(wx)},"work_ratio":${ms(wr)},""" +
          s""""ratio":${ms(r)},"threshold":$t,"ok":$ok}"""
      }.mkString(
        s"""{"base_dir":"$baseDir","x4_dir":"$bigDir","queries":{""", ",", "}}")
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (json + "\n").getBytes("UTF-8"))
      println(s"[scale] wrote $outPath")
      rows.filter(!_._9).foreach { case (n, _, _, r, _, _, wr, t, _) =>
        System.err.println(
          f"[scale] BREACH: $n wall ratio $r%.1f over threshold $t%.1f and not rescued by work ratio $wr%.1f (needs work<=thr and wall<=2*work)")
      }
    }
  }
}
