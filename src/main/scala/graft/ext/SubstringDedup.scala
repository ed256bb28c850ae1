package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact substring-duplication detection (extension beyond reference
  * parity, SURVEY.md §7.5): find documents sharing verbatim character
  * runs of length ≥ L — the "exact substring dedup" of Lee et al. 2022
  * (Deduplicating Training Data Makes Language Models Better), which
  * catches boilerplate and quotation overlap that whole-document and
  * bag-of-words dedup miss. The published recipe builds a corpus-wide
  * suffix array; the distributed shape here is the standard
  * fingerprint-index alternative (Karp-Rabin grams + winnowing, the
  * MOSS/Schleimer et al. 2003 construction), which shards over any
  * number of executors with plain hash partitioning.
  *
  * Two variants:
  *  - [[sharedGramPairs]]: EVERY position's L-gram is indexed — exact
  *    (no sampling gap) and replayable in DuckDB, the oracled gate.
  *    Gram volume is Σ(len-L+1) ≈ corpus chars — linear, but with a
  *    large constant; right for gate-scale corpora and for auditing a
  *    suspect slice.
  *  - [[winnowedGramPairs]]: robust-winnowed sampling — each window of
  *    `w` consecutive grams contributes its minimum hash, so any shared
  *    run of length ≥ L+w-1 chars still collides on at least one
  *    fingerprint (the winnowing guarantee), with ~2/(w+1) of the gram
  *    volume. The 100 TB path. The per-doc scan is ONE codegen'd
  *    expression ([[org.apache.spark.sql.graft.WinnowedFingerprints]]:
  *    rolling byte-window xxhash + monotonic-deque minima) — the HOF
  *    formulation it replaces allocated a w-element slice per position
  *    (~1G array copies at bench scale).
  *
  * Scale shape (reworked r7, r8 — each against an sf0.1 bench
  * measurement): grams go straight into ONE size-capped distinct-set
  * aggregation keyed by fingerprint — the posting-list form. Pairs are
  * generated inside each posting list (sorted, all i<j), so the whole
  * operator is one gram-volume shuffle plus one pair-volume shuffle.
  * The first cut (distinct → persisted index → self-join) shuffled the
  * gram volume THREE times and leaked its persisted index into the
  * next query's memory budget — measured 6.7× interference. Hub
  * fingerprints (boilerplate in more docs than `maxDf` — the MOSS
  * noise threshold: a gram in 10k docs identifies a template, not a
  * pair) are dropped INSIDE the aggregation (r8): the size-capped
  * distinct-set aggregate nulls a posting the moment it passes
  * `maxDf`, so per-key state is O(maxDf) even for a gram present in
  * every document, and pair fanout is bounded to maxDf²/2. (An r9
  * count-window variant measured ~15% faster when it worked but OOM'd
  * nondeterministically — the full story is in [[postingPairs]]'s
  * scaladoc.)
  */
object SubstringDedup {
  /** Posting-list pair counting shared by both variants: grams →
    * per-fingerprint distinct doc set (one shuffle, map-side partial
    * sets) → all i<j pairs within each sorted posting → per-pair
    * shared-fingerprint count.
    *
    * The hub cap (df > maxDf ⇒ template noise, not a pair signal) is
    * enforced INSIDE the aggregate: [[graft.functions.text
    * .capped_distinct_longs]] returns NULL the moment a fingerprint's
    * posting passes maxDf and holds at most maxDf ids of state per key
    * at any point — a boilerplate gram present in 10⁸ docs costs one
    * sticky boolean, not a 10⁸-element buffer. (r7 shipped
    * `collect_set` + a size filter AFTER the agg, which materialized
    * the full hub posting first — the one 100 TB soft spot the r7
    * verdict flagged.)
    *
    * An r9 experiment replaced this aggregate with [[dupSpanStats]]'s
    * count-window + survivor-only collect_list (df computed in 8 B/key,
    * hubs never buffered). It measured 159 s vs 188 s on
    * `dedup_substring_exact` when it worked — but Catalyst fuses the
    * gram-volume sort, the window, both collect_list aggregates and
    * the pair explode's partial aggregate into ONE post-shuffle stage
    * (a `repartition(h)` barrier is silently removed by
    * CollapseRepartition — the rows are already hash(h)-partitioned),
    * and that four-consumer stage threw UNABLE_TO_ACQUIRE_MEMORY
    * depending on JVM state: the r9 full bench lost
    * `dedup_substring_winnowed` to it and solo re-runs lost
    * `dedup_substring_exact`, while identical code passed in a fresh
    * spark-shell. An eager localCheckpoint barrier made it robust but
    * cost 279 s — the "survivor sliver" is tens of millions of rows at
    * bench scale, too big to materialize for a ~15% win. The hash
    * aggregate keeps the whole pipeline in one robust stage: partial
    * maps spill, no gram-volume sort, two full benches with zero
    * failures. The window shape remains right for [[dupSpanStats]],
    * whose downstream is a thin per-doc sum, not posting collection.
    *
    * An r10 experiment tried a df≥2 BLOOM PREFILTER: pass 1 counts df
    * per fingerprint (8 B/key state), a broadcast Bloom of the df≥2
    * set filters a re-scanned gram stream, and only possibly-pairing
    * grams reach this aggregate (exactness preserved — Bloom has no
    * false negatives; false positives die at the size≥2 filter).
    * Measured at sf0.1: `dedup_substring_exact` 211 → 248 s (+17%),
    * `dedup_substring_winnowed` 49 → 53 s — the count pass's full
    * gram-volume shuffle plus the second gram scan cost MORE than the
    * singleton agg state they save (this aggregate's per-key buffer is
    * lazily sized and singletons stay cheap; the r9 window experiment's
    * 15% came from eliminating the sort, not the buffers). Reverted;
    * don't retry a two-pass shape unless the first pass can avoid
    * shuffling the full gram volume (per-partition pre-filtering
    * cannot — a df-2 gram may sit one copy per partition).
    */
  private[graft] def postingPairs(grams: DataFrame, minShared: Int,
                           maxDf: Int): DataFrame = {
    val posts = grams.groupBy("h")
      .agg(graft.functions.text.capped_distinct_longs(col("id"), maxDf).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
    val ids = col("ids") // already sorted by the aggregate's eval
    val combos = flatten(transform(
      sequence(lit(1), size(ids) - 1),
      i => transform(slice(ids, i + 1, size(ids) - i),
        j => struct(element_at(ids, i).as("id_a"), j.as("id_b")))))
    posts.select(explode(combos).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Doc pairs sharing ≥ `minShared` distinct L-char gram fingerprints,
    * with the shared count. Exact: every position indexed — the xxhash
    * winnow kernel with w = 1, whose 1-window minimum is the position
    * itself. Three generations of this index at bench scale: hex-md5
    * rows OOM'd the 8g driver (5× the bytes); `unhex` binary rows fixed
    * memory but still evaluated an explode→substring→md5 SQL chain per
    * position and shuffled positions pre-dedup; the kernel form hashes
    * bytes in place and dedups BEFORE the exchange. Fingerprints are
    * xxhash64 (the MOSS/Karp-Rabin discipline — 64-bit false-collision
    * odds at 10⁹ grams ≈ n²/2⁶⁵, far below the minShared threshold's
    * noise floor); the DuckDB oracle keeps its own md5 grams — only id
    * pairs and counts cross engines, so the encoding is free to differ.
    */
  def sharedGramPairs(docs: DataFrame, idCol: String, textCol: String,
                      L: Int = 40, minShared: Int = 5,
                      maxDf: Int = 1000): DataFrame =
    postingPairs(winnowGrams(docs, idCol, textCol, L, 1, md5Mode = false), minShared, maxDf)

  /** Per-document duplication profile (the corpus metric of Lee et al.
    * 2022): for every position, is its L-gram present in ≥ 2 distinct
    * documents? Returns (id, n_grams, n_dup, dup_frac) — the signal a
    * pipeline thresholds to drop boilerplate-heavy documents, and the
    * aggregate a corpus report tracks over time.
    *
    * The gram stream is scanned ONCE and shuffled ONCE: the per-(doc,
    * gram) position counts are computed INSIDE the scan by the
    * [[org.apache.spark.sql.graft.GramFingerprintCounts]] kernel (the
    * relational form shuffled every position to count them, then the
    * distinct volume again), the exchange carries one pre-counted row
    * per distinct (doc, gram), and "gram in ≥ 2 docs" is an unordered
    * COUNT window over the same h-partitioned rows (the kernel emits
    * one row per distinct doc, so the partition count IS the
    * distinct-doc count) — never a posting list, 8 bytes of state per
    * key whatever the df. Two earlier shapes at the 500k-doc bench:
    * r7's per-h `collect_list` + explode put a hub gram's whole posting
    * in one aggregation buffer (the unbounded-state defect the r7
    * verdict flagged); the first r8 cut counted per h and semi-joined
    * back, but Catalyst's column pruning made the two gram subtrees
    * differ (h-only vs full rows), defeating exchange reuse — the
    * kernel ran twice and the gram volume shuffled twice (65-79 s; the
    * window form runs 35 s). n_grams needs no gram pass at all — it is
    * octets−L+1 by construction, the SAME byte basis the kernel
    * windows (char-based length disagreed on multibyte text: n_dup
    * could exceed n_grams).
    */
  def dupSpanStats(docs: DataFrame, idCol: String, textCol: String,
                   L: Int = 40, docCount: Long = -1L): DataFrame = {
    // NOTE (ADVICE r11): sizing the exchanges needs the corpus row count
    // at PLAN-CONSTRUCTION time. Callers that know it (or hold a
    // filtered/derived input where a count is a full extra pass) should
    // pass `docCount`; with the default -1 this runs an eager
    // docs.count() job per construction.
    val nDocs = if (docCount >= 0L) docCount else docs.count()
    // ~1950 docs per partition (r15; was 7800): the r12 sizing targeted
    // ~64 MB of sorter input per task, but the regenerated bench corpus
    // carries ~4× the decompressed gram bytes per doc and the r15 stage
    // profile read the window stage at 25.8 GB spill / 1473 task-s on 65
    // partitions (≈400 MB of sorter working set per task vs the ~90-140
    // MB of execution memory a 32-thread 8g JVM gives each task). 4× the
    // partitions puts per-task sorter state back under the no-spill
    // line; the rule stays data-proportional (at 100 TB it sizes ~6M
    // partitions — the same posture, just honest about row width).
    val nParts = math.max(32, math.ceil(nDocs / 1950.0).toInt)
    val base0 = docs.filter(octet_length(col(textCol)) >= L)
      .select(col(idCol).as("id"), col(textCol).as("__t"))
    // MAP-side volume must also be data-proportional: each doc explodes
    // to ~octets−L+1 gram rows, and a map task holding 4× the docs runs
    // the shuffle-write sorter over 4× the records in fixed memory —
    // super-linear spill merging (measured r13: the 4× probe leg spent
    // 73 task-CPU-s in the gram shuffle vs 13 at base with the SAME
    // sort-based writer, because the 32-file scaled corpus pinned the
    // explode to 32 map tasks at any scale). On a real cluster the
    // 128 MB scan splits already hold docs-per-task constant, so spread
    // only when the input is materially narrower than the target — a
    // wide scan skips the extra corpus shuffle entirely. Re-measured
    // with the spread: 4× leg 182 → 130 s, family ratio 3.1-3.9×.
    val base =
      if (base0.rdd.getNumPartitions * 2 <= nParts) base0.repartition(nParts)
      else base0
    val grams = base
      .select(col("id"),
        explode(graft.functions.text.gram_fingerprint_counts(col("__t"), L)).as("g"))
      .select(col("id"), col("g.h").as("h"), col("g.cnt").as("cnt"))
    // The window's exchange is EXPLICITLY partitioned, count sized by
    // the corpus (~7.8k docs' gram rows ≈ one 64 MB sort partition), so
    // bytes-per-partition — and with them the window sorter's working
    // set per task — stay CONSTANT as the corpus grows. Leaving the
    // count to the session posture let the sorter cross its spill cliff
    // super-linearly: the r12 probe read the 4× leg at 7.4× warm task
    // CPU (96 GB spilled vs 10.7 at base) because AQE's 64 MB advisory
    // target normalizes COMPRESSED shuffle bytes, and these rows (two
    // longs and an int of near-random bits) decompress to ~4× that in
    // sorter memory. Re-measured with the explicit rule: 3.0× CPU /
    // 3.7× wall at 4× data — linear. At 100 TB the same rule sizes
    // ~1.5M partitions, exactly how a deployment would run it.
    val dup = grams.repartition(nParts, col("h"))
      .withColumn("nd", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .filter(col("nd") >= 2)
      .groupBy("id").agg(sum(col("cnt")).as("n_dup"))
    base.select(col("id"),
        (octet_length(col("__t")) - (L - 1)).cast("long").as("n_grams"))
      .join(dup, Seq("id"), "left_outer")
      .select(col("id").as(idCol), col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_frac", round(col("n_dup") / col("n_grams"), 6))
  }

  /** Robust-winnowed fingerprints: position i survives iff its hash is
    * the window minimum of positions [i, i+w). Any verbatim run of
    * ≥ L+w-1 chars shares at least one surviving fingerprint between
    * its copies. The whole per-doc scan (byte-window xxhash + deque
    * minima + dedup) is one codegen'd expression; the shuffle sees only
    * the ~2/(w+1) survivors.
    */
  def winnowedGramPairs(docs: DataFrame, idCol: String, textCol: String,
                        L: Int = 40, w: Int = 8, minShared: Int = 2,
                        maxDf: Int = 1000): DataFrame =
    postingPairs(winnowGrams(docs, idCol, textCol, L, w, md5Mode = false), minShared, maxDf)

  /** The ORACLE GATE for the winnowed path: same winnow semantics —
    * every w-gram window contributes its minimum hash — but over md5
    * CHAR-gram hashes both engines compute identically (the
    * `dedup_semantic_md5` discipline: only the fingerprint encoding
    * differs from production, the selection logic and posting-pair path
    * are exercised end-to-end and cross-engine checked). Tie-break-free
    * by construction: windows contribute their min VALUE, not a
    * position, so the winnowed set needs no rightmost/leftmost rule and
    * a window SQL replay (DuckDB `min() OVER (ROWS BETWEEN CURRENT ROW
    * AND w-1 FOLLOWING)`) reproduces it exactly. Docs with fewer than w
    * grams contribute the min of all their grams (one partial window).
    */
  def winnowedGramPairsMd5(docs: DataFrame, idCol: String, textCol: String,
                           L: Int = 40, w: Int = 8, minShared: Int = 2,
                           maxDf: Int = 1000): DataFrame =
    postingPairs(winnowGrams(docs, idCol, textCol, L, w, md5Mode = true), minShared, maxDf)

  // ---- The incremental substring probe: a batch's grams against an
  // accumulated index of admitted grams, the per-batch probe of
  // *Distributed Streaming Set Similarity Join* (ICDE 2020). One
  // implementation serves the batch ingest chain
  // ([[IngestPipeline.waveFates]]) and the streaming gate
  // ([[graft.stream.StreamSubstringGate]]); each caller materializes the
  // steps its own way (decided-set checkpoints vs per-batch persists).

  /** The winnowed (id, h) fingerprint rows of `docs`, one codegen'd
    * kernel call per doc. `md5Mode` picks the encoding: md5 char grams
    * ([[org.apache.spark.sql.graft.Md5WinnowedFingerprints]]), which a
    * DuckDB replay reproduces, or the production xxhash64 kernel
    * (8-byte fingerprints, zero per-position allocation). The md5 kernel
    * replaced a HOF formulation (gram array → per-position slice-min)
    * that allocated a w-slice per position and measured ~3× the xxhash
    * kernel's wall at the 500k-doc bench corpus. Selection logic and
    * every downstream step are identical in both modes. The kernels
    * window BYTES, so the length gate is in bytes too: a doc under L
    * octets has no windows (char length() would disagree on multibyte
    * text).
    */
  private[graft] def winnowGrams(docs: DataFrame, idCol: String, textCol: String,
                                 L: Int, w: Int, md5Mode: Boolean): DataFrame = {
    val fp =
      if (md5Mode) graft.functions.text.md5_winnowed_fingerprints(col(textCol), L, w)
      else graft.functions.text.winnowed_fingerprints(col(textCol), L, w)
    docs.filter(octet_length(col(textCol)) >= L)
      .select(col(idCol).as("id"), explode(fp).as("h"))
  }

  /** The admitted rows `corpus(aid, h)` whose fingerprint occurs in
    * `batch(id, h)`: (h, aid). Every batch gram's admitted join partners
    * are by definition in it, so the hub census and the cross pairs both
    * read this one frame — a caller should materialize it rather than
    * let each consumer re-run the probe join. At 100 TB the admitted
    * index is the corpus-sized side; scanning and joining it once per
    * batch instead of twice is the difference that matters (unshared,
    * the r14 StageProf read 469 + 445 task-s on near-identical join
    * subtrees). No broadcast hint: a trigger-sized batch's fingerprint
    * set broadcasts by AQE's size rule anyway, while a wave-sized
    * backfill (~17M fingerprints) must shuffle — a forced broadcast
    * there ran the executor out of BytesToBytesMap memory.
    */
  private[graft] def corpusMatches(corpus: DataFrame, batch: DataFrame): DataFrame =
    corpus.join(batch.select(col("h")).distinct(), Seq("h"))

  /** The probe-time hub cap: fingerprints whose admitted + batch df
    * exceeds `maxDf` are template noise (license headers, boilerplate),
    * not a pair signal. Removing them BEFORE the pair joins bounds
    * per-gram fanout to maxDf, so one boilerplate gram absorbed into
    * admitted state cannot fan out O(admitted df) per batch. The set is
    * bounded by the batch's distinct fingerprints, never corpus-sized;
    * both pair steps read it, so a caller materializes it once. At
    * oracle scale (total docs < maxDf) the cap never binds, so the
    * uncapped DuckDB replays are unaffected.
    */
  private[graft] def hubGrams(matches: DataFrame, batch: DataFrame, maxDf: Int): DataFrame =
    matches.groupBy("h").agg(count(lit(1)).as("n_c"))
      .join(batch.groupBy("h").agg(count(lit(1)).as("n_d")), Seq("h"))
      .filter(col("n_c") + col("n_d") > maxDf)
      .select(col("h"))

  /** (id, aid, n_shared): batch docs sharing ≥ `minShared` non-hub
    * fingerprints with one admitted doc.
    */
  private[graft] def crossPairs(batch: DataFrame, matches: DataFrame, hubs: DataFrame,
                                minShared: Int): DataFrame =
    batch.join(hubs, Seq("h"), "left_anti")
      .join(matches, Seq("h"))
      .groupBy("id", "aid").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** (id_a, id_b, n_shared) within `grams`, through the capped posting
    * path, with the probe-time hub set removed: a gram the admitted
    * index already proves to be template noise must not pair docs
    * within the batch either (a batch-only count would miss hubs whose
    * df is split across corpus and batch); grams hot within the batch
    * alone are nulled by the capped aggregate.
    */
  private[graft] def innerPairs(grams: DataFrame, hubs: DataFrame, minShared: Int,
                                maxDf: Int): DataFrame =
    postingPairs(grams.join(hubs, Seq("h"), "left_anti"), minShared, maxDf)
}
