package graft.ext

import scala.jdk.CollectionConverters._
import graft.core.Diff
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Deduplication operators for large-scale training-data pipelines
  * (extension beyond reference parity, SURVEY.md §7.5).
  *
  * Scale design: per-document signatures (shingles → MinHash → bands,
  * SimHash) are computed with higher-order array functions — `transform` /
  * `array_min` / `aggregate` — entirely map-side, with NO explode and NO
  * shuffle until the final candidate bucket join. At 100 TB that means one
  * pass over the corpus producing a few dozen bytes per doc, then a join
  * keyed on band buckets whose fan-in AQE handles (skewed buckets are
  * exactly what AQE skew-join splitting is for).
  */
object Dedup {
  /** Exact dedup: group identical texts by md5 and flag every row that is
    * not the minimal id of its group. Window-min avoids a groupBy+join
    * (one shuffle on the hash key instead of two).
    */
  def exactFlags(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sig = md5(col(textCol).cast("binary"))
    val w = Window.partitionBy("text_sig")
    docs.select(col(idCol), sig.as("text_sig"))
      .withColumn("keep_id", min(col(idCol)).over(w))
      .withColumn("is_dup", (col(idCol) =!= col("keep_id")).cast("int"))
      .select(col(idCol), col("text_sig"), col("is_dup"))
  }

  /** Word n-gram shingles of a whitespace-tokenized text, as an array
    * column. Empty array when the text has fewer than n words. Backed by
    * the native single-pass [[org.apache.spark.sql.graft.NgramShingles]]
    * kernel — the historical split → sequence → transform → concat_ws
    * HOF pipeline is CodegenFallback (interpreted, re-evaluated per
    * consumer) and dominated every shingle-exploding query at corpus
    * scale. Output is element-for-element identical (DedupSpec).
    */
  def wordShingles(textCol: Column, n: Int): Column =
    graft.functions.text.ngram_shingles(textCol, n)

  /** MinHash signature: k "permutations" realized as md5(i|shingle) with
    * the lexicographic min as the sketch value. Using md5-of-salted-string
    * (instead of Spark's murmur `hash`) keeps the signature reproducible
    * in any engine with md5 — which is what makes the DuckDB oracle for
    * the LSH query possible.
    */
  def minhash(shinglesCol: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(shinglesCol, s => md5(concat(lit(s"$i|"), s))))
    }: _*)

  /** Per-doc MinHash+LSH signature table: (id, band_0..band_{b-1}).
    *
    * Three implementations were measured; this uses the third:
    *  1. pure higher-order functions ([[minhash]]) — interpreted
    *     (CodegenFallback), re-evaluates the shingle array per
    *     permutation, ~50× slower;
    *  2. explode shingles → k codegen'd salted md5s → groupBy(doc) min —
    *     codegen'd but materializes words×1 rows and shuffles k partial
    *     minima per doc;
    *  3. the native [[graft.functions.text.minhash_sig]] expression —
    *     the whole signature computed map-side inside the scan stage,
    *     ZERO shuffle at any corpus size (DedupSpec asserts the plan has
    *     no Exchange). Identical output to both (same md5 semantics,
    *     proven by the shared DuckDB oracle and DedupSpec equivalence).
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, k: Int = 8, bands: Int = 2): DataFrame = {
    // the no-shingles gate runs on the INPUT (r15): `minhash_sig(...)
    // IS NOT NULL` on the alias gets pushed below the Project with the
    // alias substituted, and Filter/Project don't share subexpression
    // elimination — the whole k×shingles md5 kernel evaluated TWICE per
    // row (the ADVICE r14 FuzzyJoin shape). The kernel returns null
    // EXACTLY when split(text, " ", -1) has fewer than `shingleN`
    // elements (MinHashSig scaladoc), so this predicate selects the
    // identical rows (null text: both forms drop it).
    val m = docs
      .filter(size(split(col(textCol), " ", -1)) >= shingleN)
      .select(col(idCol),
        graft.functions.text.minhash_sig(col(textCol), shingleN, k).as("__mh"))
    val rows = k / bands
    val bandCols = (0 until bands).map { b =>
      md5(concat_ws("|", (0 until rows).map(r => element_at(col("__mh"), b * rows + r + 1)): _*))
        .as(s"band_$b")
    }
    m.select(col(idCol) +: bandCols: _*)
  }

  /** LSH candidate pairs: docs sharing at least one band bucket.
    * unpivot(bands) → self-join on bucket → distinct pairs. The join is
    * the only shuffle; bucket skew is handled by AQE.
    */
  def lshCandidatePairs(sigs: DataFrame, idCol: String): DataFrame = {
    val bandCols = sigs.columns.filter(_.startsWith("band_")).toSeq
    val exploded = sigs.select(col(idCol).as("id"),
      explode(array(bandCols.map(col): _*)).as("bucket"))
    val a = exploded.as("a")
    val b = exploded.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
  }

  /** 64-bit SimHash over whitespace tokens: per bit b, sum ±1 across token
    * xxhash64 bits; bit set where the sum is positive. Pure expression
    * (nested `aggregate`), map-side only.
    */
  def simhash64(textColName: String): Column = {
    // expr-string form: lambda-heavy nesting is clearer in SQL syntax.
    // Lambda variable names are prefixed __sh to avoid capturing columns
    // of the same name (SQL lambda vars shadow column references).
    val t = s"`$textColName`"
    expr(
      s"""aggregate(sequence(0, 63), 0L, (__sh_acc, __sh_bit) -> __sh_acc | if(
         |  aggregate(split($t, ' '), 0L,
         |    (__sh_a, __sh_w) -> __sh_a +
         |      if(((xxhash64(__sh_w) >> __sh_bit) & 1) = 1, 1L, -1L)) > 0,
         |  shiftleft(1L, __sh_bit), 0L))""".stripMargin)
  }

  /** Bulk SimHash table (id, simhash) via the native codegen'd
    * [[graft.functions.text.simhash64]] expression — the whole sketch
    * computed map-side inside the scan stage, zero shuffle. (Two earlier
    * forms measured and replaced: the interpreted nested-aggregate
    * [[simhash64]] HOF, and an explode(words) → explode(64 bits) → two
    * groupBy plan that blew each doc up 64× through two shuffles.)
    */
  def simhashTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // null texts dropped, matching the previous explode form (a generator
    // over split(null) emitted no rows) — not carried as null sketches
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        graft.functions.text.simhash64(col(textCol)).as("simhash"))

  /** Hamming distance between two simhashes (near-dup test: dist <= r). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidate pairs, end-to-end: 64-bit sketches
    * ([[simhashTable]], map-side) → block on `bands` 16-bit sub-keys (a
    * pair within hamming distance r < bands must agree exactly on at
    * least one band — pigeonhole) → exact hamming verify ≤ `maxDist` on
    * candidates only. Never all-pairs: the block join is the only
    * shuffle, skew handled by AQE like the MinHash band join.
    */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          maxDist: Int = 3, bands: Int = 4): DataFrame = {
    require(bands > 0 && 64 % bands == 0 && maxDist < bands)
    val width = 64 / bands
    val sigs = simhashTable(docs, idCol, textCol)
    val blocked = sigs.select(col(idCol).as("id"), col("simhash"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * width)
            .bitwiseAND(lit((1L << width) - 1)).as("key"))): _*)).as("blk"))
    val a = blocked.as("a")
    val b = blocked.as("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming(col("a.simhash"), col("b.simhash")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** Oracle-reproducible SimHash: 60-bit signature from per-word md5
    * (15 hex chars → 60 bits, per-hex-digit extraction — mirrored
    * verbatim in the DuckDB oracle, the same cross-engine discipline the
    * salted-md5 MinHash uses). One explode + ONE wide partial aggregate
    * (60 small int sums, map-side combined) per document; ties s_b == 0
    * set the bit to 0 on both engines. The engine-internal xxhash
    * [[simhashTable]] stays the production path — this variant exists so
    * the SimHash family has a cross-engine t2 gate.
    */
  def simhashMd5Table(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = docs.select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .select(col(idCol), md5(col("w")).as("m"))
    val digits = (0 until 15).map(j =>
      conv(substring(col("m"), j + 1, 1), 16, 10).cast("int").as(s"d$j"))
    val wd = words.select(col(idCol) +: digits: _*)
    val sums = (0 until 60).map { b =>
      sum(when(shiftright(col(s"d${b / 4}"), b % 4).bitwiseAND(lit(1)) === 1, 1)
        .otherwise(-1)).as(s"s$b")
    }
    wd.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
      .select(col(idCol),
        (0 until 60).map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash60"))
  }

  /** Near-dup pairs over the md5 SimHash — same banded pigeonhole shape
    * as [[simhashNearDupPairs]] (4 bands × 15 bits, maxDist < bands).
    */
  def simhashMd5Pairs(docs: DataFrame, idCol: String, textCol: String,
                      maxDist: Int = 3): DataFrame = {
    require(maxDist < 4)
    val (bands, width) = (4, 15)
    val sigs = simhashMd5Table(docs, idCol, textCol)
    val blocked = sigs.select(col(idCol).as("id"), col("simhash60"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash60"), b * width)
            .bitwiseAND(lit((1L << width) - 1)).as("key"))): _*)).as("blk"))
    val a = blocked.as("a")
    val b = blocked.as("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming(col("a.simhash60"), col("b.simhash60")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** Jaccard similarity of the distinct word sets of two texts. */
  def wordJaccard(a: Column, b: Column): Column = {
    val wa = array_distinct(split(a, " "))
    val wb = array_distinct(split(b, " "))
    val inter = size(array_intersect(wa, wb)).cast("double")
    round(inter / (size(wa) + size(wb) - inter), 6)
  }

  /** Asymmetric n-gram CONTAINMENT scoring of LSH candidate pairs:
    * containment(A→B) = |A∩B| / |A| over distinct word sets — the metric
    * that catches sub-document duplication (one doc mostly quoted inside
    * a larger one), where symmetric Jaccard dilutes below any threshold
    * as the containing doc grows (Broder 1997's resemblance vs
    * containment distinction). Candidates still come from the banded
    * MinHash index, so verify cost stays ∝ band collisions, never
    * corpus²; a pair is emitted when EITHER direction's containment
    * clears `threshold`, carrying both directions + Jaccard so the
    * caller sees which relation held.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double, shingleN: Int = 3, k: Int = 8,
                       bands: Int = 4): DataFrame = {
    val sigs = minhashSignatures(docs, idCol, textCol, shingleN, k, bands)
    val cands = lshCandidatePairs(sigs, idCol)
    val a = docs.select(col(idCol).as("id_a"), col(textCol).as("__ta"))
    val b = docs.select(col(idCol).as("id_b"), col(textCol).as("__tb"))
    val wa = array_distinct(split(col("__ta"), " "))
    val wb = array_distinct(split(col("__tb"), " "))
    val inter = size(array_intersect(wa, wb)).cast("double")
    cands.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        round(inter / size(wa), 6).as("cont_a_in_b"),
        round(inter / size(wb), 6).as("cont_b_in_a"),
        round(inter / (size(wa) + size(wb) - inter), 6).as("jaccard"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
  }

  /** Duplicate-cluster resolution: connected components over candidate
    * pairs (from LSH / simhash / cosine). Each doc is labelled with the
    * smallest id reachable from it, which becomes the cluster's
    * canonical representative. Returns `(id, cluster_id)`, one row per
    * distinct id of `pairs`; a null id keeps a null label and joins
    * nothing.
    *
    * Two regimes, chosen on the counted symmetric edge list by the one
    * small-relation rule ([[Diff.collectIfSmall]]).
    *  - Small: the edges are collected and a min-root union-find runs on
    *    the driver, comparing ids with Catalyst's ordering for their type
    *    (the ordering `min` uses). The result is a local relation. At the
    *    10 MB default this holds at most about 330k long-id pairs on the
    *    driver. An ingest batch's in-batch pair graph is this size: two
    *    jobs (the count and the collect) instead of a shuffle loop.
    *  - Large: iterative min-label propagation. Per iteration one join +
    *    one aggregate on the edge list, a hook of each label's own label
    *    and a pointer-jump, giving O(log n) rounds — 20 covers chains of
    *    ~10^6 (a shuffled-id chain of 200k nodes converges in 16). Label
    *    frame checkpointed per round, edges reused. Label checkpoints
    *    stay unsized: sized, the co-partitioned round joins plan as
    *    broadcasts (ingest-gate round 1 measured 4 → 7 stages).
    * Both regimes return the same rows (DedupSpec).
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    // persist BEFORE counting: the edge list's lineage is the whole
    // upstream candidate pipeline (LSH signatures + verify), and an
    // uncached count would run it once for the count and again for the
    // collect or the first round
    val symP = sym.persist()
    val nEdges = symP.count()
    val src = symP.schema("src")
    Diff.collectIfSmall(symP, Some(nEdges)) match {
      case Some(edges) =>
        symP.unpersist()
        spark.createDataFrame(unionFindClusters(edges, src.dataType).asJava,
          StructType(Seq(src.copy(name = "id"), src.copy(name = "cluster_id"))))
      case None => propagateLabels(symP, nEdges, maxIter)
    }
  }

  /** Min-root union-find over a symmetric edge list `(src, dst)`: one
    * `(id, cluster_id)` row per distinct non-null `src`, labelled with
    * its component's minimum under Catalyst's ordering, plus `(null,
    * null)` when a `src` is null. Ids are keyed by that ordering, so
    * equal ids meet whatever their JVM form (binary ids included).
    */
  private def unionFindClusters(edges: Array[Row], idType: DataType): Seq[Row] = {
    val toKey = CatalystTypeConverters.createToCatalystConverter(idType)
    val toId = CatalystTypeConverters.createToScalaConverter(idType)
    val rank = new java.util.TreeMap[Any, Integer](PhysicalDataType.ordering(idType))
    for (e <- edges if !e.isNullAt(0)) rank.put(toKey(e.get(0)), 0)
    // rank = position in id order, so a component's least rank is its minimum
    val keys = new Array[Any](rank.size)
    var n = 0
    rank.entrySet.forEach { en => keys(n) = en.getKey; en.setValue(n); n += 1 }
    val parent = Array.range(0, n)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    for (e <- edges if !e.isNullAt(0) && !e.isNullAt(1)) {
      val a = find(rank.get(toKey(e.get(0))))
      val b = find(rank.get(toKey(e.get(1))))
      if (a < b) parent(b) = a else parent(a) = b
    }
    val nullRow = if (edges.exists(_.isNullAt(0))) Seq(Row(null, null)) else Nil
    keys.indices.map(i => Row(toId(keys(i)), toId(keys(find(i))))) ++ nullRow
  }

  /** [[dupClusters]]' large regime over the persisted symmetric edge
    * list `symP` of `nEdges` rows; unpersists it.
    */
  private def propagateLabels(symP: DataFrame, nEdges: Long, maxIter: Int): DataFrame = {
    val spark = symP.sparkSession
    // size the iteration parallelism from the edge count: the CC loop
    // runs 4-5 shuffle stages per round, and a fixed 32-partition layout
    // makes tiny graphs pay ~100 task launches per round for kilobytes of
    // data. One partition per ~500k edges (capped at the cluster's
    // parallelism) keeps rounds 1-task cheap at bench scale and fully
    // parallel at 100 TB scale, where the edge list is delta-sized but
    // still huge.
    val p = math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong,
      nEdges / 500000L + 1L)).toInt
    val edges = symP.repartition(p, col("src")).persist()
    // localCheckpoint per round: without it the logical plan nests one
    // full copy of itself per iteration and planning alone OOMs
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .repartition(p, col("id"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val propagated = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst").as("id2")).agg(min("label").as("nbr_label"))
      val stepped = labels.join(propagated, labels("id") === col("id2"), "left_outer")
        .select(col("id"), col("label").as("__old"), col("nbr_label"))
      // hooking: a node's neighbour minimum also lowers the label OF its
      // label, so a whole tree moves at once. Without it a chain over
      // shuffled ids needs O(diameter) rounds (200 nodes: 57, past
      // maxIter; with it, 8)
      val hooks = stepped.groupBy(col("__old").as("hid")).agg(min("nbr_label").as("hook"))
      val relabeled = stepped.join(hooks, col("id") === col("hid"), "left_outer")
        .select(col("id"), col("__old"),
          least(col("__old"), col("nbr_label"), col("hook")).as("label"))
      // pointer jumping (path halving): adopt the label OF my label, so
      // the members of a hooked tree follow its root
      val lut = relabeled.select(col("id").as("lid"), col("label").as("llabel"))
      // LAZY localCheckpoint + count: the round's single action both
      // materializes the checkpoint blocks (count covers every
      // partition) and answers convergence — one driver round-trip per
      // iteration instead of the eager-checkpoint-then-isEmpty pair,
      // which at bench scale was half the loop's wall clock
      val updated = relabeled.as("x")
        .join(lut, col("x.label") === col("lid"), "left_outer")
        .select(col("x.id").as("id"), col("__old"),
          least(col("x.label"), coalesce(col("llabel"), col("x.label"))).as("label"))
        .localCheckpoint(false)
      converged = updated.filter(col("label") =!= col("__old")).count() == 0
      labels = updated.drop("__old")
      iter += 1
    }
    edges.unpersist()
    symP.unpersist()
    labels.withColumnRenamed("label", "cluster_id")
  }

  /** Cross-modal dedup composition: merge per-signal duplicate groupings
    * (each a per-item `(id, label)` frame — e.g. text-LSH clusters and
    * perceptual-image-hash groups) into ONE connected-component
    * clustering by unioning each signal's STAR edge set (member ↔ its
    * group label) and re-running [[dupClusters]].
    *
    * Star edges preserve each signal's connectivity exactly while
    * keeping the union edge list LINEAR in corpus size — a k-member
    * group contributes k-1 edges, never k² pairs — so arbitrarily many
    * signals compose at 100 TB without a quadratic blow-up. This is the
    * resolution shape a real training pipeline runs: a document is a
    * duplicate if ANY modality says so, and the final keep-best picks
    * one representative per merged component.
    */
  def composeSignals(signals: Seq[DataFrame]): DataFrame = {
    val edges = signals.map { s =>
      s.filter(col("id") =!= col("label"))
        .select(col("label").as("id_a"), col("id").as("id_b"))
    }.reduce(_ unionByName _)
    dupClusters(edges)
  }

  /** LSH bucket index of a corpus: one (id, bucket) row per band per doc.
    * This is the PERSISTABLE dedup artifact — written once when the corpus
    * is committed (a few dozen bytes per doc), then probed by
    * [[incrementalVerifiedPairs]] at every ingest so the corpus is never
    * re-sketched. Maintenance under CDC is row-keyed: upsert the delta's
    * index rows, anti-join out deleted ids — same algebra as the snapshot.
    */
  def lshIndex(docs: DataFrame, idCol: String, textCol: String,
               shingleN: Int = 3, k: Int = 8, bands: Int = 4): DataFrame = {
    val sigs = minhashSignatures(docs, idCol, textCol, shingleN, k, bands)
    val bandCols = sigs.columns.filter(_.startsWith("band_")).toSeq
    sigs.select(col(idCol).as("id"),
      explode(array(bandCols.map(col): _*)).as("bucket"))
  }

  /** Incremental near-dup detection: verified near-dup pairs that touch a
    * DELTA of newly-ingested docs, probing a pre-built corpus
    * [[lshIndex]]. Only the delta is sketched (map-side native
    * expression); candidates are delta×index plus delta×delta bucket
    * joins; exact word-set Jaccard verifies candidates only, fetching the
    * two texts by id. Per-ingest cost is ∝ delta size + bucket
    * collisions — independent of corpus size except for the keyed
    * text-fetch join, exactly what a 100 TB pipeline needs at ingest
    * time. Contract: corpus and delta id sets are disjoint (CDC
    * classification upstream guarantees this for `new` rows).
    * Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    */
  def incrementalVerifiedPairs(corpusIndex: DataFrame, corpusDocs: DataFrame,
                               delta: DataFrame, idCol: String, textCol: String,
                               threshold: Double, shingleN: Int = 3, k: Int = 8,
                               bands: Int = 4,
                               deltaIndex: Option[DataFrame] = None,
                               broadcastDelta: Boolean = false): DataFrame = {
    // deltaIndex short-circuits the sketch when the caller has already
    // materialized the batch's index (StreamNearDup persists it anyway) —
    // the dc/dd self-join references the delta index three times, so a
    // materialized input evaluates the sketch once, not thrice.
    // broadcastDelta: when the delta is micro-batch-sized (the streaming
    // ingest gate — trigger-bounded by construction), broadcasting it
    // makes the delta×corpus probe a broadcast hash join, so the corpus
    // index side is scanned but NEVER shuffled, whatever its size.
    val deltaIdx = deltaIndex.getOrElse(lshIndex(delta, idCol, textCol, shingleN, k, bands))
    probePairs(corpusIndex, corpusDocs, delta,
      if (broadcastDelta) broadcast(deltaIdx) else deltaIdx, Seq("bucket"),
      idCol, textCol, "__t", "jaccard", wordJaccard, threshold)
  }

  /** The incremental candidate probe both [[incrementalVerifiedPairs]]
    * and [[incrementalEmbeddingPairs]] run: candidates are delta×index
    * plus delta×delta joins on the collision columns `keys`; the
    * payloads (`payCol`, aliased `<alias>a`/`<alias>b`) are fetched by
    * id for candidates only and `score`d, and pairs scoring below
    * `threshold` are dropped. Output: (id_a, id_b, `scoreName`) with
    * id_a < id_b.
    */
  private def probePairs(corpusIndex: DataFrame, corpusPayload: DataFrame,
                         delta: DataFrame, deltaIdx: DataFrame, keys: Seq[String],
                         idCol: String, payCol: String, alias: String, scoreName: String,
                         score: (Column, Column) => Column, threshold: Double): DataFrame = {
    def on(l: String, r: String) = keys.map(k => col(s"$l.$k") === col(s"$r.$k")).reduce(_ && _)
    val d = deltaIdx.as("d")
    val dc = d.join(corpusIndex.as("ci"), on("d", "ci"))
      .select(least(col("d.id"), col("ci.id")).as("id_a"),
        greatest(col("d.id"), col("ci.id")).as("id_b"))
    val dd = d.join(deltaIdx.as("e"), on("d", "e") && col("d.id") < col("e.id"))
      .select(col("d.id").as("id_a"), col("e.id").as("id_b"))
    // self-pairs appear only when corpus and delta overlap — i.e. a
    // replayed ingest batch whose rows were already absorbed into the
    // index. Dropping them (plus the distinct) makes such a replay
    // reproduce exactly the original pairs: idempotent by construction.
    val cands = dc.filter(col("id_a") =!= col("id_b")).unionByName(dd).distinct()
    // corpus ids already in the delta are excluded from the payload side
    // (replay overlap would otherwise double every fetch-join row) via a
    // broadcastable anti join — a no-op under the disjoint-id contract,
    // and never a corpus-wide shuffle
    val payloads = corpusPayload.select(col(idCol), col(payCol))
      .join(delta.select(col(idCol)), Seq(idCol), "left_anti")
      .unionByName(delta.select(col(idCol), col(payCol)))
    val a = payloads.select(col(idCol).as("id_a"), col(payCol).as(s"${alias}a"))
    val b = payloads.select(col(idCol).as("id_b"), col(payCol).as(s"${alias}b"))
    cands.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        score(col(s"${alias}a"), col(s"${alias}b")).as(scoreName))
      .filter(col(scoreName) >= threshold)
  }

  /** Jaccard-verified LSH candidate pairs: the production near-dup edge
    * generator. MinHash band buckets propose candidates ([[minhashSignatures]]
    * → [[lshCandidatePairs]]); exact word-set Jaccard verifies each, killing
    * LSH false positives. Only candidate pairs are ever compared — never
    * all pairs — so the verify cost is ∝ collisions, not corpus².
    */
  def lshVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double, shingleN: Int = 3, k: Int = 8,
                       bands: Int = 4): DataFrame = {
    val sigs = minhashSignatures(docs, idCol, textCol, shingleN, k, bands)
    val cands = lshCandidatePairs(sigs, idCol)
    val a = docs.select(col(idCol).as("id_a"), col(textCol).as("__ta"))
    val b = docs.select(col(idCol).as("id_b"), col(textCol).as("__tb"))
    cands.join(a, "id_a").join(b, "id_b")
      .filter(wordJaccard(col("__ta"), col("__tb")) >= threshold)
      .select("id_a", "id_b")
  }

  /** Full near-dup clustering: MinHash+LSH candidates → Jaccard verify →
    * connected components, with every doc assigned a cluster (singletons
    * label themselves). This is the end-to-end dedup path a training-data
    * pipeline runs at scale; [[dupClusters]] resolves the verified edge
    * list.
    */
  def lshDedupClusters(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double, shingleN: Int = 3, k: Int = 8,
                       bands: Int = 4): DataFrame = {
    val verified = lshVerifiedPairs(docs, idCol, textCol, threshold, shingleN, k, bands)
    val clustered = dupClusters(verified)
    docs.select(col(idCol).as("id"))
      .join(clustered, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** Hyperplane count sized to a corpus of `n` vectors: ceil(log2 n)+2
    * (never below `floor`, capped at the bucket expression's 30-bit
    * width). Keeps expected bucket collisions per vector per band ≤ 1/4,
    * so banded-LSH candidate volume stays LINEAR in n — the r5 scale
    * probe measured fixed planes going quadratic (247 s at 1.6M vectors
    * vs 10 s at 400k). One formula, shared by the batch near-dup path
    * and the ingest gate's seed-time sizing.
    */
  def autoPlanes(n: Long, floor: Int): Int = math.min(30,
    math.max(floor, math.ceil(math.log(math.max(2L, n).toDouble) / math.log(2)).toInt + 2))

  /** Banded hyperplane-LSH bucket index of an embedding corpus: one
    * (id, band, bucket) row per band per vector — the persistable ANN
    * near-dup artifact, the embedding analog of [[lshIndex]]. Computed
    * map-side by the codegen'd `hyperplane_bucket_band` expression (a few
    * dozen bytes per vector, no shuffle); maintained row-keyed under CDC
    * exactly like the text index.
    */
  def embeddingIndex(embs: DataFrame, idCol: String, vecCol: String,
                     planes: Int = 18, bands: Int = 8): DataFrame = {
    import graft.functions.vectors
    embs.select(col(idCol).as("id"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            vectors.hyperplane_bucket_band(col(vecCol), planes, b).as("bucket"))): _*))
          .as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Axis-sign cell geometry shared by every cellMode path and its
    * DuckDB oracles: 4 bands × 16 dims = the full 64-dim fixture, 2^16
    * buckets per band. Unlike the production hyperplane index — whose
    * per-band bucket space is 2^planes with planes auto-sized to
    * log2(corpus) — the cell index is capped by the vector's physical
    * dimension, so the bucket count must be spent up front: the original
    * 6×10 split (1024 buckets/band) put ~390 vectors per bucket on the
    * 400k-vector bench corpus ⇒ ~470M candidate pairs, which thrashed
    * the GC locker shuffling through the pair groupBy. 16 dims/band
    * keeps in-bucket occupancy ~6 at that scale (≈5M candidates).
    * Recall cost under the ±0.0125 planted perturbation: a dim flips
    * sign with p≈2%, a band survives with 0.98^16≈0.72, a pair is
    * missed entirely with (1−0.72)^4 ≈ 0.6% — deterministic for the
    * md5-planted fixture, and the oracle replays the identical geometry
    * so cross-engine agreement is unaffected.
    */
  val CellBands = 4
  val CellDims = 16

  /** DETERMINISTIC banded cell index — the DuckDB-replayable twin of
    * [[embeddingIndex]]: band b's bucket is the SIGN PATTERN of dims
    * [b·dimsPerBand, (b+1)·dimsPerBand) — an axis-aligned hyperplane
    * family, exact under any float widening (sign survives REAL→DOUBLE),
    * so an oracle can recompute the buckets bit-for-bit where the
    * xxhash64-derived hyperplanes of the production index cannot be
    * expressed in SQL. Same (id, band, bucket:int) schema, so the whole
    * [[incrementalEmbeddingPairs]] probe path and the streaming gate's
    * state layout are reusable unchanged — the `dedup_semantic_md5`
    * discipline applied to the index. Recall is governed by the planted
    * perturbation (a ±ε shadow flips a band only when a dim sits within
    * ε of zero); production stays on the hyperplane index.
    */
  /** One (band, bucket) struct per band: band b's bucket is the sign
    * pattern of dims [b·dimsPerBand, (b+1)·dimsPerBand).
    */
  private def axisCellBands(vecCol: String, bands: Int, dimsPerBand: Int): Column =
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        (0 until dimsPerBand).map(j =>
          when(element_at(col(vecCol), b * dimsPerBand + j + 1) >= 0,
            lit(1 << j)).otherwise(lit(0))).reduce(_ + _).as("bucket"))): _*)

  def axisCellIndex(embs: DataFrame, idCol: String, vecCol: String,
                    bands: Int = CellBands, dimsPerBand: Int = CellDims): DataFrame =
    embs.select(col(idCol).as("id"),
        explode(axisCellBands(vecCol, bands, dimsPerBand)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

  /** Batch near-dup over the DETERMINISTIC cell index: candidates where
    * ANY band's axis-sign bucket agrees, exact cosine ≥ `threshold`
    * verifies. Output (id_a, id_b, n_bands) with n_bands the number of
    * agreeing bands — an integer both engines compute identically, so
    * the whole path (index → candidate join → verify) is cross-engine
    * checkable; the cosine VALUE stays out of the output (float vs
    * double accumulation differs in the last decimals, membership never
    * does when the corpus plants a wide margin). The oracle twin of
    * [[embeddingNearDups]]; same two-shuffle shape (one candidate
    * groupBy, one by-id vector fetch), candidate volume n²·bands/2^dims
    * per band — linear once dimsPerBand tracks log2(n) like `planes`
    * does in the production path.
    */
  def axisCellNearDups(embs: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, bands: Int = CellBands,
                       dimsPerBand: Int = CellDims): DataFrame = {
    import graft.functions.vectors
    val base = embs.select(col(idCol).as("id"), col(vecCol).as("__v"),
      vectors.float_norm(col(vecCol)).as("__n"))
    // the index rows CARRY the vector+norm so the cosine verify runs
    // INLINE in the band join: with only 2^dimsPerBand buckets per band
    // the candidate volume is n²·bands/2^(dimsPerBand+1) — ~470M rows on
    // the 400k-vector bench corpus — and the previous
    // candidates→groupBy→fetch-vectors-by-id shape shuffled all of them
    // three times (GC-locker thrash, failed 64 MB page allocations).
    // Filtering in the join stage pipelines the explosion: nothing past
    // the join survives but true near-dups. A pair's cosine is identical
    // on every agreeing band row, so filter-then-count ≡ the old
    // count-then-filter — n_bands and membership are bit-identical.
    val idx = base.select(col("id"), col("__v"), col("__n"),
        explode(axisCellBands("__v", bands, dimsPerBand)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col("__v"), col("__n"))
    val hits = idx.as("a")
      .join(idx.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .filter(vectors.float_dot(col("a.__v"), col("b.__v")) /
        (col("a.__n") * col("b.__n")) >= threshold)
    // one row per (pair, band) — a band contributes at most one bucket,
    // so count(1) IS the band-collision count
    hits.groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_bands"))
      .select(col("id_a"), col("id_b"), col("n_bands"))
  }

  /** Incremental embedding near-dup: cosine-verified pairs touching a
    * DELTA of newly-ingested vectors, probing a pre-built corpus
    * [[embeddingIndex]] — the ANN analog of [[incrementalVerifiedPairs]],
    * with (band, bucket) as the collision key and exact cosine as the
    * verifier. `deltaIndex` is the delta sketched by the caller in the
    * corpus index's geometry (hyperplane or axis-cell) and is broadcast:
    * the delta is a trigger-bounded micro-batch, so the corpus index is
    * scanned but never shuffled. Candidates are delta×index plus
    * delta×delta band-bucket joins; vectors are fetched by id for
    * candidates only. Per-ingest cost ∝ delta size + bucket collisions —
    * independent of corpus size except the keyed vector-fetch join.
    * Contract: corpus and delta id sets are disjoint; replay overlap is
    * tolerated identically to the text form (self-pair drop + anti-join).
    * Output: (id_a, id_b, cosine) with id_a < id_b, cosine >= threshold.
    */
  def incrementalEmbeddingPairs(corpusIndex: DataFrame, corpusVecs: DataFrame,
                                delta: DataFrame, deltaIndex: DataFrame,
                                idCol: String, vecCol: String,
                                threshold: Double): DataFrame = {
    import graft.functions.vectors
    probePairs(corpusIndex, corpusVecs, delta, broadcast(deltaIndex), Seq("band", "bucket"),
      idCol, vecCol, "__v", "cosine",
      (va, vb) => round(vectors.float_dot(va, vb) /
        (vectors.float_norm(va) * vectors.float_norm(vb)), 6),
      threshold)
  }

  /** Embedding near-dup: pairs with cosine above `threshold`, via BANDED
    * hyperplane LSH — `bands` independent hyperplane families of `planes`
    * planes each; a pair is a candidate when ANY band agrees on the
    * bucket, then exact cosine verifies.
    *
    * Both knobs matter at scale. `planes` bounds bucket size (2^planes
    * buckets per band: within-bucket self-join cost is Σ n_b², so at n
    * vectors expect n²/2^planes candidate pairs per band — a single
    * 16-bucket table at 200k vectors was a 10^9-pair quadratic blow-up),
    * and is therefore AUTO-SIZED to ceil(log2 n)+2 when the passed value
    * is smaller, keeping candidate volume linear in n at any corpus size
    * (the r5 4× scale probe caught the fixed-planes form going 25× at 4×
    * data). `bands` buys back the recall that long signatures destroy:
    * P(candidate) = 1-(1-p^planes)^bands for per-plane agreement
    * p = 1 - θ/π. The bucket join carries only (id, band, bucket) —
    * vectors are fetched by id AFTER candidate dedup, so the wide rows
    * never ride the candidate shuffle.
    */
  def embeddingNearDups(embs: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, planes: Int = 16, bands: Int = 8,
                        knownN: Long = -1L): DataFrame = {
    import graft.functions.vectors
    // ONE narrow (id, vec, norm) projection feeds all three consumers —
    // the bucket index and both by-id vector fetches. The plan still has
    // three branches, but any expensive expression upstream of `embs`
    // (e.g. a synthetic perturbation) appears once, norm is computed in
    // one place, and a caller that persists its input pays the upstream
    // work exactly once across the branches.
    val base = embs.select(col(idCol).as("id"), col(vecCol).as("__v"),
      vectors.float_norm(col(vecCol)).as("__n"))
    // `planes` must TRACK the corpus: with 2^planes buckets fixed,
    // candidate volume is n²·bands/2^planes — quadratic the moment n
    // outgrows the table. The 4× scale probe measured exactly that:
    // 247 s at 1.6M vectors with planes=18 vs 10 s at 400k. Growing
    // planes to ceil(log2 n)+2 caps expected collisions per vector per
    // band at 1/4, so candidate volume stays LINEAR in n; the per-plane
    // recall loss is bought back by `bands` (1-(1-p^planes)^bands ≈
    // 0.998 at cos 0.996 even at planes 24). Sizing needs n, and the
    // count is a full pass over an unpersisted input's upstream plan —
    // an eager 2× surprise for plan-builder callers — so a caller that
    // already knows n passes `knownN` and no counting job runs; the
    // max() inside autoPlanes keeps explicit `planes` settings binding.
    val n = if (knownN >= 0) knownN else base.count()
    val effPlanes = autoPlanes(n, planes)
    val idx = base.select(col("id"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            vectors.hyperplane_bucket_band(col("__v"), effPlanes, b).as("bucket"))): _*))
          .as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val cands = idx.as("a")
      .join(idx.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val va = base.select(col("id").as("id_a"), col("__v").as("__va"), col("__n").as("__na"))
    val vb = base.select(col("id").as("id_b"), col("__v").as("__vb"), col("__n").as("__nb"))
    cands.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"),
        round(vectors.float_dot(col("__va"), col("__vb")) /
          (col("__na") * col("__nb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
